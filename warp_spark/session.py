"""SparkSession factory with scale-aware defaults.

Local testing runs on ``local[$SPARK_GRAFT_CPUS]`` (single JVM); the same
configuration (AQE, UTC session timezone, Arrow, tuned shuffle
partitions) is what we would ship to a 1000-executor cluster — only
``master`` and memory sizing change.
"""

from __future__ import annotations

import collections
import os
import urllib.parse
import weakref

from pyspark.sql import DataFrame, SparkSession

from warp_spark.artifacts import source_stat_sig


def get_spark(
    app_name: str = "warp-spark",
    cpus: str | int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession.

    Defaults follow the deployment contract:
      - AQE on (runtime re-planning, skew-join handling, partition
        coalescing) — at 100 TB this is what fixes skewed shuffles.
      - UTC session timezone (oracle comparisons, Warp date semantics:
        reference stores dates as seconds since 2001-01-01 UTC,
        WarpCore/Sources/Value.swift:43-45).
      - Arrow enabled for any pandas-UDF path.
      - shuffle partitions sized to the local core count rather than the
        200 default; on a real cluster AQE coalesces as needed.
    """
    cpus = cpus if cpus is not None else os.environ.get("SPARK_GRAFT_CPUS", "*")
    if shuffle_partitions is None:
        try:
            shuffle_partitions = max(int(cpus), 8)
        except (TypeError, ValueError):
            shuffle_partitions = max((os.cpu_count() or 8) * 2, 8)

    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.driver.memory", os.environ.get("WARP_SPARK_DRIVER_MEM", "16g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.caseSensitive", "false")
        # the events table carries TIMESTAMP(NANOS) parquet columns,
        # which Spark only reads as long (see events_df for conversion)
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


def load_tables(spark: SparkSession, sf_dir: str) -> dict:
    """Load the driver's synthetic star schema as DataFrames (TESTDATA.md)."""
    return {t: read_parquet(spark, f"{sf_dir}/{t}.parquet") for t in TABLES}


# the session confs that change what parquet schema inference returns
_INFERENCE_CONFS = (
    "spark.sql.legacy.parquet.nanosAsLong",
    "spark.sql.parquet.binaryAsString",
    "spark.sql.parquet.int96AsTimestamp",
    "spark.sql.parquet.inferTimestampNTZ.enabled",
    "spark.sql.parquet.mergeSchema",
    "spark.sql.caseSensitive",
    "spark.sql.sources.partitionColumnTypeInference.enabled",
)

# session -> {(absolute path, conf values): (stat signature, StructType)}
_SCHEMA_MEMO = weakref.WeakKeyDictionary()

# in-process tally of read_parquet outcomes: "hit", "miss", "plain"
SCHEMA_MEMO_COUNTS = collections.Counter()


def _local_abspath(path) -> str | None:
    """``path`` as an absolute local path, or None for a URI (any
    scheme), a glob pattern or anything that is not one path string."""
    if not isinstance(path, str) or any(c in path for c in "*?[]{}"):
        return None
    if urllib.parse.urlsplit(path).scheme:
        return None
    return os.path.abspath(path)


def _lists_a_parquet_file(local: str, sig: tuple) -> bool:
    """True iff ``sig`` names at least one existing ``.parquet`` file
    (a directory with no part files is listed as itself)."""
    return any(
        mtime >= 0 and f.endswith(".parquet") and (f != local or os.path.isfile(f))
        for f, mtime, _ in sig
    )


def read_parquet(spark: SparkSession, path: str) -> DataFrame:
    """``spark.read.parquet(path)``, with the inferred schema memoised
    per session so a repeated read runs no schema-inference job.

    Plain ``spark.read.parquet`` launches one Spark job per call to read
    parquet footers.  Here the first read of a path infers as usual and
    keeps the ``StructType``; later reads are
    ``spark.read.schema(memo).parquet(path)``, which lists the files on
    the driver and runs no job.  The memo holds schemas only: no
    DataFrame, plan or data.

    Memo key.  The SparkSession (weakly held, so a stopped session's
    entries go with it), the absolute local path, and the session's
    current values of the confs that change inference
    (:data:`_INFERENCE_CONFS`: nanosAsLong, binaryAsString,
    int96AsTimestamp, inferTimestampNTZ, mergeSchema, caseSensitive,
    partition column type inference).  A conf change is a different
    key, so it re-infers.

    Invalidation.  Each entry carries
    :func:`warp_spark.artifacts.source_stat_sig` of the path, taken
    BEFORE inference: (file, mtime_ns, size) of every ``*.parquet``
    file under it.  A read whose signature differs re-infers and
    replaces the entry, so an in-place part-file rewrite, an added or
    removed partition directory and an artifact swap are all seen.  Not
    seen: a rewrite that keeps a file's size and lands in the same
    mtime tick, and changes to files whose names do not end in
    ``.parquet``.

    Plain reads.  A URI (``file:`` included), a glob pattern, or a
    path whose signature lists no existing ``.parquet`` file (missing
    path, empty directory) goes to ``spark.read.parquet`` unchanged, so
    a missing path raises exactly what it raised before.  A failed
    inference is never memoised.

    A miss runs its inference job under the job description
    ``parquet.schema:<path>`` and restores the caller's description
    afterwards; the job group is left alone.  A relative path is read
    at its absolute path (resolved against the Python working
    directory).  :data:`SCHEMA_MEMO_COUNTS` counts hits, misses and
    plain reads."""
    local = _local_abspath(path)
    sig = source_stat_sig(local) if local is not None else None
    if sig is None or not _lists_a_parquet_file(local, sig):
        SCHEMA_MEMO_COUNTS["plain"] += 1
        return spark.read.parquet(path)
    key = (local, tuple(spark.conf.get(k, None) for k in _INFERENCE_CONFS))
    memo = _SCHEMA_MEMO.setdefault(spark, {})
    cached = memo.get(key)
    if cached is not None and cached[0] == sig:
        SCHEMA_MEMO_COUNTS["hit"] += 1
        return spark.read.schema(cached[1]).parquet(local)
    sc = spark.sparkContext
    caller_desc = sc.getLocalProperty("spark.job.description")
    sc.setJobDescription(f"parquet.schema:{local}")
    try:
        df = spark.read.parquet(local)
    finally:
        sc.setLocalProperty("spark.job.description", caller_desc)
    memo[key] = (sig, df.schema)
    SCHEMA_MEMO_COUNTS["miss"] += 1
    return df
