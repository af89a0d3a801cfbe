"""The per-session parquet schema memo (warp_spark/session.py:
read_parquet).  Forced-reference twins: every memoised read is compared
with a plain ``spark.read.parquet`` of the same path (schema names,
types, nullability and field metadata, then rows).  Then the fixed
cost it removes (0 Spark jobs on a repeated read or chain preview), its
invalidation (in-place rewrite, conf change), and its observability
(job description of the inference job, hit/miss counter)."""

import contextlib
import os
import shutil
import subprocess
import sys
import uuid

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql import types as T

from warp_spark.session import SCHEMA_MEMO_COUNTS, TABLES, read_parquet

SF = "/root/testdata/sf0.001"
NANOS = "spark.sql.legacy.parquet.nanosAsLong"


@contextlib.contextmanager
def _conf(spark, key, value):
    old = spark.conf.get(key, None)
    spark.conf.set(key, value)
    try:
        yield
    finally:
        if old is None:
            spark.conf.unset(key)
        else:
            spark.conf.set(key, old)


def _fields(df):
    return [(f.name, f.dataType, f.nullable, f.metadata) for f in df.schema.fields]


def _rows(df):
    return sorted(map(repr, df.collect()))


def _assert_twin(spark, path):
    """A memo HIT of ``path`` reads what a plain read does."""
    plain = spark.read.parquet(path)
    read_parquet(spark, path)  # a miss at most: the memo now holds path
    hits = SCHEMA_MEMO_COUNTS["hit"]
    memo = read_parquet(spark, path)
    assert SCHEMA_MEMO_COUNTS["hit"] == hits + 1
    assert _fields(memo) == _fields(plain)
    assert _rows(memo) == _rows(plain)
    return memo


def _fresh_copy(tmp_path, table):
    """A copy of ``table`` at a path no earlier read has memoised."""
    dst = str(tmp_path / f"{table}_{uuid.uuid4().hex[:8]}.parquet")
    shutil.copy(f"{SF}/{table}.parquet", dst)
    return dst


def _jobs_in_group(spark, group, fn):
    sc = spark.sparkContext
    sc.setJobGroup(group, group, False)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    return out, sc.statusTracker().getJobIdsForGroup(group)


@pytest.mark.parametrize("table", TABLES)
def test_twin_memoised_read_equals_plain_read(spark, table):
    _assert_twin(spark, f"{SF}/{table}.parquet")


@pytest.mark.parametrize("nanos_as_long", ["true", "false"])
def test_twin_events_under_nanos_as_long(spark, tmp_path, nanos_as_long):
    """The events table and a TIMESTAMP(NANOS) file under either value
    of nanosAsLong; with it off the nanos file fails to infer, and the
    failure is raised as before and never memoised."""
    nanos = str(tmp_path / "nanos.parquet")
    pq.write_table(
        pa.table({"ts": pa.array([3, 1, 2], pa.timestamp("ns")), "x": [1, 2, 3]}),
        nanos,
    )
    with _conf(spark, NANOS, nanos_as_long):
        _assert_twin(spark, f"{SF}/events.parquet")
        if nanos_as_long == "true":
            memo = _assert_twin(spark, nanos)
            assert memo.schema["ts"].dataType == T.LongType()
            return
        with pytest.raises(Exception) as plain_err:
            spark.read.parquet(nanos)
        counts = dict(SCHEMA_MEMO_COUNTS)
        for _ in range(2):
            with pytest.raises(type(plain_err.value)):
                read_parquet(spark, nanos)
        assert dict(SCHEMA_MEMO_COUNTS) == counts


def test_twin_empty_table(spark, tmp_path):
    path = str(tmp_path / "empty")
    spark.createDataFrame([], "a long, b string, c array<double>").write.parquet(path)
    memo = _assert_twin(spark, path)
    assert memo.count() == 0


def test_twin_partitioned_directory_follows_a_new_partition(spark, tmp_path):
    """A partitionBy tree: the partition column comes back with the
    plain read's inferred type, and a new partition directory whose
    value changes that type is seen by the next read."""
    path = str(tmp_path / "hive")
    spark.createDataFrame(
        [(i, i % 3, f"v{i}") for i in range(12)], "id long, k int, s string"
    ).write.partitionBy("k").parquet(path)
    memo = _assert_twin(spark, path)
    assert memo.schema["k"].dataType == T.IntegerType()
    spark.createDataFrame([(99, "x", "w")], "id long, k string, s string").write.mode(
        "append"
    ).partitionBy("k").parquet(path)
    memo = _assert_twin(spark, path)
    assert memo.schema["k"].dataType == T.StringType()


def test_twin_ivfpq_codes_tree_through_append_and_delete(spark, tmp_path):
    """The IVF-PQ ``codes`` tree (partitioned by centroid_id) stays
    twin-equal through an append and the delete that inverts it, and
    delete(append(build(B), S), S) still equals build(B) byte-for-byte."""
    import random

    from warp_spark.pipeline.similarity import (
        append_ivfpq_index,
        delete_from_ivfpq_index,
        persist_ivfpq_index,
    )

    rng = random.Random(5)
    emb = spark.createDataFrame(
        [(i, [rng.uniform(-1, 1) for _ in range(8)]) for i in range(30)],
        "vec_id long, embedding array<float>",
    )
    base, slice_ = emb.filter("vec_id < 22"), emb.filter("vec_id >= 22")
    p_del, p_ref = str(tmp_path / "del"), str(tmp_path / "ref")
    persist_ivfpq_index(base, p_del, n_centroids=3, m=2, n_codes=4)
    _assert_twin(spark, f"{p_del}/codes")
    append_ivfpq_index(spark, p_del, slice_)
    assert read_parquet(spark, f"{p_del}/codes").count() == 30
    _assert_twin(spark, f"{p_del}/codes")
    assert delete_from_ivfpq_index(spark, p_del, slice_) is True
    _assert_twin(spark, f"{p_del}/codes")
    persist_ivfpq_index(base, p_ref, n_centroids=3, m=2, n_codes=4)
    for sub in ("codes", "storage", "centroids", "codebooks"):
        a = _rows(read_parquet(spark, f"{p_del}/{sub}"))
        b = _rows(spark.read.parquet(f"{p_ref}/{sub}"))
        assert a == b and len(a) > 0, sub


def test_missing_or_empty_path_raises_the_plain_exception_class(spark, tmp_path):
    empty_dir = str(tmp_path / "nothing.parquet")
    os.makedirs(empty_dir)
    for path in (
        str(tmp_path / "missing.parquet"),
        "file://" + str(tmp_path / "missing.parquet"),
        empty_dir,
    ):
        with pytest.raises(Exception) as plain_err:
            spark.read.parquet(path)
        plain = SCHEMA_MEMO_COUNTS["plain"]
        with pytest.raises(type(plain_err.value)):
            read_parquet(spark, path)
        assert SCHEMA_MEMO_COUNTS["plain"] == plain + 1, path


def test_second_read_runs_no_job_and_the_miss_is_labelled(spark, tmp_path):
    """A miss runs one inference job labelled ``parquet.schema:<path>``
    inside the caller's job group and restores the caller's
    description; the hit that follows runs no job at all."""
    path = _fresh_copy(tmp_path, "orders")
    sc = spark.sparkContext
    counts = dict(SCHEMA_MEMO_COUNTS)
    tag = uuid.uuid4().hex[:8]

    def read_and_see_description():
        df = read_parquet(spark, path)
        return df, sc.getLocalProperty("spark.job.description")

    (_, desc), miss_jobs = _jobs_in_group(spark, f"miss-{tag}", read_and_see_description)
    assert desc == f"miss-{tag}"  # the caller's description is back
    assert len(miss_jobs) >= 1
    jsc = sc._jsc.sc()
    jsc.listenerBus().waitUntilEmpty()
    for j in miss_jobs:
        info = jsc.statusStore().job(j)
        assert info.description().get() == f"parquet.schema:{path}"
        assert info.jobGroup().get() == f"miss-{tag}"
    (_, _), hit_jobs = _jobs_in_group(spark, f"hit-{tag}", read_and_see_description)
    assert hit_jobs == []
    assert SCHEMA_MEMO_COUNTS["miss"] == counts.get("miss", 0) + 1
    assert SCHEMA_MEMO_COUNTS["hit"] == counts.get("hit", 0) + 1


def test_repeated_chain_preview_runs_no_job(spark, tmp_path):
    """Building the same example chain twice: the second build starts
    no Spark job, for a two-source chain as for one."""
    from warp_spark.plans import Chain

    orders = _fresh_copy(tmp_path, "orders")
    customer = _fresh_copy(tmp_path, "customer")
    steps = (
        Chain()
        .add("source", path=orders)
        .add("filter", condition="=[o_totalprice] > 1000")
        .add("calculate", calculations={"k": "=[o_totalprice] / 1k"})
        .add(
            "join",
            chain=Chain().add("source", path=customer).steps,
            on="o_custkey = c_custkey",
        )
        .add("sort", orders=["o_orderkey"])
    ).steps
    tag = uuid.uuid4().hex[:8]

    def build():
        return Chain(steps).example_dataset(spark, 2000).to_df()

    first, first_jobs = _jobs_in_group(spark, f"chain1-{tag}", build)
    second, second_jobs = _jobs_in_group(spark, f"chain2-{tag}", build)
    assert len(first_jobs) >= 2  # one inference per source
    assert second_jobs == []
    assert _rows(second) == _rows(first)


def test_in_place_part_file_rewrite_is_seen(spark, tmp_path):
    """Overwriting a part file in place with a different schema, at the
    same file path, makes the next read infer the new schema."""
    path = str(tmp_path / "rewritten")
    spark.createDataFrame([(1, 2.0)], "a long, b double").coalesce(1).write.parquet(path)
    assert read_parquet(spark, path).columns == ["a", "b"]
    part = [n for n in os.listdir(path) if n.endswith(".parquet")]
    assert len(part) == 1
    # the Hadoop checksum sidecar would flag the rewrite as corruption
    os.remove(os.path.join(path, f".{part[0]}.crc"))
    pq.write_table(
        pa.table({"a": [7, 8], "c": ["x", "y"], "d": [True, False]}),
        os.path.join(path, part[0]),
    )
    misses = SCHEMA_MEMO_COUNTS["miss"]
    memo = _assert_twin(spark, path)
    assert SCHEMA_MEMO_COUNTS["miss"] == misses + 1
    assert memo.columns == ["a", "c", "d"]


def test_changing_a_keyed_conf_reinfers(spark, tmp_path):
    path = str(tmp_path / "blob.parquet")
    pq.write_table(pa.table({"b": pa.array([b"ab", b"cd"], pa.binary())}), path)
    key = "spark.sql.parquet.binaryAsString"
    counts = dict(SCHEMA_MEMO_COUNTS)
    with _conf(spark, key, "false"):
        assert _assert_twin(spark, path).schema["b"].dataType == T.BinaryType()
    with _conf(spark, key, "true"):
        assert _assert_twin(spark, path).schema["b"].dataType == T.StringType()
    with _conf(spark, key, "false"):
        assert read_parquet(spark, path).schema["b"].dataType == T.BinaryType()
    # one inference per conf value; every other read is a hit
    assert SCHEMA_MEMO_COUNTS["miss"] == counts.get("miss", 0) + 2
    assert SCHEMA_MEMO_COUNTS["hit"] == counts.get("hit", 0) + 3


def test_twins_hold_under_python_O():
    """The memo's guards are plain code, not asserts: the twin tests
    pass in a ``python -O`` interpreter too."""
    env = dict(os.environ, WARP_SPARK_DRIVER_MEM="2g")
    out = subprocess.run(
        [
            sys.executable,
            "-O",
            "-m",
            "pytest",
            __file__,
            "-q",
            "-p",
            "no:cacheprovider",
            "-k",
            "twin and not python_O or missing or rewrite",
        ],
        capture_output=True,
        text=True,
        env=env,
        cwd=os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        timeout=600,
    )
    assert out.returncode == 0, out.stdout[-3000:]
    assert " passed" in out.stdout and "failed" not in out.stdout
