"""The catalog workloads and the DuckDB oracle check.

``batch`` runs read-only catalog entries (relational, Arrow/Python
pipeline and one streaming drain) in a seed-permuted order.
``artifact_lifecycle`` runs the graph artifact entries in a fixed order
from an empty artifact root: the edge-list and wedge-census writes
beside the reads that probe what they wrote.  Every op is
built, then collected with ``toPandas`` (the same fetch the repo's
correctness gate uses), and checked afterwards against its ``ORACLES``
SQL on DuckDB over the same tables.
"""

from __future__ import annotations

import random
import time

# Both lists are cut to what one cold pass can run inside the time a
# run gets (see README.md): first-use codegen in a fresh JVM makes a pass
# over the full lists take ~50 s each at sf0.01 on 4 cores.
BATCH = [
    # relational
    "q1_pricing_summary", "q3_shipping_priority", "q5_local_supplier_volume",
    "q18_large_volume", "pivot_linestatus", "join_full_outer", "events_sessionize",
    # Arrow / Python pipeline
    "text_quality", "tokenize_vocab_ids", "dedup_minhash_lsh",
    # streaming drain
    "events_ewma_streamed",
]
# fixed order: a read's cost depends on what was written before it
LIFECYCLE = [
    ("graph_edges_persist", "write"),
    ("graph_wedges_persist", "write"),
    ("graph_jaccard_links", "read"),
    ("graph_ra_links_capped", "read"),
    ("graph_triangle_counts", "read"),
]


def op_order(workload: str, seed: int) -> list[tuple[str, str]]:
    if workload == "batch":
        names = list(BATCH)
        random.Random(seed).shuffle(names)
        return [(n, "read") for n in names]
    return list(LIFECYCLE)


def run_op(spark, tracer, name: str, data_dir: str) -> tuple[float, tuple]:
    """Build, (plan,) execute one catalog entry; returns (seconds, output)."""
    from warp_spark.catalog import QUERIES

    t0 = time.perf_counter()
    with tracer.op(name):
        with tracer.phase("catalog.build"):
            df = QUERIES[name](spark, data_dir)
        if tracer.enabled:
            with tracer.phase("plan"):
                df._jdf.queryExecution().executedPlan()
        with tracer.phase("exec"):
            pdf = df.toPandas()
    return time.perf_counter() - t0, (list(df.columns), pdf)


def pandas_rows(pdf) -> list[tuple]:
    from tools.check_correctness import from_pandas

    return [tuple(from_pandas(v) for v in row) for row in pdf.itertuples(index=False, name=None)]


def duckdb_connect(data_dir: str):
    import duckdb

    from tools.check_correctness import TABLES

    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{data_dir}/{t}.parquet')")
    return con


def oracle_rows(con, sql: str) -> tuple[list, list]:
    """DuckDB result fetched the way the correctness gate fetches it:
    pandas ``.df()``, DATE columns collapsed back to ``date``."""
    res = con.sql(sql)
    cols = list(res.columns)
    odf = res.df()
    for col, typ in zip(cols, res.types):
        if str(typ) == "DATE" and odf[col].dtype.kind == "M":
            odf[col] = odf[col].dt.date
    return cols, pandas_rows(odf)


def same(spark_cols, spark_rows, oracle_cols, oracle_rows_) -> bool:
    from tools.check_correctness import normalize_rows

    return normalize_rows(spark_cols, spark_rows) == normalize_rows(oracle_cols, oracle_rows_)


def check_catalog(con, outputs: list[tuple[str, list, object]]) -> list[dict]:
    """One failure record per op whose output differs from its oracle."""
    from warp_spark.catalog import ORACLES

    bad = []
    for name, cols, pdf in outputs:
        try:
            ocols, orows = oracle_rows(con, ORACLES[name])
        except Exception as e:
            bad.append({"op": name, "error": "duckdb: " + repr(e)[:300]})
            continue
        if not same(cols, pandas_rows(pdf), ocols, orows):
            bad.append({"op": name, "error": "output mismatch"})
    return bad
