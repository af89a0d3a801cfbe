#!/usr/bin/env python3
"""Check the generated inputs against a set of reference tables.

    python3 perfbench/compare_inputs.py REFERENCE_DIR --sf 0.01

Generates the tables at ``--sf`` with the benchmark's data seed and
compares them, table by table, with the parquet files in REFERENCE_DIR
(the layout of TESTDATA.md).  Exact: row counts, row-group counts, the
Arrow schema and each column's parquet physical and logical type (so a
timestamp's unit too).  Within TOL: each column's distinct count, mean
string length and numeric mean, and min/max on tables of at least
MINMAX_ROWS rows (below that they are sample extremes), the numeric
ones as a share of the reference range; and how clustered the
embeddings are (mean norm of the per-label centroids).  Prints every difference; exits 1 if there is one.
"""

from __future__ import annotations

import argparse
import os
import shutil
import sys

import numpy as np
import pyarrow.compute as pc
import pyarrow.parquet as pq

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))

from perfbench import datagen  # noqa: E402
from perfbench.run import DATA_SEED  # noqa: E402

TOL = 0.1
MINMAX_ROWS = 5000


def _types(path: str) -> list[tuple]:
    s = pq.ParquetFile(path).schema
    return [(s.column(i).name, s.column(i).physical_type, str(s.column(i).logical_type))
            for i in range(len(s))]


def _stats(col, minmax: bool) -> dict:
    t = str(col.type)
    if t.startswith("list"):
        return {}
    out = {"ndv": float(len(pc.unique(col)))}
    if t == "string":
        out["len"] = float(pc.mean(pc.utf8_length(col)).as_py())
    else:
        v = col.to_numpy().astype(np.int64 if "timestamp" in t else np.float64)
        out["mean"] = float(v.mean())
        if minmax:
            out.update(min=float(v.min()), max=float(v.max()))
    return out


def _centroid_norm(table) -> float:
    v = np.array(table["embedding"].to_pylist())
    lab = table["label"].to_numpy()
    return float(np.mean([np.linalg.norm(v[lab == k].mean(0)) for k in np.unique(lab)]))


def compare(ref_dir: str, gen_dir: str) -> list[str]:
    diffs = []
    for name in sorted(f for f in os.listdir(ref_dir) if f.endswith(".parquet")):
        rp, gp = os.path.join(ref_dir, name), os.path.join(gen_dir, name)
        if not os.path.exists(gp):
            diffs.append(f"{name}: not generated")
            continue
        rf, gf = pq.ParquetFile(rp), pq.ParquetFile(gp)
        for what, r, g in (("rows", rf.metadata.num_rows, gf.metadata.num_rows),
                           ("row groups", rf.metadata.num_row_groups, gf.metadata.num_row_groups),
                           ("arrow schema", rf.schema_arrow.remove_metadata(),
                            gf.schema_arrow.remove_metadata()),
                           ("parquet types", _types(rp), _types(gp))):
            if r != g:
                diffs.append(f"{name}: {what} differ: reference {r} vs generated {g}")
        rt, gt = pq.read_table(rp), pq.read_table(gp)
        for c in rt.column_names:
            if c not in gt.column_names:
                continue
            rs, gs = _stats(rt[c], True), _stats(gt[c], rt.num_rows >= MINMAX_ROWS)
            scale = (rs["max"] - rs["min"]) or 1.0 if "max" in rs else None
            for k, g in gs.items():
                r = rs[k]
                denom = scale if k in ("min", "max", "mean") else max(abs(r), 1.0)
                if not abs(g - r) <= TOL * denom:
                    diffs.append(f"{name}.{c}: {k} reference {r:.4g} vs generated {g:.4g}")
        if name == "embeddings.parquet":
            r, g = _centroid_norm(rt), _centroid_norm(gt)
            if not abs(g - r) <= 0.5 * r:
                diffs.append(f"{name}: label centroid norm reference {r:.3f} vs generated {g:.3f}")
        print(f"{name:20s} rows {rf.metadata.num_rows:>8d}  checked", flush=True)
    return diffs


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("reference_dir")
    p.add_argument("--sf", type=float, required=True)
    a = p.parse_args(argv)
    gen_dir = os.path.join(HERE, ".runs", f"compare-{os.getpid()}")
    try:
        datagen.generate(gen_dir, a.sf, DATA_SEED)
        diffs = compare(a.reference_dir, gen_dir)
    finally:
        shutil.rmtree(gen_dir, ignore_errors=True)
    for d in diffs:
        print("DIFF  " + d)
    print(f"{len(diffs)} differences at sf{a.sf:g}")
    return 1 if diffs else 0


if __name__ == "__main__":
    sys.exit(main())
