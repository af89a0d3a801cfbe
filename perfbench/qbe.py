"""The query-by-example workload: seeded editing sessions over a chain.

Each session builds a 4-8 step chain one step at a time and previews
the whole chain after every edit, the way Warp's editor does:
``Chain.example_dataset(max_input_rows=PREVIEW_ROWS)`` plus ``collect()``.
Every chain has a DuckDB SQL twin built step for step, so every preview
is checked against the same query on DuckDB over the same truncated
sources.

The generator keeps each step exact on both engines (the discipline of
the repo's random differential tests): filters compare per-row values,
calculations are +, -, * on doubles or UPPER/LOWER/& on strings, sums
run only over integer-valued columns, and a limit only follows a sort
on a unique integer key, so it picks the same rows on both engines.
"""

from __future__ import annotations

import random
import time

PREVIEW_ROWS = 2000

STR, INT, NUM = "str", "int", "num"

# table -> {column: kind}; timestamps and free-text names are left out
TABLES = {
    "lineitem": {
        "l_orderkey": INT, "l_partkey": INT, "l_suppkey": INT, "l_linenumber": INT,
        "l_quantity": NUM, "l_extendedprice": NUM, "l_discount": NUM, "l_tax": NUM,
        "l_returnflag": STR, "l_linestatus": STR,
    },
    "orders": {
        "o_orderkey": INT, "o_custkey": INT, "o_totalprice": NUM,
        "o_orderstatus": STR, "o_orderpriority": STR,
    },
    "customer": {
        "c_custkey": INT, "c_nationkey": INT, "c_acctbal": NUM, "c_mktsegment": STR,
    },
    "part": {
        "p_partkey": INT, "p_size": INT, "p_retailprice": NUM, "p_brand": STR, "p_type": STR,
    },
    "supplier": {"s_suppkey": INT, "s_nationkey": INT, "s_acctbal": NUM},
    "nation": {"n_nationkey": INT, "n_regionkey": INT, "n_name": STR},
}
# source table -> [(partner table, join predicate)]
JOINS = {
    "lineitem": [("supplier", "l_suppkey = s_suppkey"), ("part", "l_partkey = p_partkey")],
    "orders": [("customer", "o_custkey = c_custkey")],
    "customer": [("nation", "c_nationkey = n_nationkey")],
    "part": [],
}
# low-cardinality grouping keys, and the known domain of pivotable ones
GROUP_KEYS = {
    "l_returnflag", "l_linestatus", "l_linenumber", "o_orderstatus", "o_orderpriority",
    "c_mktsegment", "c_nationkey", "p_type", "p_size", "s_nationkey", "n_regionkey",
}
PIVOT_DOMAIN = {
    "l_returnflag": ["A", "N", "R"],
    "l_linestatus": ["F", "O"],
    "o_orderstatus": ["F", "O", "P"],
    "p_type": ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"],
}
STR_VALUES = {
    **PIVOT_DOMAIN,
    "o_orderpriority": ["1-URGENT", "3-MEDIUM", "5-LOW"],
    "c_mktsegment": ["BUILDING", "MACHINERY"],
    "n_name": ["NATION_3", "NATION_7"],
}


class Session:
    """One editing session: the chain's steps, the columns it outputs and
    the DuckDB twin as a list of CTEs (one per step)."""

    def __init__(self, rng: random.Random, data_dir: str):
        self.rng = rng
        self.data_dir = data_dir
        self.steps: list[dict] = []
        self.ctes: list[str] = []
        self.cols: dict[str, str] = {}
        self.phase = "rows"  # rows -> grouped -> sorted -> limited
        self.sort_key: str | None = None
        self.joined = False
        self.n_calc = 0

    # -- twin helpers --------------------------------------------------------
    def _push(self, step: dict, select_sql: str) -> None:
        self.steps.append(step)
        self.ctes.append(select_sql)

    def sql(self) -> str:
        body = ",\n".join(f"s{i} AS ({q})" for i, q in enumerate(self.ctes))
        return f"WITH {body}\nSELECT * FROM s{len(self.ctes) - 1}"

    @property
    def prev(self) -> str:
        return f"s{len(self.ctes) - 1}"

    def _src_sql(self, table: str) -> str:
        return f"SELECT * FROM read_parquet('{self.data_dir}/{table}.parquet') LIMIT {PREVIEW_ROWS}"

    def _of(self, *kinds) -> list[str]:
        return sorted(c for c, k in self.cols.items() if k in kinds)

    # -- edits ---------------------------------------------------------------
    def source(self) -> None:
        table = self.rng.choice(sorted(JOINS))
        self.table = table
        self.cols = dict(TABLES[table])
        self._push(
            {"kind": "source", "path": f"{self.data_dir}/{table}.parquet"},
            self._src_sql(table),
        )

    def choices(self) -> list[str]:
        if self.phase == "rows":
            out = ["filter", "calculate", "calculate", "infer", "aggregate"]
            if not self.joined and JOINS[self.table]:
                out += ["join", "join"]
            if any(c in PIVOT_DOMAIN for c in self.cols):
                out.append("pivot")
            return out
        if self.phase == "grouped":
            return ["calculate", "filter", "sort", "sort"] if self.sort_key else ["calculate", "filter"]
        if self.phase == "sorted":
            return ["limit"]
        return ["calculate", "filter"]

    def filter(self) -> None:
        col = self.rng.choice(self._of(NUM, INT) + [c for c in self._of(STR) if c in STR_VALUES])
        if self.cols[col] == STR:
            lit = self.rng.choice(STR_VALUES[col])
            cond, sql = f'=[{col}] = "{lit}"', f"{col} = '{lit}'"
        else:
            op = self.rng.choice(["<", "<=", ">", ">="])
            v = self.rng.choice([0, 1, 2, 5, 10, 25, 100, 1000, 10000, 50000])
            cond, sql = f"=[{col}] {op} {v}", f"CAST({col} AS DOUBLE) {op} {v}"
        self._push({"kind": "filter", "condition": cond}, f"SELECT * FROM {self.prev} WHERE {sql}")

    def _new_col(self, kind: str) -> str:
        self.n_calc += 1
        name = f"calc{self.n_calc}"
        self.cols[name] = kind
        return name

    def calculate(self, formula: str | None = None, sql: str | None = None, kind: str = NUM) -> None:
        if formula is None:
            formula, sql, kind = self._random_formula()
        name = self._new_col(kind)
        self._push(
            {"kind": "calculate", "calculations": {name: formula}},
            f"SELECT *, {sql} AS {name} FROM {self.prev}",
        )

    def _random_formula(self) -> tuple[str, str, str]:
        nums = self._of(NUM, INT)
        strs = self._of(STR)
        if strs and (not nums or self.rng.random() < 0.3):
            s = self.rng.choice(strs)
            fn = self.rng.choice(["UPPER", "LOWER", "&"])
            if fn == "&":
                return f'=[{s}] & "-x"', f"{s} || '-x'", STR
            return f"={fn}([{s}])", f"{fn.lower()}({s})", STR
        a = self.rng.choice(nums)
        if self.rng.random() < 0.5 and len(nums) > 1:
            b = self.rng.choice([c for c in nums if c != a])
            op = self.rng.choice(["+", "-", "*"])
            return f"=[{a}] {op} [{b}]", f"CAST({a} AS DOUBLE) {op} CAST({b} AS DOUBLE)", NUM
        op = self.rng.choice(["+", "-", "*"])
        k = self.rng.choice([2, 3, 10, 100])
        return f"=[{a}] {op} {k}", f"CAST({a} AS DOUBLE) {op} {k}", NUM

    def infer_target(self, row: dict) -> tuple | None:
        """(target, example row, input column) for suggest_formulas, or
        None when the last preview had no row to learn from."""
        if not row:
            return None
        nums = [c for c in self._of(NUM, INT) if isinstance(row.get(c), (int, float))]
        strs = [c for c in self._of(STR) if isinstance(row.get(c), str)]
        if strs and (not nums or self.rng.random() < 0.3):
            s = self.rng.choice(strs)
            return row[s].lower(), {s: row[s]}, s
        if not nums:
            return None
        a = self.rng.choice(nums)
        others = [c for c in nums if c != a]
        example = {a: row[a]}
        if others and self.rng.random() < 0.5:
            b = self.rng.choice(others)
            example[b] = row[b]
            return float(row[a]) + float(row[b]), example, a
        return float(row[a]) * 2, example, a

    def aggregate(self) -> None:
        keys = [c for c in self._of(STR, INT) if c in GROUP_KEYS]
        if not keys:
            return self.calculate()
        groups = sorted(self.rng.sample(keys, min(len(keys), self.rng.choice([1, 1, 2]))))
        values, sels, kinds = {}, [], {}
        for i in range(self.rng.randint(1, 3)):
            how = self.rng.choice(["countAll", "min", "max", "sum"])
            name = f"v{i}_{how}"
            if how == "countAll":
                values[name] = {"map": "1", "reduce": "countAll"}
                sels.append(f"count(*) AS {name}")
                kinds[name] = INT
                continue
            col = self.rng.choice(self._of(INT) if how == "sum" else self._of(NUM, INT))
            values[name] = {"map": col, "reduce": how}
            if how == "sum":
                sels.append(f"coalesce(sum(CAST({col} AS DOUBLE)), 0.0) AS {name}")
                kinds[name] = NUM
            else:
                sels.append(f"{how}({col}) AS {name}")
                kinds[name] = self.cols[col]
        g = ", ".join(groups)
        self._push(
            {"kind": "aggregate", "groups": {k: k for k in groups}, "values": values},
            f"SELECT {g}, {', '.join(sels)} FROM {self.prev} GROUP BY {g}",
        )
        self.cols = {**{k: self.cols[k] for k in groups}, **kinds}
        self.phase = "grouped"
        ints = [k for k in groups if self.cols[k] == INT]
        self.sort_key = ints[0] if len(groups) == 1 and ints else None

    def pivot(self) -> None:
        horizontal = self.rng.choice(sorted(c for c in self.cols if c in PIVOT_DOMAIN))
        verticals = [c for c in self._of(STR, INT) if c in GROUP_KEYS and c != horizontal]
        if not verticals:
            return self.aggregate()
        vertical = self.rng.choice(verticals)
        hv = PIVOT_DOMAIN[horizontal]
        sels = [f"NULLIF(count(*) FILTER (WHERE {horizontal} = '{h}'), 0) AS \"{h}_n\"" for h in hv]
        self._push(
            {
                "kind": "pivot", "horizontal": horizontal, "vertical": [vertical],
                "values": {"n": {"map": "1", "reduce": "countAll"}}, "horizontal_values": hv,
            },
            f"SELECT {vertical}, {', '.join(sels)} FROM {self.prev} GROUP BY {vertical}",
        )
        self.cols = {vertical: self.cols[vertical], **{f"{h}_n": INT for h in hv}}
        self.phase = "grouped"
        self.sort_key = vertical if self.cols[vertical] == INT else None

    def sort(self) -> None:
        asc = self.rng.random() < 0.5
        self.sort_asc = asc
        self._push(
            {"kind": "sort", "orders": [{"expression": self.sort_key, "ascending": asc}]},
            f"SELECT * FROM {self.prev}",
        )
        self.phase = "sorted"

    def limit(self) -> None:
        n = self.rng.randint(1, 5)
        order = f"{self.sort_key} {'ASC' if self.sort_asc else 'DESC'}"
        self._push({"kind": "limit", "n": n}, f"SELECT * FROM {self.prev} ORDER BY {order} LIMIT {n}")
        self.phase = "limited"

    def join(self) -> None:
        partner, on = self.rng.choice(JOINS[self.table])
        sub = [{"kind": "source", "path": f"{self.data_dir}/{partner}.parquet"}]
        sub_sql = f"SELECT * FROM ({self._src_sql(partner)})"
        pcols = TABLES[partner]
        num = sorted(c for c, k in pcols.items() if k == NUM)
        if num and self.rng.random() < 0.5:
            c = num[0]
            sub.append({"kind": "filter", "condition": f"=[{c}] > 0"})
            sub_sql += f" WHERE CAST({c} AS DOUBLE) > 0"
        self._push(
            {"kind": "join", "chain": sub, "on": on, "how": "inner"},
            f"SELECT * FROM {self.prev} JOIN ({sub_sql}) r ON {on}",
        )
        self.cols.update(pcols)
        self.joined = True


def formula_sql(text: str, cols: dict) -> tuple[str, str] | None:
    """DuckDB twin of an inferred formula and its result kind, for the
    subset the generator can check exactly; None for anything else.
    A bare column or literal keeps its type; arithmetic is on doubles."""
    from warp_spark.formula import Binary, Call, Literal, Sibling, parse

    def rec(n):
        if isinstance(n, Sibling) and n.name in cols:
            return n.name, cols[n.name]
        if isinstance(n, Literal) and type(n.value) is int:
            return str(n.value), INT
        if isinstance(n, Literal) and type(n.value) is float:
            return f"CAST('{n.value!r}' AS DOUBLE)", NUM
        if isinstance(n, Literal) and isinstance(n.value, str) and "'" not in n.value:
            return f"'{n.value}'", STR
        if isinstance(n, Binary) and n.op in "+-*":
            a, b = rec(n.left), rec(n.right)
            if a and b and a[1] != STR and b[1] != STR:
                return f"(CAST({a[0]} AS DOUBLE) {n.op} CAST({b[0]} AS DOUBLE))", NUM
        if isinstance(n, Call) and n.function.upper() in ("UPPER", "LOWER") and len(n.args) == 1:
            a = rec(n.args[0])
            if a and a[1] == STR:
                return f"{n.function.lower()}({a[0]})", STR
        return None

    try:
        return rec(parse(text))
    except Exception:
        return None


def check_previews(checks) -> list[dict]:
    """One failure record per preview whose rows differ from its twin's.
    Both sides go through pandas, as in the repo's correctness gate, so
    representation quirks pandas applies to both (an int column with a
    NULL becomes float64) cancel out."""
    import duckdb
    import pandas as pd

    from perfbench.catalog_ops import oracle_rows, pandas_rows, same

    con = duckdb.connect()
    bad = []
    for op, cols, rows, sql in checks:
        try:
            ocols, orows = oracle_rows(con, sql)
        except Exception as e:
            bad.append({"op": op, "error": "duckdb: " + repr(e)[:300], "chain_sql": sql})
            continue
        srows = pandas_rows(pd.DataFrame.from_records(rows, columns=cols))
        if not same(cols, srows, ocols, orows):
            bad.append({"op": op, "error": "output mismatch", "chain_sql": sql})
    return bad


def _is_literal(text: str) -> bool:
    from warp_spark.formula import Literal, parse

    return isinstance(parse(text), Literal)


def _edit(s: Session, rng: random.Random, tracer, last_row: dict) -> None:
    """Apply one random edit; an ``infer`` edit learns a calculation from
    the last preview's first row (a plain one when there is none)."""
    from warp_spark.infer import suggest_formulas

    edit = rng.choice(s.choices())
    if edit != "infer":
        return getattr(s, edit)()
    target = s.infer_target(last_row)
    if target is not None:
        value, example, input_col = target
        with tracer.phase("infer"):
            suggestions = suggest_formulas(value, example, input_column=input_col, level=3)
        tracer.counters["infer.calls"] += 1
        # a column formula over a constant when there is one
        for text in sorted(suggestions, key=_is_literal):
            twin = formula_sql(text, s.cols)
            if twin:
                return s.calculate("=" + text, twin[0], twin[1])
    s.calculate()


def run_session(spark, tracer, rng, data_dir, session_no, latencies, checks, max_steps=8) -> None:
    """One editing session; appends preview latencies and, per preview,
    (op, spark columns, spark rows, twin sql) for the post-run check."""
    from warp_spark.plans import Chain

    s = Session(rng, data_dir)
    n_steps = min(rng.randint(4, 8), max_steps)
    last_row: dict = {}
    for i in range(n_steps):
        op = f"s{session_no}.{i}"
        t0 = time.perf_counter()
        with tracer.op(op):
            if i == 0:
                s.source()
            else:
                _edit(s, rng, tracer, last_row)
            with tracer.phase("chain.build"):
                df = Chain(s.steps).example_dataset(spark, max_input_rows=PREVIEW_ROWS).to_df()
            if tracer.enabled:
                with tracer.phase("plan"):
                    df._jdf.queryExecution().executedPlan()
            with tracer.phase("exec"):
                rows = df.collect()
        latencies.append(time.perf_counter() - t0)
        last_row = rows[0].asDict() if rows else {}
        checks.append((op, df.columns, [tuple(r) for r in rows], s.sql()))
