"""The benchmark's three workloads: op schedules, DuckDB twins and
output checks.

Each workload turns the seeded generator into a schedule of passes
(lists of ``Op``). An op calls the program the way its user would and
returns a handle on its output; ``Op.check`` compares that output,
order-insensitively, with the op's DuckDB twin run on the same
generated files. Doubles compare exactly, which is the full-``repr``
rule of ``tools/verify_local.py``.
"""

from __future__ import annotations

import math
import os
from collections.abc import Callable
from dataclasses import dataclass

import numpy as np

N_LATIN_PASSES = 6  # distinct script passes; later passes cycle through them


@dataclass
class Op:
    key: str  # op type: every op of one key does the same work
    label: str  # unique within a pass
    execute: Callable[[object], object]  # spark -> output handle
    check: Callable[[object], bool]  # output handle -> matches the twin
    out: str | None = None  # directory the op STOREs into


def _normalize(val) -> str:
    """One cell as ``tools/verify_local.py`` normalizes it."""
    if isinstance(val, float):
        return "nan" if math.isnan(val) else repr(val)
    if hasattr(val, "isoformat"):
        return val.isoformat().replace("T", " ")[:26]
    if isinstance(val, bool):
        return str(int(val))
    return str(val)


def _multiset(rows, names: list[str]) -> tuple[list[str], list[tuple]]:
    order = sorted(range(len(names)), key=lambda i: names[i])
    return sorted(names), sorted(tuple(_normalize(r[i]) for i in order) for r in rows)


class Twins:
    """DuckDB over the generated tables; holds each op's expected rows."""

    def __init__(self, data_dir: str, tables: list[str]):
        import duckdb

        self.con = duckdb.connect()
        for t in tables:
            self.con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{data_dir}/{t}.parquet')")
        self._n = 0

    def table(self, sql: str) -> tuple[str, list[str], list[str]]:
        """Materialize ``sql``; returns (table, column names, types)."""
        name = f"exp_{self._n}"
        self._n += 1
        self.con.execute(f"CREATE TABLE {name} AS {sql}")
        desc = self.con.execute(f"SELECT * FROM {name} LIMIT 0").description
        cols = [d[0] for d in desc]
        types = [r[1] for r in self.con.execute(f"DESCRIBE {name}").fetchall()]
        return name, cols, types

    def rows(self, sql: str) -> tuple[list[str], list[tuple]]:
        res = self.con.execute(sql)
        return _multiset(res.fetchall(), [d[0] for d in res.description])

    def same(self, expected: str, cols: list[str], actual_sql: str) -> bool:
        """Order-insensitive multiset equality of ``expected`` and the
        relation ``actual_sql``, column-matched by name."""
        cl = ", ".join(f'"{c}"' for c in sorted(cols))
        for a, b in ((expected, f"({actual_sql})"), (f"({actual_sql})", expected)):
            n = self.con.execute(f"SELECT count(*) FROM (SELECT {cl} FROM {a} EXCEPT ALL SELECT {cl} FROM {b})").fetchone()[0]
            if n:
                return False
        return True


# ----------------------------------------------------------------------
# latin_interactive: Grunt-style scripts ending in DUMP
# ----------------------------------------------------------------------
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]


def _t_filter_group_agg(rng: np.random.Generator, d: str) -> tuple[str, str]:
    q, disc = int(rng.integers(5, 40)), int(rng.integers(2, 9)) / 100
    latin = f"""
        li = LOAD '{d}/lineitem.parquet' USING ParquetLoader();
        f = FILTER li BY l_quantity > {q} AND l_discount <= {disc};
        g = GROUP f BY (l_returnflag, l_linestatus);
        r = FOREACH g GENERATE FLATTEN(group), COUNT(f) AS n,
                SUM(f.l_quantity) AS qty, MAX(f.l_extendedprice) AS top_price;
        DUMP r;"""
    sql = f"""
        SELECT l_returnflag, l_linestatus, COUNT(*) AS n,
               SUM(l_quantity) AS qty, MAX(l_extendedprice) AS top_price
        FROM lineitem WHERE l_quantity > {q} AND l_discount <= {disc} GROUP BY 1, 2"""
    return latin, sql


def _t_join_group(rng: np.random.Generator, d: str) -> tuple[str, str]:
    seg = SEGMENTS[int(rng.integers(0, len(SEGMENTS)))]
    latin = f"""
        o = LOAD '{d}/orders.parquet' USING ParquetLoader();
        c = LOAD '{d}/customer.parquet' USING ParquetLoader();
        f = FILTER c BY c_mktsegment == '{seg}';
        j = JOIN o BY o_custkey, f BY c_custkey;
        g = GROUP j BY o_orderpriority;
        r = FOREACH g GENERATE group AS prio, COUNT(j) AS n, MAX(j.o_totalprice) AS top_price;
        DUMP r;"""
    sql = f"""
        SELECT o_orderpriority AS prio, COUNT(*) AS n, MAX(o_totalprice) AS top_price
        FROM orders JOIN customer ON o_custkey = c_custkey
        WHERE c_mktsegment = '{seg}' GROUP BY 1"""
    return latin, sql


def _t_nested_topk(rng: np.random.Generator, d: str) -> tuple[str, str]:
    status, k = "FOP"[int(rng.integers(0, 3))], int(rng.integers(1, 4))
    latin = f"""
        o = LOAD '{d}/orders.parquet' USING ParquetLoader();
        f = FILTER o BY o_orderstatus == '{status}';
        g = GROUP f BY o_custkey;
        t = FOREACH g {{
            s = ORDER f BY o_totalprice DESC, o_orderkey ASC;
            l = LIMIT s {k};
            GENERATE group AS custkey, COUNT(l) AS n_top, MAX(l.o_totalprice) AS top_price,
                     MIN(l.o_totalprice) AS kth_price;
        }}
        DUMP t;"""
    sql = f"""
        WITH r AS (
            SELECT o_custkey, o_totalprice, row_number() OVER (
                PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey ASC) AS rn
            FROM orders WHERE o_orderstatus = '{status}')
        SELECT o_custkey AS custkey, COUNT(*) AS n_top, MAX(o_totalprice) AS top_price,
               MIN(o_totalprice) AS kth_price
        FROM r WHERE rn <= {k} GROUP BY 1"""
    return latin, sql


def _t_order_limit(rng: np.random.Generator, d: str) -> tuple[str, str]:
    prio, n = PRIORITIES[int(rng.integers(0, len(PRIORITIES)))], int(rng.integers(5, 50))
    latin = f"""
        o = LOAD '{d}/orders.parquet' USING ParquetLoader();
        f = FILTER o BY o_orderpriority == '{prio}';
        s = ORDER f BY o_totalprice DESC, o_orderkey ASC;
        t = LIMIT s {n};
        r = FOREACH t GENERATE o_orderkey, o_custkey, o_totalprice;
        DUMP r;"""
    sql = f"""
        SELECT o_orderkey, o_custkey, o_totalprice FROM orders
        WHERE o_orderpriority = '{prio}'
        ORDER BY o_totalprice DESC, o_orderkey ASC LIMIT {n}"""
    return latin, sql


LATIN_TEMPLATES = {
    "filter_group_agg": _t_filter_group_agg,
    "join_group": _t_join_group,
    "nested_topk": _t_nested_topk,
    "order_limit": _t_order_limit,
}


def _latin_op(key: str, label: str, latin: str, expected: tuple[list[str], list[tuple]]) -> Op:
    def execute(spark):
        from pig_spark.latin.translate import PigTranslator

        t = PigTranslator(spark, execute_stores=False)
        t.run(latin)
        df = t.relation(t.sink_aliases[-1]).df
        return df, df.collect()  # the DUMP

    def check(out) -> bool:
        df, rows = out
        return _multiset(rows, df.columns) == expected

    return Op(key, label, execute, check)


def latin_schedule(rng: np.random.Generator, data_dir: str, out_dir: str) -> tuple[list[list[Op]], list[str]]:
    """Each pass runs every template twice, in a seeded order, with
    seeded constants; ``N_LATIN_PASSES`` distinct passes."""
    twins = Twins(data_dir, ["orders", "customer", "lineitem"])
    passes, scripts = [], []
    for _ in range(N_LATIN_PASSES):
        keys = [k for k in LATIN_TEMPLATES for _ in range(2)]
        ops = []
        for i in rng.permutation(len(keys)):
            key = keys[i]
            latin, sql = LATIN_TEMPLATES[key](rng, data_dir)
            ops.append(_latin_op(key, f"{key}.{len(ops)}", latin, twins.rows(sql)))
            scripts.append(latin.replace(data_dir, "<data>"))
        passes.append(ops)
    return passes, scripts


# ----------------------------------------------------------------------
# pigmix_batch / corpus_clean: query registries, results STOREd
# ----------------------------------------------------------------------
def _stored_op(registry: dict, name: str, data_dir: str, out: str, fmt: str, twins: Twins, sql: str) -> Op:
    expected, exp_cols, exp_types = twins.table(sql)
    types = dict(zip(exp_cols, exp_types))

    def execute(spark):
        from pig_spark.dsl import Relation

        df = registry[name](spark, data_dir)
        Relation(df).store(out, fmt)
        return df

    def check(df) -> bool:
        cols = df.columns
        if sorted(cols) != sorted(exp_cols):
            return False
        if fmt == "parquet":
            actual = f"SELECT * FROM read_parquet('{out}/*.parquet')"
        else:  # PigStorage text: tab-delimited, no quoting, nulls empty
            spec = ", ".join(f"'{c}': '{types[c]}'" for c in cols)
            actual = (
                f"SELECT * FROM read_csv('{out}/part-*', delim='\\t', quote='', escape='', "
                f"header=false, auto_detect=false, columns={{{spec}}})"
            )
        return twins.same(expected, cols, actual)

    return Op(name, name, execute, check, out)


def pigmix_schedule(rng: np.random.Generator, data_dir: str, out_dir: str) -> tuple[list[list[Op]], list[str]]:
    """PigMix L1-L17 in a seeded order, every result STOREd as parquet."""
    from pig_spark.pigmix import ORACLES, PIGMIX_QUERIES

    twins = Twins(data_dir, ["events", "customer", "supplier"])
    names = [sorted(PIGMIX_QUERIES)[i] for i in rng.permutation(len(PIGMIX_QUERIES))]
    ops = [
        _stored_op(PIGMIX_QUERIES, n, data_dir, os.path.join(out_dir, n), "parquet", twins, ORACLES[n])
        for n in names
    ]
    return [ops], names


CORPUS_QUERIES = [
    "q33_tokenize_wordcount",
    "q41_minhash_pairs",
    "q76_corpus_clean",
    "q88_contamination",
    "q89_repetition",
    "q93_latin_corpus_pipeline",
    "q129_paragraph_dedup",
    "q137_exact_substring_dedup",
]


def corpus_schedule(rng: np.random.Generator, data_dir: str, out_dir: str) -> tuple[list[list[Op]], list[str]]:
    """The corpus-cleaning queries in a seeded order, every result
    STOREd through PigStorage text."""
    from pig_spark.oracles import oracle_sql
    from pig_spark.queries import QUERIES

    twins = Twins(data_dir, ["documents"])
    sql = oracle_sql()
    names = [CORPUS_QUERIES[i] for i in rng.permutation(len(CORPUS_QUERIES))]
    ops = [
        _stored_op(QUERIES, n, data_dir, os.path.join(out_dir, n), "pigstorage", twins, sql[n])
        for n in names
    ]
    return [ops], names


@dataclass(frozen=True)
class Workload:
    schedule: Callable[[np.random.Generator, str, str], tuple[list[list[Op]], list[str]]]
    warm_passes: int  # untimed passes after the cold one
    min_passes: int  # measured passes, at least


WORKLOADS = {
    "latin_interactive": Workload(latin_schedule, warm_passes=3, min_passes=3),
    "pigmix_batch": Workload(pigmix_schedule, warm_passes=0, min_passes=2),
    "corpus_clean": Workload(corpus_schedule, warm_passes=1, min_passes=2),
}
