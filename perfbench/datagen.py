"""Seeded input generation for the benchmark.

Every table is built with NumPy from one ``numpy.random.Generator``
per workload, so the same seed writes byte-identical parquet files.
The program under test never sees the seed, only the files written
here.

Shapes follow the engine's synthetic star schema (events / customer /
supplier / orders / lineitem / documents) at about its sf0.01 size:
small enough that every table fits every cache, so run time is the
engine's fixed per-operator cost rather than I/O.
"""

from __future__ import annotations

import os
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

EVENT_TYPES = ["click", "view", "purchase", "signup", "error"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
STATUSES = ["F", "O", "P"]
# the corpus vocabulary of the engine's synthetic documents table
VOCAB = (
    "join hash row batch scan column customer filter small slow merge order "
    "vector line table data agg value key stream window a spark part group "
    "big sort query fast the"
).split()
LANGS = ["en", "zh", "es", "de", "fr"]
LANG_P = [0.44, 0.15, 0.14, 0.14, 0.13]
# vowel rotations for the corpus expansion (bench.py _scale_bench)
ROTATIONS = ["aeiou", "eioua", "iouae", "ouaei", "uaeio"]
EPOCH_US = 1_704_067_200_000_000  # 2024-01-01T00:00:00Z
MONTH_US = 30 * 86_400 * 1_000_000


@dataclass(frozen=True)
class Scale:
    """Row counts for one benchmark size."""

    events_base: int  # events per keyed copy
    users: int  # distinct user_id per copy
    customers: int  # customer keys per copy (< users: some users are not customers)
    suppliers: int
    copies: int  # keyed expansion factor (bench.py _pigmix_scale_bench)
    docs_base: int  # documents per rotated copy
    doc_copies: int
    orders: int
    lineitems: int
    latin_customers: int


FULL = Scale(1000, 200, 150, 100, 10, 75, 2, 15000, 30000, 1500)
TINY = Scale(300, 40, 30, 20, 2, 40, 2, 1500, 3000, 150)  # smoke runs, about sf0.001


def _write(table: pa.Table, path: str) -> None:
    pq.write_table(table, path, compression="snappy")


def _round2(x: np.ndarray) -> np.ndarray:
    return np.round(x, 2)


def write_pigmix(rng: np.random.Generator, scale: Scale, out_dir: str) -> None:
    """events / customer / supplier, expanded ``copies`` times with a
    seeded copy -> key-offset map: key -> key * copies + perm[copy] on
    fact and dimension sides alike, so join fan-out and per-key group
    sizes stay those of one copy while the row count grows."""
    n = scale.events_base
    ts = np.sort(rng.integers(0, MONTH_US, n)) + EPOCH_US
    user = rng.integers(0, scale.users, n)
    etype = rng.integers(0, len(EVENT_TYPES), n)
    value = _round2(rng.uniform(0.01, 490.0, n))
    k = rng.integers(0, 100, n)
    perm = rng.permutation(scale.copies)
    c = scale.copies
    ev_id = np.concatenate([np.arange(n) * c + perm[i] for i in range(c)])
    events = pa.table(
        {
            "event_id": pa.array(ev_id, pa.int64()),
            "ts": pa.array(np.tile(ts, c), pa.timestamp("us")),
            "user_id": pa.array(np.concatenate([user * c + perm[i] for i in range(c)]), pa.int64()),
            "event_type": pa.array([EVENT_TYPES[i] for i in np.tile(etype, c)], pa.string()),
            "value": pa.array(np.tile(value, c), pa.float64()),
            "props": pa.array([f'{{"k": {int(v)}}}' for v in np.tile(k, c)], pa.string()),
        }
    )
    cust = np.arange(scale.customers)
    cbal = _round2(rng.uniform(-999.0, 9999.0, scale.customers))
    cnat = rng.integers(0, 25, scale.customers)
    cseg = rng.integers(0, len(SEGMENTS), scale.customers)
    ckeys = np.concatenate([cust * c + perm[i] for i in range(c)])
    customer = pa.table(
        {
            "c_custkey": pa.array(ckeys, pa.int64()),
            "c_name": pa.array([f"Customer#{int(x):09d}" for x in ckeys], pa.string()),
            "c_nationkey": pa.array(np.tile(cnat, c), pa.int32()),
            "c_acctbal": pa.array(np.tile(cbal, c), pa.float64()),
            "c_mktsegment": pa.array([SEGMENTS[i] for i in np.tile(cseg, c)], pa.string()),
        }
    )
    sup = np.arange(scale.suppliers)
    skeys = np.concatenate([sup * c + perm[i] for i in range(c)])
    supplier = pa.table(
        {
            "s_suppkey": pa.array(skeys, pa.int64()),
            "s_name": pa.array([f"Supplier#{int(x):09d}" for x in skeys], pa.string()),
            "s_nationkey": pa.array(np.tile(rng.integers(0, 25, scale.suppliers), c), pa.int32()),
            "s_acctbal": pa.array(np.tile(_round2(rng.uniform(-999.0, 9999.0, scale.suppliers)), c), pa.float64()),
        }
    )
    for name, t in (("events", events), ("customer", customer), ("supplier", supplier)):
        _write(t, os.path.join(out_dir, f"{name}.parquet"))


def write_latin(rng: np.random.Generator, scale: Scale, out_dir: str) -> None:
    """orders / customer / lineitem for the interactive Latin scripts."""
    nc, no, nl = scale.latin_customers, scale.orders, scale.lineitems
    customer = pa.table(
        {
            "c_custkey": pa.array(np.arange(nc), pa.int64()),
            "c_name": pa.array([f"Customer#{i:09d}" for i in range(nc)], pa.string()),
            "c_nationkey": pa.array(rng.integers(0, 25, nc), pa.int32()),
            "c_acctbal": pa.array(_round2(rng.uniform(-999.0, 9999.0, nc)), pa.float64()),
            "c_mktsegment": pa.array([SEGMENTS[i] for i in rng.integers(0, 5, nc)], pa.string()),
        }
    )
    odate = EPOCH_US + rng.integers(0, 6 * 365, no) * 86_400_000_000
    orders = pa.table(
        {
            "o_orderkey": pa.array(np.arange(no), pa.int64()),
            "o_custkey": pa.array(rng.integers(0, nc, no), pa.int64()),
            "o_orderstatus": pa.array([STATUSES[i] for i in rng.integers(0, 3, no)], pa.string()),
            "o_totalprice": pa.array(_round2(rng.uniform(900.0, 450000.0, no)), pa.float64()),
            "o_orderdate": pa.array(odate, pa.timestamp("us")),
            "o_orderpriority": pa.array([PRIORITIES[i] for i in rng.integers(0, 5, no)], pa.string()),
        }
    )
    qty = rng.integers(1, 51, nl).astype(np.float64)
    lineitem = pa.table(
        {
            "l_orderkey": pa.array(np.sort(rng.integers(0, no, nl)), pa.int64()),
            "l_linenumber": pa.array(np.arange(nl) % 7 + 1, pa.int32()),
            "l_quantity": pa.array(qty, pa.float64()),
            "l_extendedprice": pa.array(_round2(qty * rng.uniform(900.0, 2000.0, nl)), pa.float64()),
            "l_discount": pa.array(rng.integers(0, 11, nl) / 100.0, pa.float64()),
            "l_returnflag": pa.array([("A", "N", "R")[i] for i in rng.integers(0, 3, nl)], pa.string()),
            "l_linestatus": pa.array([("F", "O")[i] for i in rng.integers(0, 2, nl)], pa.string()),
        }
    )
    for name, t in (("customer", customer), ("orders", orders), ("lineitem", lineitem)):
        _write(t, os.path.join(out_dir, f"{name}.parquet"))


def _docs(rng: np.random.Generator, n: int) -> list[str]:
    """Random word sequences over VOCAB; about 8% are near-duplicates
    (an earlier document plus a ' dup' marker) so the LSH / dedup
    queries find pairs."""
    out: list[str] = []
    for i in range(n):
        if i > 10 and rng.random() < 0.08:
            out.append(out[int(rng.integers(0, i))] + " dup")
        else:
            words = rng.integers(0, len(VOCAB), int(rng.integers(10, 100)))
            out.append(" ".join(VOCAB[w] for w in words))
    return out


def write_corpus(rng: np.random.Generator, scale: Scale, out_dir: str) -> None:
    """documents: a seeded base corpus expanded by vowel-rotated copies
    (copy 0 is the identity; the other rotations are drawn by the
    seed), so cross-copy documents are not near-duplicates and pair
    density stays that of the base corpus."""
    nb, c = scale.docs_base, scale.doc_copies
    base = _docs(rng, nb)
    langs = rng.choice(len(LANGS), nb, p=LANG_P)
    sources = rng.integers(0, 20, nb)
    rots = [ROTATIONS[0]] + [ROTATIONS[i] for i in rng.choice(np.arange(1, 5), c - 1, replace=False)]
    ids, texts, lang, src = [], [], [], []
    for copy, rot in enumerate(rots):
        table = str.maketrans("aeiou", rot)
        for i, t in enumerate(base):
            ids.append(i * c + copy)
            texts.append(t.translate(table))
            lang.append(LANGS[langs[i]])
            src.append(f"src{sources[i]}")
    order = np.argsort(ids)
    documents = pa.table(
        {
            "doc_id": pa.array([ids[i] for i in order], pa.int64()),
            "text": pa.array([texts[i] for i in order], pa.string()),
            "lang": pa.array([lang[i] for i in order], pa.string()),
            "source": pa.array([src[i] for i in order], pa.string()),
            "n_chars": pa.array([len(texts[i]) for i in order], pa.int64()),
        }
    )
    _write(documents, os.path.join(out_dir, "documents.parquet"))


WRITERS = {"latin_interactive": write_latin, "pigmix_batch": write_pigmix, "corpus_clean": write_corpus}


def generate(workload: str, seed: int, scale: Scale, out_dir: str) -> np.random.Generator:
    """Write ``workload``'s tables into ``out_dir``; returns the
    generator, whose state continues into the op schedule."""
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng(seed)
    WRITERS[workload](rng, scale, out_dir)
    return rng
