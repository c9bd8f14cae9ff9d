"""Seeded input generation for the benchmark.

The engine's tables (FIXTURES.md schemas: a TPC-H-like star plus ``events``,
``documents`` and ``embeddings``) are drawn once per scale factor from a fixed
base seed, so every run sees the same multiset of rows.  The run's ``--seed``
then only decides

- the row order of every table (a permutation, written as one parquet file
  per table, one row group, like the fixtures the engine is tested on);
- the order in which ops are issued (see ``workloads.py``);
- which ``events`` rows land in each streaming slice (``events_slice``).

So two seeds give identical answers to every order-insensitive query and the
figures move only with how the engine copes with input order.
"""

from __future__ import annotations

from pathlib import Path

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

#: Fixed seed of the row multiset; ``--seed`` never changes table contents.
BASE_SEED = 42

TABLES = (
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
)

REGIONS = ("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
SEGMENTS = ("MACHINERY", "HOUSEHOLD", "BUILDING", "FURNITURE", "AUTOMOBILE")
PART_ADJ = ("blue", "cold", "hot", "large", "new", "old", "red", "small")
PART_NOUN = ("anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget")
PART_TYPES = ("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD")
PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
EVENT_TYPES = ("error", "view", "purchase", "signup", "click")
LANGS = ("en", "zh", "es", "fr", "de")
WORDS = (
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row the "
    "agg key query a scan batch"
).split()


def _counts(sf: float) -> dict[str, int]:
    return {
        "customer": int(150_000 * sf),
        "supplier": max(10, int(10_000 * sf)),
        "part": int(200_000 * sf),
        "orders": int(1_500_000 * sf),
        "lineitem": int(6_000_000 * sf),
        "events": int(1_000_000 * sf),
        "users": int(15_000 * sf),
        "documents": max(500, int(50_000 * sf)),
        "embeddings": max(500, int(20_000 * sf)),
    }


def _days(rng: np.random.Generator, n: int, lo: str, hi: str) -> np.ndarray:
    lo_d, hi_d = np.datetime64(lo, "D"), np.datetime64(hi, "D")
    off = rng.integers(0, int((hi_d - lo_d).astype(int)) + 1, n)
    return (lo_d + off).astype("datetime64[us]")


def _pick(rng: np.random.Generator, values, n: int, p=None) -> pa.Array:
    return pa.array(np.asarray(values, dtype=object)[rng.choice(len(values), n, p=p)])


def base_tables(sf: float) -> dict[str, pa.Table]:
    """The row multiset at ``sf``: a pure function of (BASE_SEED, sf)."""
    rng = np.random.default_rng([BASE_SEED, int(round(sf * 1e6))])
    n = _counts(sf)
    i32, i64 = pa.int32(), pa.int64()
    money = lambda lo, hi, k: np.round(rng.uniform(lo, hi, k), 2)  # noqa: E731
    out: dict[str, pa.Table] = {}
    out["region"] = pa.table({
        "r_regionkey": pa.array(range(5), i32), "r_name": list(REGIONS)})
    out["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), i32),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], i32),
    })
    k = n["customer"]
    out["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(k), i64),
        "c_name": [f"Customer#{i:09d}" for i in range(k)],
        "c_nationkey": pa.array(rng.integers(0, 25, k), i32),
        "c_acctbal": money(-1000, 10000, k),
        "c_mktsegment": _pick(rng, SEGMENTS, k),
    })
    k = n["supplier"]
    out["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(k), i64),
        "s_name": [f"Supplier#{i:09d}" for i in range(k)],
        "s_nationkey": pa.array(rng.integers(0, 25, k), i32),
        "s_acctbal": money(-1000, 10000, k),
    })
    k = n["part"]
    names = [f"{a} {b}" for a in PART_ADJ for b in PART_NOUN]
    out["part"] = pa.table({
        "p_partkey": pa.array(np.arange(k), i64),
        "p_name": _pick(rng, names, k),
        "p_brand": _pick(rng, [f"Brand#{i}" for i in range(1, 26)], k),
        "p_type": _pick(rng, PART_TYPES, k),
        "p_size": pa.array(rng.integers(1, 51, k), i32),
        "p_retailprice": np.round(900 + (np.arange(k) % 1000) * 0.1, 1),
    })
    k = n["orders"]
    out["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(k), i64),
        "o_custkey": pa.array(rng.integers(0, n["customer"], k), i64),
        "o_orderstatus": _pick(rng, ("O", "F", "P"), k),
        "o_totalprice": money(1000, 500000, k),
        "o_orderdate": pa.array(_days(rng, k, "1995-01-01", "2001-08-01")),
        "o_orderpriority": _pick(rng, PRIORITIES, k),
    })
    k = n["lineitem"]
    out["lineitem"] = pa.table({
        "l_orderkey": pa.array(rng.integers(0, n["orders"], k), i64),
        "l_partkey": pa.array(rng.integers(0, n["part"], k), i64),
        "l_suppkey": pa.array(rng.integers(0, n["supplier"], k), i64),
        "l_linenumber": pa.array(rng.integers(1, 8, k), i32),
        "l_quantity": rng.integers(1, 51, k).astype(np.float64),
        "l_extendedprice": money(900, 105000, k),
        "l_discount": np.round(rng.uniform(0, 0.10, k), 2),
        "l_tax": np.round(rng.uniform(0, 0.08, k), 2),
        "l_returnflag": _pick(rng, ("A", "N", "R"), k),
        "l_linestatus": _pick(rng, ("F", "O"), k),
        "l_shipdate": pa.array(_days(rng, k, "1995-01-02", "2001-11-04")),
    })
    k = n["events"]
    span_us = 30 * 86400 * 10**6
    gaps = rng.exponential(span_us / k, k)
    ts = np.datetime64("2024-01-01", "us") + np.cumsum(gaps).astype("int64")
    out["events"] = pa.table({
        "event_id": pa.array(np.arange(k), i64),
        "ts": pa.array(ts),
        "user_id": pa.array(rng.integers(0, n["users"], k), i64),
        "event_type": _pick(rng, EVENT_TYPES, k),
        "value": np.round(rng.exponential(50.0, k), 2),
        "props": [f'{{"k": {v}}}' for v in rng.integers(0, 100, k)],
    })
    k = n["documents"]
    words = np.asarray(WORDS, dtype=object)
    texts = [" ".join(words[rng.integers(0, len(WORDS), m)])
             for m in rng.integers(10, 101, k)]
    # ~5% near-duplicates: an earlier document plus a " dup" marker
    for i in np.flatnonzero(rng.random(k) < 0.05):
        if i:
            texts[i] = texts[int(rng.integers(0, i))] + " dup"
    out["documents"] = pa.table({
        "doc_id": pa.array(np.arange(k), i64),
        "text": texts,
        "lang": _pick(rng, LANGS, k, p=[0.4, 0.15, 0.15, 0.15, 0.15]),
        "source": [f"src{i % 20}" for i in range(k)],
        "n_chars": pa.array([len(t) for t in texts], i64),
    })
    k = n["embeddings"]
    vec = rng.standard_normal((k, 64)).astype(np.float32)
    vec /= np.linalg.norm(vec, axis=1, keepdims=True)
    out["embeddings"] = pa.table({
        "vec_id": pa.array(np.arange(k), i64),
        "embedding": pa.FixedSizeListArray.from_arrays(vec.ravel(), 64).cast(
            pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, k), i32),
    })
    return out


def write_permuted(tables: dict[str, pa.Table], seed: int, out_dir: str | Path) -> Path:
    """Write every table with its rows in a ``seed``-chosen order."""
    out = Path(out_dir)
    out.mkdir(parents=True, exist_ok=True)
    for i, (name, tbl) in enumerate(sorted(tables.items())):
        perm = np.random.default_rng([seed, i]).permutation(tbl.num_rows)
        pq.write_table(tbl.take(perm), out / f"{name}.parquet",
                       row_group_size=max(1, tbl.num_rows))
    return out


def events_slice(events: pa.Table, seed: int, cycle: int, rows: int,
                 out_dir: str | Path) -> Path:
    """Land a fresh ``events`` slice for streaming cycle ``cycle``: ``rows``
    rows chosen by (seed, cycle), as ``<out_dir>/events.parquet``."""
    out = Path(out_dir)
    out.mkdir(parents=True, exist_ok=True)
    rng = np.random.default_rng([seed, 1_000_003, cycle])
    idx = np.sort(rng.choice(events.num_rows, size=rows, replace=False))
    pq.write_table(events.take(idx), out / "events.parquet")
    return out


if __name__ == "__main__":  # python3 perfbench/gen.py <sf> <seed> <out_dir>
    import sys

    write_permuted(base_tables(float(sys.argv[1])), int(sys.argv[2]), sys.argv[3])
