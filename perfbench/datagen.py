"""Seeded synthetic input tables for the benchmark.

Writes the ten tables the engine reads (``region`` ... ``embeddings``), one
single-row-group parquet file each, with the column names, types and value
distributions of the repository's TPC-H-ish test data: uniform keys and
categories, two-decimal money columns, day-granular order/ship timestamps,
a month of time-ordered events, a 30-word document vocabulary with 5%
near-duplicates (a copy plus a trailing ``dup`` token) and unit-norm 64-d
float32 embeddings. The same ``(scale, seed)`` always gives the same bytes
of data, so a run can be repeated exactly.

``scale`` follows the test data's scale factor: 0.01 gives 60,000
lineitem rows and 15,000 orders. The document and embedding tables keep
their test-data floor of 500 rows.

Run directly to write one data set: ``python3 perfbench/datagen.py OUT_DIR
[--scale 0.01] [--seed 1]``.
"""

from __future__ import annotations

import argparse
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
PART_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_P = [0.44, 0.14, 0.14, 0.14, 0.14]
VOCAB = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream table "
    "the value vector window"
).split()

DAY_US = 86_400 * 1_000_000
EPOCH = np.datetime64("1970-01-01", "D")


def _day_us(day: str) -> int:
    return int((np.datetime64(day, "D") - EPOCH).astype(np.int64)) * DAY_US


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.integers(int(lo * 100), int(hi * 100), n) / 100.0, 2)


def _days(rng: np.random.Generator, first: str, last: str, n: int) -> pa.Array:
    lo, hi = _day_us(first) // DAY_US, _day_us(last) // DAY_US
    us = rng.integers(lo, hi + 1, n).astype(np.int64) * DAY_US
    return pa.array(us, pa.timestamp("us"))


def _pick(rng: np.random.Generator, values: list[str], n: int, p=None) -> pa.Array:
    idx = rng.choice(len(values), n, p=p)
    return pa.DictionaryArray.from_arrays(
        pa.array(idx, pa.int32()), pa.array(values)
    ).cast(pa.string())


def _keyed_names(prefix: str, n: int) -> pa.Array:
    return pa.array([f"{prefix}#{i:09d}" for i in range(n)])


def tables(scale: float, seed: int) -> dict[str, pa.Table]:
    """Build every table in memory; each gets its own child stream of ``seed``."""
    n_cust = max(150, round(150_000 * scale))
    n_supp = max(10, round(10_000 * scale))
    n_part = max(200, round(200_000 * scale))
    n_ord = max(1_500, round(1_500_000 * scale))
    n_line = max(6_000, round(6_000_000 * scale))
    n_ev = max(1_000, round(1_000_000 * scale))
    n_users = max(15, n_cust // 10)
    n_docs = max(500, round(50_000 * scale))
    n_vecs = max(500, round(20_000 * scale))
    rngs = iter(np.random.default_rng(seed).spawn(10))
    out: dict[str, pa.Table] = {}

    out["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": REGIONS,
    })
    out["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })
    next(rngs), next(rngs)  # region and nation are fixed

    r = next(rngs)
    out["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
        "c_name": _keyed_names("Customer", n_cust),
        "c_nationkey": pa.array(r.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": _money(r, -999.99, 9999.99, n_cust),
        "c_mktsegment": _pick(r, SEGMENTS, n_cust),
    })

    r = next(rngs)
    out["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
        "s_name": _keyed_names("Supplier", n_supp),
        "s_nationkey": pa.array(r.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": _money(r, -999.99, 9999.99, n_supp),
    })

    r = next(rngs)
    pk = np.arange(n_part)
    names = [f"{a} {b}" for a in PART_ADJ for b in PART_NOUN]
    out["part"] = pa.table({
        "p_partkey": pa.array(pk, pa.int64()),
        "p_name": _pick(r, names, n_part),
        "p_brand": _pick(r, [f"Brand#{i}" for i in range(1, 26)], n_part),
        "p_type": _pick(r, PART_TYPES, n_part),
        "p_size": pa.array(r.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": np.round(900.0 + (pk % 1000) / 10.0, 1),
    })

    r = next(rngs)
    out["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(n_ord), pa.int64()),
        "o_custkey": pa.array(r.integers(0, n_cust, n_ord), pa.int64()),
        "o_orderstatus": _pick(r, ["F", "O", "P"], n_ord),
        "o_totalprice": _money(r, 1000.0, 500000.0, n_ord),
        "o_orderdate": _days(r, "1995-01-01", "2001-08-01", n_ord),
        "o_orderpriority": _pick(r, PRIORITIES, n_ord),
    })

    r = next(rngs)
    out["lineitem"] = pa.table({
        "l_orderkey": pa.array(r.integers(0, n_ord, n_line), pa.int64()),
        "l_partkey": pa.array(r.integers(0, n_part, n_line), pa.int64()),
        "l_suppkey": pa.array(r.integers(0, n_supp, n_line), pa.int64()),
        "l_linenumber": pa.array(r.integers(1, 8, n_line), pa.int32()),
        "l_quantity": r.integers(1, 51, n_line).astype(np.float64),
        "l_extendedprice": _money(r, 900.0, 105000.0, n_line),
        "l_discount": r.integers(0, 11, n_line) / 100.0,
        "l_tax": r.integers(0, 9, n_line) / 100.0,
        "l_returnflag": _pick(r, ["A", "N", "R"], n_line),
        "l_linestatus": _pick(r, ["F", "O"], n_line),
        "l_shipdate": _days(r, "1995-01-02", "2001-11-04", n_line),
    })

    r = next(rngs)
    start = _day_us("2024-01-01")
    ts = np.sort(r.integers(start, start + 30 * DAY_US, n_ev))
    out["events"] = pa.table({
        "event_id": pa.array(np.arange(n_ev), pa.int64()),
        "ts": pa.array(ts, pa.timestamp("us")),
        "user_id": pa.array(r.integers(0, n_users, n_ev), pa.int64()),
        "event_type": _pick(r, EVENT_TYPES, n_ev),
        "value": np.maximum(np.round(r.exponential(50.0, n_ev), 2), 0.01),
        "props": pa.array([f'{{"k": {k}}}' for k in r.integers(0, 100, n_ev)]),
    })

    r = next(rngs)
    words = np.array(VOCAB)
    texts = [
        " ".join(words[r.integers(0, len(VOCAB), r.integers(10, 100))])
        for _ in range(n_docs)
    ]
    n_dup = n_docs // 20
    copies = r.choice(n_docs, 2 * n_dup, replace=False)
    for dst, src in zip(copies[:n_dup], copies[n_dup:]):
        texts[dst] = texts[src] + " dup"
    out["documents"] = pa.table({
        "doc_id": pa.array(np.arange(n_docs), pa.int64()),
        "text": texts,
        "lang": _pick(r, LANGS, n_docs, p=LANG_P),
        "source": [f"src{i % 20}" for i in range(n_docs)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })

    r = next(rngs)
    vecs = r.standard_normal((n_vecs, 64)).astype(np.float32)
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    out["embeddings"] = pa.table({
        "vec_id": pa.array(np.arange(n_vecs), pa.int64()),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(r.integers(0, 10, n_vecs), pa.int32()),
    })
    return out


def write(out_dir: str, scale: float, seed: int) -> dict[str, int]:
    """Write every table as ``out_dir/<name>.parquet``; return row counts."""
    os.makedirs(out_dir, exist_ok=True)
    rows = {}
    for name, table in tables(scale, seed).items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"),
                       row_group_size=max(1, table.num_rows))
        rows[name] = table.num_rows
    return rows


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("out_dir")
    ap.add_argument("--scale", type=float, default=0.01)
    ap.add_argument("--seed", type=int, default=1)
    args = ap.parse_args()
    print(write(args.out_dir, args.scale, args.seed))


if __name__ == "__main__":
    main()
