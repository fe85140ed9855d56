"""Deterministic synthetic corpus in the engine's input layout.

Writes the ten tables the query registry reads (a TPC-H-like star
schema, an ``events`` stream table and the ``documents`` /
``embeddings`` LLM tables) as one parquet file each, one row group per
file.  Value domains follow FIXTURES.md: uniform keys, two-decimal
prices, midnight dates, event times over January 2024, a 30-word
document vocabulary with 5% ``dup``-tagged copies, and unit 64-dim
float32 embeddings.  Row counts, row-group layout and encodings follow
the engine's sf0.001 / sf0.01 / sf0.1 test corpora, whose footers store
``events.ts``, ``o_orderdate`` and ``l_shipdate`` as INT64
TIMESTAMP(MICROS) without a time zone (FIXTURES.md's ns / ms column
types describe an earlier encoding).  The same ``sf`` always gives the
same bytes.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
ADJECTIVES = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
NOUNS = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["view", "click", "purchase", "signup", "error"]
LANGS = ["en", "es", "de", "fr", "zh"]
LANG_P = [0.4, 0.15, 0.15, 0.15, 0.15]
VOCAB = (
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row the "
    "agg key query a scan batch"
).split()
TS_US = pa.timestamp("us")
SEED = 42


def _days(rng, n: int, first: str, last: str) -> pa.Array:
    """``n`` uniform midnight timestamps in ``[first, last]``."""
    lo = np.datetime64(first, "D")
    span = (np.datetime64(last, "D") - lo).astype(int) + 1
    days = lo + rng.integers(0, span, n).astype("timedelta64[D]")
    return pa.array(days.astype("datetime64[us]"), TS_US)


def _money(rng, n: int, lo: float, hi: float) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _names(prefix: str, n: int) -> list[str]:
    return [f"{prefix}#{i:09d}" for i in range(n)]


def tables(sf: float) -> dict[str, pa.Table]:
    """Build every table in memory; row counts scale with ``sf``."""
    rng = np.random.default_rng(SEED)
    n_cust, n_supp, n_part = int(150_000 * sf), int(10_000 * sf), int(200_000 * sf)
    n_orders, n_items, n_events = int(1_500_000 * sf), int(6_000_000 * sf), int(1_000_000 * sf)
    n_users = int(15_000 * sf)
    n_docs, n_vecs = max(500, int(50_000 * sf)), max(500, int(20_000 * sf))
    i32 = lambda a: pa.array(a, pa.int32())  # noqa: E731
    out: dict[str, pa.Table] = {}

    out["region"] = pa.table({"r_regionkey": i32(range(5)), "r_name": REGIONS})
    out["nation"] = pa.table(
        {
            "n_nationkey": i32(range(25)),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": i32([i % 5 for i in range(25)]),
        }
    )
    out["customer"] = pa.table(
        {
            "c_custkey": np.arange(n_cust, dtype=np.int64),
            "c_name": _names("Customer", n_cust),
            "c_nationkey": i32(rng.integers(0, 25, n_cust)),
            "c_acctbal": _money(rng, n_cust, -999.99, 9999.99),
            "c_mktsegment": np.array(SEGMENTS)[rng.integers(0, 5, n_cust)],
        }
    )
    out["supplier"] = pa.table(
        {
            "s_suppkey": np.arange(n_supp, dtype=np.int64),
            "s_name": _names("Supplier", n_supp),
            "s_nationkey": i32(rng.integers(0, 25, n_supp)),
            "s_acctbal": _money(rng, n_supp, -999.99, 9999.99),
        }
    )
    pk = np.arange(n_part, dtype=np.int64)
    out["part"] = pa.table(
        {
            "p_partkey": pk,
            "p_name": np.char.add(
                np.char.add(np.array(ADJECTIVES)[rng.integers(0, 8, n_part)], " "),
                np.array(NOUNS)[rng.integers(0, 8, n_part)],
            ),
            "p_brand": np.char.add("Brand#", rng.integers(1, 26, n_part).astype(str)),
            "p_type": np.array(PART_TYPES)[rng.integers(0, 6, n_part)],
            "p_size": i32(rng.integers(1, 51, n_part)),
            "p_retailprice": np.round(900.0 + (pk % 1000) / 10.0, 1),
        }
    )
    out["orders"] = pa.table(
        {
            "o_orderkey": np.arange(n_orders, dtype=np.int64),
            "o_custkey": rng.integers(0, n_cust, n_orders),
            "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, n_orders)],
            "o_totalprice": _money(rng, n_orders, 1000.0, 500000.0),
            "o_orderdate": _days(rng, n_orders, "1995-01-01", "2001-08-01"),
            "o_orderpriority": np.array(PRIORITIES)[rng.integers(0, 5, n_orders)],
        }
    )
    out["lineitem"] = pa.table(
        {
            "l_orderkey": rng.integers(0, n_orders, n_items),
            "l_partkey": rng.integers(0, n_part, n_items),
            "l_suppkey": rng.integers(0, n_supp, n_items),
            "l_linenumber": i32(rng.integers(1, 8, n_items)),
            "l_quantity": rng.integers(1, 51, n_items).astype(np.float64),
            "l_extendedprice": _money(rng, n_items, 900.0, 105000.0),
            "l_discount": _money(rng, n_items, 0.0, 0.1),
            "l_tax": _money(rng, n_items, 0.0, 0.08),
            "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n_items)],
            "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n_items)],
            "l_shipdate": _days(rng, n_items, "1995-01-02", "2001-11-04"),
        }
    )
    start = np.datetime64("2024-01-01T00:00:00", "us")
    offs = np.sort(rng.integers(0, 30 * 86_400 * 1_000_000, n_events))
    out["events"] = pa.table(
        {
            "event_id": np.arange(n_events, dtype=np.int64),
            "ts": pa.array(start + offs.astype("timedelta64[us]"), TS_US),
            "user_id": rng.integers(0, n_users, n_events),
            "event_type": np.array(EVENT_TYPES)[rng.integers(0, 5, n_events)],
            "value": np.round(rng.exponential(50.0, n_events), 2),
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_events)],
        }
    )
    vocab = np.array(VOCAB)
    texts = [
        " ".join(vocab[rng.integers(0, len(VOCAB), int(k))])
        for k in rng.integers(10, 101, n_docs)
    ]
    for i in np.flatnonzero(rng.random(n_docs) < 0.05):
        texts[i] = texts[int(rng.integers(0, n_docs))] + " dup"
    out["documents"] = pa.table(
        {
            "doc_id": np.arange(n_docs, dtype=np.int64),
            "text": texts,
            "lang": np.array(LANGS)[rng.choice(5, n_docs, p=LANG_P)],
            "source": [f"src{i % 20}" for i in range(n_docs)],
            "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
        }
    )
    vecs = rng.standard_normal((n_vecs, 64))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    out["embeddings"] = pa.table(
        {
            "vec_id": np.arange(n_vecs, dtype=np.int64),
            "embedding": pa.FixedSizeListArray.from_arrays(vecs.ravel(), 64).cast(
                pa.list_(pa.float32())
            ),
            "label": i32(rng.integers(0, 10, n_vecs)),
        }
    )
    return out


def write(out_dir: str, sf: float) -> None:
    """Write every table as ``out_dir/<name>.parquet`` (one row group)."""
    os.makedirs(out_dir, exist_ok=True)
    for name, table in tables(sf).items():
        pq.write_table(
            table, os.path.join(out_dir, f"{name}.parquet"), row_group_size=1 << 24
        )

