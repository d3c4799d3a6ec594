"""Seeded input tables for the benchmark.

Writes the ten tables the engine reads (`region` ... `embeddings`, one
parquet file each, the layout the engine's sources expect) at a given
scale factor.  The table *contents* come from a fixed content seed, so
every run and every host compares against the same expected results;
the run's `--seed` only permutes the row order of every table, which
no output may depend on.

Sizes follow the engine's test tables: customer 150 000·sf, supplier
10 000·sf, part 200 000·sf, orders 1 500 000·sf, lineitem 4 lines per
order, events 1 000 000·sf over 30 days, documents and embeddings at
least 500 rows.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

CONTENT_SEED = 42
ROW_GROUP_ROWS = 64 * 1024

_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
_WORDS = (
    "a agg batch big column customer data dup fast filter group hash join "
    "key line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()
_LANGS = ["en", "en", "de", "es", "fr", "zh"]
_EMB_DIM = 64


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _days(rng: np.random.Generator, start: str, span_days: int, n: int) -> np.ndarray:
    base = np.datetime64(start, "us")
    return base + rng.integers(0, span_days, n).astype("timedelta64[D]").astype(
        "timedelta64[us]"
    )


def build_tables(sf: float) -> dict[str, pa.Table]:
    """The tables at scale `sf`, in content order (no seed involved)."""
    rng = np.random.default_rng(CONTENT_SEED)
    n_cust = int(150_000 * sf)
    n_supp = int(10_000 * sf)
    n_part = int(200_000 * sf)
    n_ord = int(1_500_000 * sf)
    n_line = 4 * n_ord
    n_evt = int(1_000_000 * sf)
    n_users = max(15, int(15_000 * sf))
    n_docs = max(500, int(50_000 * sf))
    n_vecs = max(500, int(20_000 * sf))
    t: dict[str, pa.Table] = {}

    t["region"] = pa.table(
        {
            "r_regionkey": pa.array(np.arange(5), pa.int32()),
            "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
        }
    )
    t["nation"] = pa.table(
        {
            "n_nationkey": pa.array(np.arange(25), pa.int32()),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array(np.arange(25) % 5, pa.int32()),
        }
    )
    ck = np.arange(n_cust)
    t["customer"] = pa.table(
        {
            "c_custkey": pa.array(ck, pa.int64()),
            "c_name": [f"Customer#{k:09d}" for k in ck],
            "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
            "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
            "c_mktsegment": np.array(_SEGMENTS)[rng.integers(0, 5, n_cust)],
        }
    )
    sk = np.arange(n_supp)
    t["supplier"] = pa.table(
        {
            "s_suppkey": pa.array(sk, pa.int64()),
            "s_name": [f"Supplier#{k:09d}" for k in sk],
            "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
            "s_acctbal": _money(rng, -999.99, 9999.99, n_supp),
        }
    )
    pk = np.arange(n_part)
    names = np.array([f"{a} {b}" for a in _ADJ for b in _NOUN])
    t["part"] = pa.table(
        {
            "p_partkey": pa.array(pk, pa.int64()),
            "p_name": names[rng.integers(0, len(names), n_part)],
            "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
            "p_type": np.array(_TYPES)[rng.integers(0, len(_TYPES), n_part)],
            "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
            "p_retailprice": np.round(900.0 + (pk % 1000) * 0.1, 1),
        }
    )
    ok = np.arange(n_ord)
    t["orders"] = pa.table(
        {
            "o_orderkey": pa.array(ok, pa.int64()),
            "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
            "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, n_ord)],
            "o_totalprice": _money(rng, 1000.0, 500_000.0, n_ord),
            "o_orderdate": _days(rng, "1995-01-01", 2404, n_ord),
            "o_orderpriority": np.array(_PRIORITIES)[rng.integers(0, 5, n_ord)],
        }
    )
    t["lineitem"] = pa.table(
        {
            "l_orderkey": pa.array(rng.integers(0, n_ord, n_line), pa.int64()),
            "l_partkey": pa.array(rng.integers(0, n_part, n_line), pa.int64()),
            "l_suppkey": pa.array(rng.integers(0, n_supp, n_line), pa.int64()),
            "l_linenumber": pa.array(rng.integers(1, 8, n_line), pa.int32()),
            "l_quantity": rng.integers(1, 51, n_line).astype(np.float64),
            "l_extendedprice": _money(rng, 900.0, 105_000.0, n_line),
            "l_discount": rng.integers(0, 11, n_line) / 100.0,
            "l_tax": rng.integers(0, 9, n_line) / 100.0,
            "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n_line)],
            "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n_line)],
            "l_shipdate": _days(rng, "1995-01-02", 2498, n_line),
        }
    )
    gaps = rng.exponential(30 * 86_400e6 / max(1, n_evt), n_evt).astype(np.int64)
    t["events"] = pa.table(
        {
            "event_id": pa.array(np.arange(n_evt), pa.int64()),
            "ts": np.datetime64("2024-01-01", "us")
            + np.cumsum(gaps).astype("timedelta64[us]"),
            "user_id": pa.array(rng.integers(0, n_users, n_evt), pa.int64()),
            "event_type": np.array(_EVENT_TYPES)[rng.integers(0, 5, n_evt)],
            "value": np.round(rng.exponential(50.0, n_evt), 2),
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_evt)],
        }
    )
    words = np.array(_WORDS)
    lengths = rng.integers(10, 101, n_docs)
    texts = [" ".join(words[rng.integers(0, len(words), n)]) for n in lengths]
    # near-duplicates: 3% of documents copy an earlier one with one word
    # changed, and copies of copies make chains, so the dedup loops
    # have clusters to close
    for i in np.sort(rng.choice(np.arange(1, n_docs), n_docs * 3 // 100, replace=False)):
        src = texts[int(rng.integers(0, i))].split()
        src[int(rng.integers(0, len(src)))] = str(words[rng.integers(0, len(words))])
        texts[i] = " ".join(src)
    t["documents"] = pa.table(
        {
            "doc_id": pa.array(np.arange(n_docs), pa.int64()),
            "text": texts,
            "lang": np.array(_LANGS)[rng.integers(0, len(_LANGS), n_docs)],
            "source": [f"src{i % 20}" for i in range(n_docs)],
            "n_chars": pa.array([len(s) for s in texts], pa.int64()),
        }
    )
    vecs = rng.standard_normal((n_vecs, _EMB_DIM)).astype(np.float32)
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    t["embeddings"] = pa.table(
        {
            "vec_id": pa.array(np.arange(n_vecs), pa.int64()),
            "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
            "label": pa.array(rng.integers(0, 10, n_vecs), pa.int32()),
        }
    )
    return t


def write_tables(sf: float, seed: int, out_dir: str) -> None:
    """Write every table to `out_dir/<name>.parquet`, rows permuted by
    `seed`.  Writes into a sibling temp dir and renames it into place,
    so a crashed build never leaves a half-written input set."""
    order = np.random.default_rng(seed)
    tmp = out_dir + ".tmp"
    os.makedirs(tmp, exist_ok=True)
    for name, table in build_tables(sf).items():
        perm = order.permutation(table.num_rows)
        pq.write_table(
            table.take(pa.array(perm)),
            os.path.join(tmp, f"{name}.parquet"),
            row_group_size=ROW_GROUP_ROWS,
        )
    os.replace(tmp, out_dir)
