#!/usr/bin/env python
"""Materialize a deterministic N× replica of a test-data sf directory
for the SCALE-PROBE LANE (r12 verdict item 3: the sf0.1 bench is
floor-bound — 8 cores beat 32 on 35/44 cells — so parallel
scale-safety claims need an operating point where compute dominates).

Replication emulates a DIVERSE corpus at N× size, not N copies of one
corpus:

- region/nation: copied once (fixed dimension tables — FK targets).
- customer/supplier/part: keys shifted by i·10⁹ per replica; NAMES go
  through a per-replica CHARACTER BIJECTION (customer/supplier: the
  digits map to a per-replica 10-letter alphabet; part: the letters
  Caesar-shift by the replica index).  A bijection preserves every
  within-replica edit distance and Jaro-Winkler value EXACTLY (the
  true near-dup pair structure scales linearly), keeps cross-replica
  names far apart (≥ the digit-run length ≫ every threshold), and —
  unlike a replica prefix/suffix — moves each replica's q-grams into
  a (mostly) disjoint gram space, so per-gram document frequency
  stays at the base level instead of multiplying by N and crossing
  the blockers' max_df cutoff (which silently emptied the candidate
  sets in the first lane run: fuzzy_name_match_pairs found 0 pairs
  at 10×).
- orders/lineitem: all FK keys shifted by the same i·10⁹, dates kept
  (N× density per date window — the realistic scale direction).
- events: event_id/user_id shifted, ts/value/props kept.
- documents: doc_id shifted; every token suffixed with the replica
  index (disjoint shingle/vocabulary spaces); n_chars recomputed.
- embeddings: vec_id shifted; vectors cyclically rotated per replica
  (cosine between rotations of random vectors ≈ 0).

Usage: python scripts/make_scale_dir.py [factor] [src_dir] [out_dir]
Defaults: 10 /root/testdata/sf0.1 /tmp/nes_scale/sfX (X = 0.1·factor)

The output is INPUT DATA generated fresh from the source parquet — no
query results or intermediates are stored (bench runs against it
compute everything from these parquet inputs, same as any sf dir).
"""

from __future__ import annotations

import os
import shutil
import string
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

from northwind_etl_spark.session import get_spark  # noqa: E402

SHIFT = 10**9


def _replicas(df, times: int, variant):
    parts = [variant(df, i) for i in range(times)]
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


_POOL = string.ascii_lowercase + string.ascii_uppercase  # 52 chars


def _digit_alphabet(i: int) -> str:
    """10 letters replacing the digits in replica i's names — slices
    of the 52-char pool, staggered so consecutive replicas share at
    most half their letters (and map them differently)."""
    start = ((i - 1) * 5) % 42
    return _POOL[start : start + 10]


def _caesar(i: int) -> str:
    k = i % 26
    return string.ascii_lowercase[k:] + string.ascii_lowercase[:k]


def main() -> None:
    factor = int(sys.argv[1]) if len(sys.argv) > 1 else 10
    src = sys.argv[2] if len(sys.argv) > 2 else "/root/testdata/sf0.1"
    base_sf = os.path.basename(src.rstrip("/")).replace("sf", "")
    out = (
        sys.argv[3]
        if len(sys.argv) > 3
        else f"/tmp/nes_scale/sf{float(base_sf) * factor:g}"
    )
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(out, exist_ok=True)

    spark = get_spark("make-scale-dir")
    spark.sparkContext.setLogLevel("ERROR")
    read = lambda t: spark.read.parquet(f"{src}/{t}.parquet")  # noqa: E731

    def write(df, t, parts=8):
        df.repartition(parts).write.mode("overwrite").parquet(
            f"{out}/{t}.parquet"
        )
        print(f"wrote {t}", flush=True)

    # fixed dims: copy once
    for t in ("region", "nation"):
        write(read(t), t, parts=1)

    def name_variant(col: str, kind: str):
        def v(df, i):
            if i == 0:
                return df
            if kind == "digits":
                return df.withColumn(
                    col,
                    F.translate(F.col(col), "0123456789", _digit_alphabet(i)),
                )
            return df.withColumn(
                col,
                F.translate(F.col(col), string.ascii_lowercase, _caesar(i)),
            )
        return v

    def keys_shifted(cols: list[str], extra=None):
        def v(df, i):
            for c in cols:
                df = df.withColumn(c, F.col(c) + F.lit(i * SHIFT))
            if extra is not None:
                df = extra(df, i)
            return df
        return v

    write(
        _replicas(
            read("customer"),
            factor,
            keys_shifted(["c_custkey"], name_variant("c_name", "digits")),
        ),
        "customer",
    )
    write(
        _replicas(
            read("supplier"),
            factor,
            keys_shifted(["s_suppkey"], name_variant("s_name", "digits")),
        ),
        "supplier",
    )
    write(
        _replicas(
            read("part"),
            factor,
            keys_shifted(["p_partkey"], name_variant("p_name", "letters")),
        ),
        "part",
    )
    write(
        _replicas(
            read("orders"), factor, keys_shifted(["o_orderkey", "o_custkey"])
        ),
        "orders",
    )
    write(
        _replicas(
            read("lineitem"),
            factor,
            keys_shifted(["l_orderkey", "l_partkey", "l_suppkey"]),
        ),
        "lineitem",
        parts=16,
    )
    write(
        _replicas(
            read("events"), factor, keys_shifted(["event_id", "user_id"])
        ),
        "events",
        parts=16,
    )

    def doc_variant(df, i):
        df = df.withColumn("doc_id", F.col("doc_id") + F.lit(i * SHIFT))
        if i > 0:
            df = df.withColumn(
                "text", F.regexp_replace(F.col("text"), r"(\S+)", rf"$1_{i}")
            )
        return df.withColumn("n_chars", F.length("text").cast("long"))

    write(_replicas(read("documents"), factor, doc_variant), "documents")

    emb = read("embeddings")
    dim = len(emb.select("embedding").first()[0])

    def vec_variant(df, i):
        df = df.withColumn("vec_id", F.col("vec_id") + F.lit(i * SHIFT))
        if i == 0:
            return df
        rot = i % dim
        if rot == 0:
            return df
        rotated = F.concat(
            F.slice(F.col("embedding"), rot + 1, dim - rot),
            F.slice(F.col("embedding"), 1, rot),
        )
        return df.withColumn("embedding", rotated)

    write(_replicas(emb, factor, vec_variant), "embeddings")
    spark.stop()
    print(f"scale dir ready: {out}")


if __name__ == "__main__":
    main()
