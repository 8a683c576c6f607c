#!/usr/bin/env python
"""Generate a K×-scaled copy of a fixture dir for scaling experiments:

    python tools/make_scaled.py [K] [src_sf_dir] [dst_dir]
    # defaults: 10 /root/testdata/sf0.1 data/scaled_10x

Replication strategy (keys offset so join relationships hold):
- lineitem/orders: l_orderkey/o_orderkey += k*MAX_OK; o_custkey and
  customer.c_custkey += k*MAX_CK. part/supplier/nation/region stay
  single-copy dims (their keys are reused by every replica — the
  realistic shape: facts grow, dims don't).
- events: event_id += k*MAX_EV; ts += k*31 days so replicas are
  temporally disjoint (otherwise watermark/session/dedup queries
  would see K identical copies of every instant — an artifact, not
  scale). ts is written as int64 nanos to match the fixture format
  that tables.load_table expects.
- documents: doc_id += k*MAX_DOC, and every 5th token gets a
  replica-unique marker appended. Without the perturbation each doc
  would have K exact clones, LSH buckets would grow K-deep, and pair
  output would scale K² — a degenerate corpus, not a bigger one.
  With it, near-dup structure WITHIN a replica (the realistic signal)
  is preserved and cross-replica collisions vanish.
- embeddings: vec_id += k*MAX_VEC (the banded candidate joins are
  id-local, so replicas contribute independent neighborhoods).

Docs modes (4th arg, VERDICT r5 #4): the default ``adversarial``
perturbation above still leaves every replica pair of the same base
doc at moderate Jaccard (markers only ADD tokens; ~40% of base
shingles survive between any two replicas ⇒ j ≈ 0.25), so
near-threshold pair mass grows K² BY CONSTRUCTION — a worst case, not
a natural corpus. ``natural`` bounds duplicate-cluster size the way
real crawls look: replicas are grouped in clusters of ≤5; a
group-level marker on every 2nd token makes every 3-word shingle
cross a marked position, so CROSS-group pairs drop to j ≈ 0 (no LSH
candidates), while a light replica marker (every 23rd even position)
keeps WITHIN-group pairs at j ≈ 0.9 — bimodal similarity, pair count
~K·(cluster²)/cluster = linear in K.

5th arg: comma-separated table subset to write (e.g. ``documents``) —
the natural variant only changes documents, so the probe fixtures
need not duplicate the 1.5 GB fact tables.

Probe queries against the result with tools/scale_probe.py.
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import DataFrame, functions as F

from sparkifydb_datawarehouse_spark.session import get_spark
from sparkifydb_datawarehouse_spark.tables import TABLE_NAMES, load_table, table_path


def _replicate(df: DataFrame, k: int, build) -> DataFrame:
    out = build(df, 0)
    for i in range(1, k):
        out = out.unionByName(build(df, i))
    return out


def main() -> None:
    k = int(sys.argv[1]) if len(sys.argv) > 1 else 10
    src = sys.argv[2] if len(sys.argv) > 2 else "/root/testdata/sf0.1"
    dst = sys.argv[3] if len(sys.argv) > 3 else "data/scaled_10x"
    docs_mode = sys.argv[4] if len(sys.argv) > 4 else "adversarial"
    only = set(sys.argv[5].split(",")) if len(sys.argv) > 5 else None
    assert docs_mode in ("adversarial", "natural"), docs_mode
    os.makedirs(dst, exist_ok=True)

    spark = get_spark("make-scaled")
    spark.sparkContext.setLogLevel("ERROR")

    t = {name: load_table(spark, src, name) for name in TABLE_NAMES}
    max_ok = t["orders"].agg(F.max("o_orderkey")).first()[0] + 1
    max_ck = t["customer"].agg(F.max("c_custkey")).first()[0] + 1
    max_ev = t["events"].agg(F.max("event_id")).first()[0] + 1
    max_doc = t["documents"].agg(F.max("doc_id")).first()[0] + 1
    max_vec = t["embeddings"].agg(F.max("vec_id")).first()[0] + 1

    plans: dict[str, DataFrame] = {}
    for dim in ("region", "nation", "supplier", "part"):
        plans[dim] = t[dim]

    plans["customer"] = _replicate(
        t["customer"], k,
        lambda df, i: df.withColumn("c_custkey", F.col("c_custkey") + i * max_ck),
    )
    plans["orders"] = _replicate(
        t["orders"], k,
        lambda df, i: df.withColumn("o_orderkey", F.col("o_orderkey") + i * max_ok)
        .withColumn("o_custkey", F.col("o_custkey") + i * max_ck),
    )
    plans["lineitem"] = _replicate(
        t["lineitem"], k,
        lambda df, i: df.withColumn("l_orderkey", F.col("l_orderkey") + i * max_ok),
    )
    # ts arrives as TimestampType (load_table normalizes every fixture
    # generation); unix_micros is the value-exact long form.
    # cast("long") would truncate to SECONDS and silently write
    # 1970-era garbage — caught when a calendar-split query found one
    # slice empty at 10×.
    plans["events"] = _replicate(
        t["events"], k,
        lambda df, i: df.withColumn("event_id", F.col("event_id") + i * max_ev)
        .withColumn(
            "ts",
            # int64 nanos, shifted k*31 days — matches the nanos
            # fixture format (load_table reads it back via
            # nanosAsLong)
            (F.unix_micros(F.col("ts")) + F.lit(i * 31 * 86400 * 10**6)) * 1000,
        ),
    )

    def perturb_docs(df: DataFrame, i: int) -> DataFrame:
        if i == 0:
            return df
        marked = F.concat_ws(
            " ",
            F.expr(
                f"transform(split(text, ' '), (w, j) -> "
                f"IF(j % 5 = 4, concat(w, ' zz{i}zz'), w))"
            ),
        )
        return df.withColumn("doc_id", F.col("doc_id") + i * max_doc).withColumn(
            "text", marked
        ).withColumn("n_chars", F.length(marked))

    def perturb_docs_natural(df: DataFrame, i: int) -> DataFrame:
        # duplicate clusters of ≤5 replicas (group g): gg-marker on
        # every odd token makes every 3-shingle of a cross-group pair
        # differ (j ≈ 0); yy-marker on every 23rd even token keeps
        # within-group pairs near-dup (j ≈ 0.9). Replica 0 stays the
        # untouched base corpus so 1× near-dup structure is preserved.
        if i == 0:
            return df
        g = i // 5
        marked = F.concat_ws(
            " ",
            F.expr(
                f"transform(split(text, ' '), (w, j) -> CASE "
                f"WHEN j % 2 = 1 THEN concat(w, ' gg{g}gg') "
                f"WHEN j % 23 = 8 THEN concat(w, ' yy{i}yy') "
                f"ELSE w END)"
            ),
        )
        return df.withColumn("doc_id", F.col("doc_id") + i * max_doc).withColumn(
            "text", marked
        ).withColumn("n_chars", F.length(marked))

    plans["documents"] = _replicate(
        t["documents"],
        k,
        perturb_docs_natural if docs_mode == "natural" else perturb_docs,
    )
    plans["embeddings"] = _replicate(
        t["embeddings"], k,
        lambda df, i: df.withColumn("vec_id", F.col("vec_id") + i * max_vec),
    )

    for name, df in plans.items():
        if only is not None and name not in only:
            continue
        path = table_path(dst, name)
        df.coalesce(max(1, k // 2)).write.mode("overwrite").parquet(path)
        print(f"{name}: {spark.read.parquet(path).count()} rows -> {path}", flush=True)


if __name__ == "__main__":
    main()
