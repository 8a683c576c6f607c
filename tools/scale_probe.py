#!/usr/bin/env python
"""1x/10x/100x scale probe for the shuffle-carrying headline queries
(VERDICT r4 #4).

    python tools/scale_probe.py [query ...]

Runs each query at /root/testdata/sf0.1 (1x), data/scaled_10x (10x),
and data/scaled_100x (100x) — fixtures produced by tools/make_scaled.py,
which offsets keys so join relationships hold and perturbs documents so
near-dup structure stays within-replica (pair output grows ~K, not K^2).

Timing protocol: noop-format write forces full
execution without sink cost; one untimed 1x warmup run per query pays
the codegen-compile cost, then min-of-2 at every scale. Emits one
markdown table row per query with the 10x/1x and 100x/10x wall ratios —
the numbers SCALING.md section (s) records. Run on a quiet host (the
probe prints a synthetic-control load time first).
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from sparkifydb_datawarehouse_spark import registry
from sparkifydb_datawarehouse_spark.session import get_spark

# Override with SPARK_GRAFT_SCALE_DIRS="label=dir,label=dir,..." to
# probe alternate fixtures (e.g. the natural-shaped dedup corpora from
# `make_scaled.py ... natural documents`).
_DIRS_ENV = os.environ.get("SPARK_GRAFT_SCALE_DIRS")
SCALES = (
    [tuple(item.split("=", 1)) for item in _DIRS_ENV.split(",")]
    if _DIRS_ENV
    else [
        ("1x", "/root/testdata/sf0.1"),
        ("10x", "data/scaled_10x"),
        ("100x", "data/scaled_100x"),
    ]
)

DEFAULT = [
    "q_dedup_exact",
    "q_dedup_fuzzy_minhash",
    "q_dedup_lsh_verified",
    "q_dedup_simhash",
    "q_dedup_ngram_jaccard",
    "q_dedup_containment",
    "q_dq_referential",
    "q_corpus_funnel",
    "q_basket_pairs",
    "q_text_tfidf",
]


def main() -> None:
    names = sys.argv[1:] or DEFAULT
    registry.load_all_modules()
    spark = get_spark("scale-probe")
    spark.sparkContext.setLogLevel("ERROR")

    def run(name: str, sf_dir: str) -> float:
        t0 = time.perf_counter()
        registry.QUERIES[name](spark, sf_dir).write.mode("overwrite").format(
            "noop"
        ).save()
        return time.perf_counter() - t0

    t0 = time.perf_counter()
    (
        spark.range(0, 1_000_000_000, 1, 32)
        .selectExpr("sum(xxhash64(id) % 1000003) as s")
        .write.mode("overwrite")
        .format("noop")
        .save()
    )
    print(f"control_sec={time.perf_counter() - t0:.2f}", flush=True)

    labels = [label for label, _ in SCALES]
    ratio_heads = [
        f"{labels[i]}/{labels[i - 1]}" for i in range(1, len(labels))
    ]
    print(
        "| query | "
        + " | ".join(f"{x} s" for x in labels)
        + " | "
        + " | ".join(ratio_heads)
        + " |"
    )
    print("|---" * (1 + len(labels) + len(ratio_heads)) + "|")
    for name in names:
        run(name, SCALES[0][1])  # warmup: codegen compile at smallest scale
        t = {}
        for label, sf_dir in SCALES:
            t[label] = min(run(name, sf_dir), run(name, sf_dir))
        vals = " | ".join(f"{t[x]:.2f}" for x in labels)
        ratios = " | ".join(
            f"{t[labels[i]] / t[labels[i - 1]]:.1f}" for i in range(1, len(labels))
        )
        print(f"| {name} | {vals} | {ratios} |", flush=True)


if __name__ == "__main__":
    main()
