"""Recall-vs-cost frontier for the banded sign-LSH ANN family
(round-10 verdict optional item: turn the ANN tuning story into
checked evidence).

For each (n_tables, n_probes) configuration, measures against the
exact brute-force top-10 (same integer-cosine ground truth
ann_recall_eval uses):
  - recall@10 over the probe set
  - served result rows per query (<= 10; lower means some queries
    found no candidate at all in the probed buckets)
  - wall time of the approximate pass (candidate generation + re-rank
    — the serving-cost proxy)

Usage: python tools/ann_frontier.py [--sf=/root/testdata/sf0.01]
Prints one markdown table, paste-ready for COVERAGE.md.
"""

from __future__ import annotations

import os
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)


def main() -> int:
    sf_dir = "/root/testdata/sf0.01"
    for a in sys.argv[1:]:
        if a.startswith("--sf="):
            sf_dir = a.split("=", 1)[1]

    from pyspark.sql import functions as F

    from magictables_spark.plans.similarity import (
        _RECALL_PROBES,
        _ann_lsh_impl,
        _dot,
        _exact_knn,
        _quantized,
    )
    from magictables_spark.session import get_spark

    spark = get_spark("ann_frontier")
    spark.sparkContext.setLogLevel("ERROR")

    norms = _quantized(spark, sf_dir).withColumn("nrm", _dot("q", "q"))
    exact = (
        _exact_knn(norms, F.col("vec_id") < _RECALL_PROBES)
        .select("query_id", "neighbor_id")
        .localCheckpoint(eager=True)
    )
    n_truth = exact.count()

    print("| tables | probes | recall@10 | result rows/query | wall s |")
    print("|---|---|---|---|---|")
    for n_tables in (1, 2, 4):
        for n_probes in (0, 4, 8):
            t0 = time.perf_counter()
            approx = (
                _ann_lsh_impl(spark, sf_dir, n_tables, n_probes)
                .filter(F.col("query_id") < _RECALL_PROBES)
                .select("query_id", "neighbor_id")
                .localCheckpoint(eager=True)
            )
            wall = time.perf_counter() - t0
            hits = approx.join(exact, ["query_id", "neighbor_id"]).count()
            n_cand = approx.count()
            n_q = max(1, _RECALL_PROBES)
            print(
                f"| {n_tables} | {n_probes} | {hits / max(1, n_truth):.3f} "
                f"| {n_cand / n_q:.0f} | {wall:.1f} |"
            )
    return 0


if __name__ == "__main__":
    sys.exit(main())
