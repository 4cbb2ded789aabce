"""Benchmark: headline queries at $SPARK_GRAFT_SF_DIR (default sf0.1)
on local[$SPARK_GRAFT_CPUS]. Prints ONE JSON line:

    {"metric": "...", "value": N, "unit": "sec", "queries": {...}, "sf": ...}

The headline set covers the dedup pipeline end-to-end (the flagship
workload) plus the heaviest oracle queries, each timed to completion
(count() or write-to-null semantics via count).
"""

from __future__ import annotations

import json
import os
import sys
import time


def main() -> int:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

    from dedup_spark.entry_queries import QUERIES
    from dedup_spark.session import get_spark

    spark = get_spark(app_name="dedup_spark_bench")

    headline = [
        "turns_from_documents",
        "transcript_assembly",
        "shingle_df",
        "informative_shingles",
        "minhash_lsh_candidates",
        "simhash_docs",
        "verified_token_pairs",
        "cc_clusters",
        "substring_spans",
        "span_scores",
        "interval_marks",
        "conv_shingle_stats",
        "exact_dedup_docs",
        "events_sessionize",
        "session_spans",
        "topk_events_per_user",
        "token_stats",
        "bpe_token_stats",
        "quality_score",
        "langid_heuristic",
        "doc_fingerprint",
        "winnow_fingerprints",
        "cosine_topk",
        "ann_lsh_topk",
        "ann_ivf_topk",
        "embedding_norms",
        "embedding_neardup_pairs",
        "multimodal_features",
        "tpch_pricing_summary",
        "top_revenue_orders",
    ]

    # Untimed warmup: the first action in a fresh session pays ~5-10s of
    # JVM/codegen/executor warmup that would otherwise be attributed to
    # whichever query happens to run first.
    spark.range(1_000_000).selectExpr("sum(id)").collect()
    QUERIES["turns_from_documents"].spark_fn(spark, sf_dir).count()

    # Hardware calibration anchor: a fixed zero-shuffle zero-Python
    # codegen loop, so bench runs from different boots of this shared
    # sandbox are comparable (its raw compute throughput varies ~2×
    # boot-to-boot — measured round 5; query walls divided by this
    # anchor are boot-invariant).
    t0 = time.monotonic()
    spark.range(0, 2_000_000_000, 1, 64).selectExpr(
        "sum(xxhash64(id) % 1000000)"
    ).collect()
    raw_compute_sec = round(time.monotonic() - t0, 3)
    print(f"# raw_compute anchor: {raw_compute_sec}s", file=sys.stderr)

    timings: dict[str, float] = {}
    rows: dict[str, int] = {}
    total = 0.0
    for name in headline:
        fn = QUERIES[name].spark_fn
        t0 = time.monotonic()
        n = fn(spark, sf_dir).count()
        dt = time.monotonic() - t0
        timings[name] = round(dt, 3)
        rows[name] = n
        total += dt
        print(f"# {name}: {n} rows in {dt:.2f}s", file=sys.stderr)

    n_docs = spark.read.parquet(f"{sf_dir}/documents.parquet").count()
    aux = {
        "verified_token_pairs_rows": rows.get("verified_token_pairs", 0),
        "possible_pairs": n_docs * (n_docs - 1) // 2,
        "raw_compute_sec": raw_compute_sec,
    }

    sf = sf_dir.rstrip("/").rsplit("sf", 1)[-1]
    try:
        sf_val = float(sf)
    except ValueError:
        sf_val = sf
    print(
        json.dumps(
            {
                "metric": "headline_queries_total_wall",
                "value": round(total, 3),
                "unit": "sec",
                "queries": timings,
                "aux": aux,
                "sf": sf_val,
            }
        )
    )
    spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
