"""CLI entry point — the spark-submit surface of the pipeline.

Usage (local test / bench):

    spark-submit --master local[32] --py-files dedup_spark.zip \
        run_pipeline.py --turns /path/to/turns.parquet \
        --warehouse /tmp/wh --report out.json

or module-style with a plain python driver (SparkSession started here):

    python -m dedup_spark --n-convs 2000 --warehouse /tmp/wh

When --turns is omitted, a deterministic synthetic corpus (FIXTURES.md)
of --n-convs conversations is generated and written next to the
warehouse, so the same input can be re-used across parallelism levels
for the scaling-efficiency measurement (BASELINE.md protocol).
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time


def _parquet_rows(path: str) -> int:
    """Row count from parquet footers — driver-local, no Spark job."""
    import pyarrow.parquet as pq

    if os.path.isdir(path):
        return sum(
            pq.read_metadata(os.path.join(path, f)).num_rows
            for f in sorted(os.listdir(path))
            if f.endswith(".parquet")
        )
    return pq.read_metadata(path).num_rows


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(prog="dedup_spark")
    ap.add_argument("--turns", help="parquet path of the turns table")
    ap.add_argument("--n-convs", type=int, default=2000,
                    help="synthetic corpus size when --turns is omitted")
    ap.add_argument("--warehouse", required=True, help="stage-table warehouse dir")
    ap.add_argument("--master", default=None, help="spark master (default local[$SPARK_GRAFT_CPUS])")
    ap.add_argument("--shingle-k", type=int, default=17)
    ap.add_argument("--df-band-mode", default="manual",
                    choices=["manual", "tail", "fit", "fit_or_tail"],
                    help="informative-DF band selection (spectrum-fit analog)")
    ap.add_argument("--anchor-sample-mod", type=int, default=4,
                    help="content-hash anchor sampling period for the "
                         "substring pass (1 = every position; default 4 "
                         "≈ minimap2's minimizer density — see "
                         "DedupConfig.anchor_sample_mod)")
    ap.add_argument("--candidate-source", default="banding",
                    choices=["banding", "prefix"],
                    help="candidate generation: MinHash banding (default) "
                         "or the exact AllPairs/PPJoin prefix filter "
                         "(recall 1.0 for the containment verify; use "
                         "with --no-simhash-filter for asymmetric "
                         "containment hunting)")
    ap.add_argument("--no-simhash-filter", action="store_true",
                    help="disable the SimHash Hamming pre-filter at "
                         "verify (required to keep small-contained-in-"
                         "large pairs, whose Hamming distance is near "
                         "random)")
    ap.add_argument("--report", help="write a one-line JSON run report here")
    ap.add_argument("--bootstrap", action="store_true",
                    help="run the full pipeline AND write incremental "
                         "state so later --append runs can fold new "
                         "conversations in (dedup_spark/incremental.py)")
    ap.add_argument("--append", metavar="PATH",
                    help="parquet of NEW turns to fold into a warehouse "
                         "previously created with --bootstrap: exact-"
                         "equality incremental append (shingle UDF runs "
                         "only on the new data)")
    ap.add_argument("--remove", metavar="IDS_OR_PATH",
                    help="conversations to DELETE from a bootstrapped "
                         "warehouse: a comma-separated conv_id list or a "
                         "parquet path with a conv_id column. Combinable "
                         "with --append to express edits (same conv_id in "
                         "both = replace). Exact-equality incremental "
                         "removal (takedown/PII-reprocessing path)")
    args = ap.parse_args(argv)
    if (args.append or args.remove) and args.bootstrap:
        ap.error("--append/--remove and --bootstrap are mutually exclusive")

    from dedup_spark.config import DedupConfig
    from dedup_spark.pipeline import DedupPipeline
    from dedup_spark.session import get_spark

    try:
        cfg = DedupConfig(
            shingle_k=args.shingle_k,
            df_band_mode=args.df_band_mode,
            anchor_sample_mod=args.anchor_sample_mod,
            candidate_source=args.candidate_source,
            use_simhash_filter=not args.no_simhash_filter,
        )
    except ValueError as e:
        ap.error(str(e))
    spark = get_spark(master=args.master, app_name="dedup_spark_cli")

    if args.append or args.remove:
        from dedup_spark.incremental import IncrementalDedup

        inc = IncrementalDedup(spark, cfg, args.warehouse)
        new_turns = spark.read.parquet(args.append) if args.append else None
        remove = None
        if args.remove:
            if os.path.exists(args.remove):
                remove = spark.read.parquet(args.remove).select("conv_id")
            else:
                remove = [c for c in args.remove.split(",") if c]
        spark.range(1_000_000).selectExpr("sum(id)").collect()  # warmup
        t0 = time.monotonic()
        if args.append and not args.remove:
            res = inc.append(new_turns)
        else:
            res = inc.apply(new_turns=new_turns, remove_conv_ids=remove)
        wall = time.monotonic() - t0
        n_new_turns = _parquet_rows(args.append) if args.append else 0
        report = {
            "mode": "incremental_apply",
            "n_new_turns": n_new_turns,
            "n_new_convs": res.n_new_convs,
            "n_removed_convs": res.n_removed_convs,
            "n_affected_old": res.n_affected_old,
            "n_resigned": res.n_resigned,
            "n_verified_pairs": res.report["n_verified_pairs"],
            "n_clusters": res.clusters.filter("conv_id = cluster_id").count(),
            "wall_sec": round(wall, 3),
            "new_turns_per_sec": round(n_new_turns / wall, 1) if wall else 0.0,
            "master": spark.sparkContext.master,
            # non-UDF stage input sizes ∝ (new ∪ affected) — the
            # delta-cost observability contract
            "delta_report": res.report,
        }
        line = json.dumps(report)
        print(line)
        if args.report:
            with open(args.report, "w") as f:
                f.write(line + "\n")
        spark.stop()
        return 0

    turns_path = args.turns
    if not turns_path:
        from dedup_spark.corpus import CorpusSpec, generate_corpus

        turns_path = os.path.join(args.warehouse, "_input_turns.parquet")
        if not os.path.isdir(turns_path):
            turns_pdf, _, _ = generate_corpus(CorpusSpec(n_convs=args.n_convs))
            spark.createDataFrame(turns_pdf).repartition(32).write.mode(
                "overwrite"
            ).parquet(turns_path)

    turns = spark.read.parquet(turns_path)
    if args.bootstrap:
        from dedup_spark.incremental import IncrementalDedup

        inc = IncrementalDedup(spark, cfg, args.warehouse)
        pipe = inc.pipeline
        runner = lambda t: inc.bootstrap(t)  # noqa: E731
    else:
        pipe = DedupPipeline(spark, cfg, args.warehouse)
        runner = pipe.run
    # Untimed warmup: the first action in a fresh session pays executor
    # init + first-codegen latency that is cluster startup, not pipeline
    # throughput (same rationale as bench.py's warmup).
    spark.range(1_000_000).selectExpr("sum(id)").collect()
    t0 = time.monotonic()
    res = runner(turns)
    wall = time.monotonic() - t0
    # Every stage is already materialized on disk when run() returns, so
    # the report reads row counts from the stage metrics (parquet footer
    # stats — driver-local metadata, no Spark jobs). The ~5 post-run
    # count() jobs this replaces were pure serial wall time: a constant
    # Amdahl tax that dominated as core counts grew (scaling gate).
    sm = {m.stage: m for m in pipe.catalog.metrics}
    n_turns = _parquet_rows(turns_path)
    # cluster count = components whose min-id member labels itself; one
    # cheap job over the small checkpointed clusters table
    n_clusters = res.clusters.filter("conv_id = cluster_id").count()
    report = {
        "n_turns_in": n_turns,
        "n_turns_out": sm["deduped_turns"].rows_out,
        "n_clusters": n_clusters,
        "n_verified_pairs": sm["verified_pairs"].rows_out,
        "df_band": list(res.df_band),
        "wall_sec": round(wall, 3),
        "turns_per_sec": round(n_turns / wall, 1),
        "master": spark.sparkContext.master,
    }
    line = json.dumps(report)
    print(line)
    if args.report:
        with open(args.report, "w") as f:
            f.write(line + "\n")
    # durable per-stage + per-partition lineage next to the stage tables
    # (driver-local JSON; no Spark job, so it never taxes the timed wall)
    pipe.catalog.write_run_report(
        os.path.join(args.warehouse, "_run_metrics.json")
    )
    res.metrics.show(32, False)
    spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
