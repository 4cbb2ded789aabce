"""End-to-end dedup pipeline orchestration with checkpoint/resume.

Stage graph (each stage a StageCatalog checkpoint; names are the resume
keys — the distributed analog of the reference's skip-if-exists file
caching, dedup.py:439-443):

  turns ─► transcripts ─► shingle_sets ─► shingle_ann ─► df_histogram
                    │                        │              │
                    └────────► informative ◄─┴── df band (manual/tail/fit)
                                   │
                               signatures ─► bands ─► bucket_sizes     [banding]
                                   │                     │     │
                                   │              skew_report  │
                                   │                           ▼
                                   ├──────────────► candidate_pairs
                                   │   (candidate_source="prefix" routes this
                                   │    through the exact AllPairs/PPJoin
                                   │    prefix filter over informative sets
                                   │    instead — no band machinery)
                                   ▼                           │
                              verified_pairs ◄─────────────────┘
                                   │
                                clusters ─► deduped_turns + stats
                                                  │
  transcripts ─► suffix keys ─► key_occ_repeated ─► anchor_skew
        │               │            │            │
        │               └─────► anchors (⋈ candidate_pairs)
        │  shingle_ann ─► position_classes ─► substring_spans (dnd-scored)
        │                                         │           ▼
        └────────────────────────────────► interval_marks ─► merged
                                                              │
                                             trimmed_turns ◄──┘
"""

from __future__ import annotations

import os
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession, functions as F

from dedup_spark.catalog import StageCatalog
from dedup_spark.config import DedupConfig
from dedup_spark.operators import intervals, lsh, scoring, shingling, substring, verify
from dedup_spark.operators.connected_components import connected_components
from dedup_spark.operators.transcripts import assemble_transcripts


@dataclass
class PipelineResult:
    transcripts: DataFrame
    signatures: DataFrame
    candidate_pairs: DataFrame
    verified_pairs: DataFrame
    clusters: DataFrame
    deduped_turns: DataFrame
    stats: DataFrame
    skew_report: DataFrame
    metrics: DataFrame
    df_band: tuple[int, int]
    substring_spans: DataFrame | None = None
    interval_marks: DataFrame | None = None
    trimmed_turns: DataFrame | None = None
    anchor_skew: DataFrame | None = None


class DedupPipeline:
    def __init__(self, spark: SparkSession, cfg: DedupConfig, warehouse: str):
        self.spark = spark
        self.cfg = cfg
        os.makedirs(warehouse, exist_ok=True)
        self.catalog = StageCatalog(spark, warehouse, cfg.fingerprint())

    def run(self, turns: DataFrame) -> PipelineResult:
        cfg, cat = self.cfg, self.catalog

        from concurrent.futures import ThreadPoolExecutor

        # one pool for the whole DAG: the two main branches plus the
        # off-critical-path stage writes (skew/anchor reports, deduped) —
        # sized so no submitted task can wait behind a blocked waiter
        pool = ThreadPoolExecutor(max_workers=6)

        transcripts = cat.stage("transcripts", lambda: assemble_transcripts(turns))

        def build_shingle_sets() -> DataFrame:
            # ONE tiny agg over the checkpointed transcripts, inside the
            # stage closure so a fully-resumed run never executes it
            # (an unconditional collect here was a Spark job on the
            # serial driver path even when every stage was reused). It
            # sizes the char-cost-proportional shingle UDF stage AND
            # loudly guards the 8-byte conv_id surrogate: an xxhash64
            # collision across conv_ids would silently merge two
            # conversations' shingle sets (birthday bound ≈ n²/2^65 —
            # negligible below ~10^7 convs but ~3% at 10^9), so any
            # cid-collision fails fast here instead.
            row = transcripts.agg(
                F.sum("doc_len").alias("chars"),
                F.count(F.lit(1)).alias("n_convs"),
                F.countDistinct(
                    F.xxhash64(F.col("conv_id").cast("string"))
                ).alias("n_cids"),
            ).collect()[0]
            if int(row["n_cids"]) != int(row["n_convs"]):
                raise RuntimeError(
                    f"conv_id surrogate collision: {row['n_convs']} "
                    f"conversations hash to {row['n_cids']} distinct "
                    "xxhash64 cids — rerun with string conv ids "
                    "(exploded_shingles id_col='conv_id') or widen the "
                    "surrogate"
                )
            return shingling.shingle_sets(
                transcripts, cfg, total_chars=int(row["chars"] or 0)
            )

        sets_df = cat.stage("shingle_sets", build_shingle_sets)
        # cheap view, not checkpointed; "cid" = 8-byte conv surrogate so
        # the two ×set-size shuffles below (annotate-by-shingle,
        # regroup-by-conv) move fixed-width longs instead of id strings
        exploded = shingling.exploded_shingles(sets_df, id_col="cid")
        conv_dict = transcripts.select(
            "conv_id", F.xxhash64(F.col("conv_id").cast("string")).alias("cid")
        )
        # df annotation via ONE repartition-by-shingle + window count —
        # no df join anywhere downstream. The former shingle_df stage fed
        # a join whose df>=2 side measured 26.6M rows at 12k convs:
        # broadcast was a ~19 s single-threaded driver build (×2 — here
        # and in position_classes), a shuffled join re-shuffled the
        # ×set-size exploded table; the window pays one local sort and
        # every consumer reads the annotated checkpoint instead.
        # In manual df-band mode NO consumer ever reads the df == 1 rows
        # of the annotated table (informative_from_ann and
        # repeated_df_from_ann both start with df >= 2, and the
        # histogram is skipped) — and corpus-unique shingles are the
        # overwhelming majority of the explode (measured 122.5M → 26.6M
        # rows at a 12k-conv corpus), so checkpointing them serializes,
        # writes, and re-deserializes ~5× the bytes any downstream stage
        # touches. Further (round 4): manual-mode consumers only ever use
        # df as two booleans ("in the band", "repeated"), so the slim
        # layout stores a 1-byte in_band flag instead of the 8-byte df —
        # 103.5M rows at 12k convs, ~830 MB less checkpoint traffic per
        # write/read (this is the pipeline's single biggest table; see
        # repeated_df_from_ann for the lossless pseudo-df the
        # position-class lookup reconstructs). Auto band modes keep the
        # full table (the histogram needs every df). Resume safety:
        # df_band_mode is part of the config fingerprint, so switching
        # modes recomputes the stage; an old full-layout checkpoint
        # remains readable (consumers detect the layout by column).
        manual_band = cfg.df_band_mode == "manual"
        ann = cat.stage(
            "shingle_ann",
            lambda: (
                shingling.annotate_shingle_df(exploded)
                .filter(F.col("df") >= 2)
                .select(
                    *exploded.columns,
                    F.col("df")
                    .between(cfg.df_lo, cfg.df_hi)
                    .alias("in_band"),
                )
                if manual_band
                else shingling.annotate_shingle_df(exploded)
            ),
        )
        # df band: manual mode (the default) needs no histogram — the
        # collect is a full scan of the biggest table in the pipeline,
        # and it sits on the critical path (driver blocks). Only the
        # auto modes (tail/fit) pay it; exact counts-of-counts off the
        # annotated table (n_shingles(d) = rows(d)/d).
        if manual_band:
            lo, hi = cfg.df_lo, cfg.df_hi
        else:
            hist = shingling.df_histogram_from_ann(ann).collect()
            lo, hi = shingling.pick_df_band(
                [(r["df"], r["n_shingles"]) for r in hist], cfg
            )
        # fused: the per-conv repeated (df>=2) count for the stats sink
        # rides the SAME filter+regroup that builds the informative sets
        informative = cat.stage(
            "informative_sets",
            lambda: shingling.informative_from_ann(
                ann, lo, hi, id_col="cid", conv_dict=conv_dict
            ),
        )
        signatures = cat.stage(
            "signatures", lambda: lsh.compute_signatures(informative, cfg)
        )
        # Candidate source is config-switched (cfg.candidate_source):
        #
        # * "banding" (default) — MinHash band self-join with the
        #   three-tier skew handling; probabilistic recall tuned by
        #   (bands, rows_per_band).
        # * "prefix" — exact AllPairs/PPJoin prefix filter over the
        #   informative shingle sets (operators/prefix_filter): recall
        #   1.0 BY CONSTRUCTION for the containment verify predicate —
        #   including small⊂large pairs (tiny Jaccard) that banding at
        #   b=64/r=2 misses with high probability. Volume tracks true
        #   positives, not corpus². The band/bucket machinery is
        #   skipped entirely in this mode (skew_report is empty: hot
        #   tokens expel themselves from prefixes by df-ascending
        #   order, so there is no bucket to drop).
        skew_f = None
        if cfg.candidate_source == "prefix":
            from dedup_spark.operators import prefix_filter

            def build_prefix_candidates() -> DataFrame:
                toks = informative.select(
                    "conv_id",
                    F.col("shingles").alias("toks"),
                    F.col("n_shingles").alias("n_toks"),
                )
                cand = prefix_filter.candidate_pairs(
                    toks, block_cols=(), id_col="conv_id",
                    threshold=cfg.verify_containment,
                    plus1=cfg.containment_plus1,
                )
                return cand.select(
                    F.col("doc_a").alias("conv_a"), F.col("doc_b").alias("conv_b")
                )

            candidates = cat.stage("candidate_pairs", build_prefix_candidates)
        else:
            # bands stay a lazy projection of the signatures checkpoint
            # (a posexplode re-run per consumer is cheaper than a
            # dedicated write+rename+read checkpoint cycle on the serial
            # driver path)
            bands = lsh.explode_bands(signatures)
            bucket_sizes = cat.stage(
                "bucket_sizes", lambda: lsh.band_bucket_sizes(bands)
            )
            # observability stage off the critical path: overlap its
            # write with candidate generation
            skew_f = pool.submit(
                lambda: cat.stage(
                    "skew_report", lambda: lsh.skew_report(bucket_sizes, cfg)
                )
            )
            candidates = cat.stage(
                "candidate_pairs",
                lambda: lsh.candidate_pairs(bands, bucket_sizes, cfg),
            )
        # From here the DAG forks into two INDEPENDENT branches that run
        # concurrently from driver threads (Spark schedules their jobs
        # side by side): narrow tail stages of one branch no longer
        # leave executor cores idle while the other branch has work —
        # measured as the main parallel-efficiency tax at high core
        # counts. Checkpoint/resume semantics are unchanged (each branch
        # is the same cat.stage chain as before).
        #
        # Branch A — whole-conversation dedup: exact verify → connected
        # components → representative emit + stats.
        #
        # Branch B — suffix-array substring pass (minimap2 analog,
        # SURVEY §7 step 4). Spans are restricted to LSH candidate pairs
        # (the reference computes the corpus-wide self-alignment but
        # only ever looks candidates up, dedup.py:152 — restriction is
        # semantic-preserving and much cheaper), and restricted BEFORE
        # the explode via a semi-join on the compact transcripts table,
        # so its volume tracks the candidate set, not the corpus.
        # ``deduped_turns`` stays whole-conversation dedup (the primary
        # contract with its per-turn-equality invariant);
        # ``trimmed_turns`` additionally applies the reference's
        # interval-trim semantics (contig.py:134-191) at turn
        # granularity and joins the branches at the end.

        def branch_a():
            verified = cat.stage(
                "verified_pairs",
                lambda: verify.verify_pairs(candidates, signatures, cfg),
            )
            clusters = cat.stage(
                "clusters",
                lambda: connected_components(
                    transcripts.select("conv_id"),
                    verified.select("conv_a", "conv_b"),
                    cfg.cc_max_iters,
                ),
            )
            # deduped and stats are independent given clusters — both go
            # to the pool so branch A's thread releases the moment the
            # cluster labels exist; stats (the heaviest off-path stage)
            # overlaps with branch B's tail instead of extending the
            # critical path, and is resolved only after trimmed_turns
            ded_f = pool.submit(
                lambda: cat.stage("deduped_turns", lambda: self._emit(turns, clusters))
            )
            stats_f = pool.submit(
                lambda: cat.stage(
                    "stats",
                    lambda: self._stats(
                        transcripts, sets_df, signatures, clusters,
                        informative, cfg,
                    ),
                )
            )
            return verified, clusters, ded_f, stats_f

        def branch_b():
            cand_convs = (
                candidates.select(F.col("conv_a").alias("conv_id"))
                .union(candidates.select(F.col("conv_b").alias("conv_id")))
                .distinct()
            )
            cand_transcripts = transcripts.join(cand_convs, "conv_id", "left_semi")

            # The suffix explode is branch B's biggest subplan and has
            # TWO consumers (key_occ, anchor_matches): materialize it
            # once into block storage instead of re-exploding per
            # consumer. Lazily — when both consumer stages resume from
            # checkpoints, the explode never runs at all.
            skeys_box: dict[str, DataFrame] = {}

            def skeys_ck() -> DataFrame:
                if "df" not in skeys_box:
                    # cheap column-pruned agg over the checkpointed
                    # transcripts sizes the suffix explode
                    total_chars = (
                        cand_transcripts.agg(F.sum("doc_len")).collect()[0][0] or 0
                    )
                    from dedup_spark.util import eager_ckpt

                    skeys_box["df"] = eager_ckpt(
                        substring.suffix_keys(
                            cand_transcripts, cfg, total_chars=total_chars
                        )
                    )
                return skeys_box["df"]

            # one aggregation pass over the suffix explode serves BOTH
            # the skew report and the anchor-pass key restriction
            key_occ = cat.stage(
                "key_occ_repeated",
                lambda: substring.key_occurrence(skeys_ck()).filter(F.col("occ") > 1),
            )
            # observability writes overlapped with the anchor/chain work
            anchor_f = pool.submit(
                lambda: cat.stage(
                    "anchor_skew", lambda: substring.anchor_skew_report(key_occ, cfg)
                )
            )
            # (rounds 1-3 wrote a non_ascii_report stage here: docs whose
            # char/byte lengths disagreed were EXCLUDED from the byte-
            # position substring pass. The pass — positions, interval
            # decisions, turn trimming — is now byte-indexed end to end,
            # so nothing is excluded and the report is gone.)
            # the position-class df lookup side is chains-independent:
            # prebuild it on a pool thread so its scan+dedup of the
            # annotated table overlaps the chain stage's narrow window
            # phases instead of extending the branch tail. Skipped
            # entirely when position_classes resumes from checkpoint.
            rep_f = None
            if not cat.exists("position_classes"):
                from dedup_spark.util import eager_ckpt

                rep_f = pool.submit(
                    lambda: eager_ckpt(
                        shingling.repeated_df_from_ann(ann, lo, hi)
                        .withColumnRenamed("shingle", "key")
                    )
                )
            chains = cat.stage(
                "substring_chains",
                lambda: substring.simplify_spans(
                    substring.chain_anchors(
                        substring.anchor_matches(
                            skeys_ck(), cfg, pairs=candidates,
                            convs=cand_transcripts, key_occ=key_occ,
                        ),
                        cfg,
                    )
                ),
            )
            # dnd position classes restricted to the spans' own char
            # ranges (volume ∝ total span chars, not ×doc_len); df stays
            # CORPUS-WIDE via the annotated checkpoint. The lookup side
            # is hinted MERGE (sort-merge): it is no broadcast candidate
            # (26.6M distinct df>=2 shingles at 12k convs; terabytes at
            # real scale) yet checkpoint-inherited stat estimates made
            # the static planner broadcast it (measured "Not enough
            # memory to build and broadcast" at local[32] on an 8g
            # heap), and a forced shuffled-hash build cannot spill
            # (measured "Can't acquire memory to build hash relation"
            # at the same scale). SMJ's radix sort on the 8-byte key
            # spills gracefully at every memory:parallelism ratio.
            poscls = cat.stage(
                "position_classes",
                lambda: scoring.span_position_classes(
                    chains,
                    cand_transcripts,
                    rep_f.result().hint("merge"),
                    cfg,
                    lo,
                    hi,
                ),
            )
            spans = cat.stage(
                "substring_spans",
                lambda: scoring.score_spans(chains, poscls, cfg),
            )
            best_spans = substring.best_substring_match(spans)
            marks = cat.stage(
                "interval_marks",
                lambda: intervals.decide_intervals(best_spans, transcripts, cfg),
            )
            return anchor_f.result(), spans, marks

        try:
            fa = pool.submit(branch_a)
            fb = pool.submit(branch_b)
            verified, clusters, ded_f, stats_f = fa.result()
            anchor_skew, spans, marks = fb.result()

            merged = intervals.merge_intervals(marks)
            deduped = ded_f.result()
            trimmed = cat.stage(
                "trimmed_turns", lambda: intervals.trim_turns(deduped, merged, cfg)
            )
            stats = stats_f.result()
            skew = (
                skew_f.result()
                if skew_f is not None
                else self.spark.createDataFrame(
                    [], "band_id int, band_hash long, bucket_size long"
                )
            )
        finally:
            pool.shutdown(wait=True)
        cat.flush()  # every checkpoint durable before the run returns

        return PipelineResult(
            transcripts=transcripts,
            signatures=signatures,
            candidate_pairs=candidates,
            verified_pairs=verified,
            clusters=clusters,
            deduped_turns=deduped,
            stats=stats,
            skew_report=skew,
            metrics=cat.metrics_df(),
            df_band=(lo, hi),
            substring_spans=spans,
            interval_marks=marks,
            trimmed_turns=trimmed,
            anchor_skew=anchor_skew,
        )

    @staticmethod
    def _emit(turns: DataFrame, clusters: DataFrame) -> DataFrame:
        """Keep the cluster representative (min conv_id = its own label),
        drop the rest; surviving rows pass through verbatim (per-turn
        text equality invariant — we never rewrite text). Analog of the
        final FASTA emit, reference dedup.py:177-187."""
        dropped = clusters.filter(F.col("conv_id") != F.col("cluster_id")).select(
            "conv_id"
        )
        return turns.join(dropped, "conv_id", "left_anti")

    @staticmethod
    def _stats(
        transcripts: DataFrame,
        sets_df: DataFrame,
        signatures: DataFrame,
        clusters: DataFrame,
        informative: DataFrame,
        cfg: DedupConfig,
    ) -> DataFrame:
        """Per-conversation stats (analog of {prefix}_stats.csv +
        deduplicated_stats.csv, reference dedup.py:418-422,177-187):

        * ``n_dup_shingles`` / ``n_non_dup_shingles`` — the conv's
          duplicated (df ∈ informative band) vs non-duplicated (df == 1)
          shingle totals, the sum(homo_dup_depth)/sum(homo_non_dup_depth)
          split (A5; set semantics — per-conv shingle sets are distinct).
          ``n_shingles`` on signatures IS the dup count already (the
          informative set), and the df == 1 count is the complement of
          the conv's df >= 2 count, which rides the informative stage
          (shingling.informative_from_ann) — no extra scan of the
          exploded table.
        * removal ratios with the reference's 1e-6 epsilon
          (dedup.py:183-186, X3): under whole-conversation dedup a
          non-representative conv removes ALL its shingles.
        """
        repeated = informative.select("conv_id", "n_repeated")
        e = F.lit(cfg.stats_epsilon)
        base = (
            transcripts.select("conv_id", "n_turns", "doc_len")
            .join(
                sets_df.select("conv_id", F.col("n_shingles").alias("n_total")),
                "conv_id",
                "left",
            )
            .join(
                signatures.select("conv_id", "n_shingles"), "conv_id", "left"
            )
            .join(repeated, "conv_id", "left")
            .join(clusters, "conv_id", "left")
            .withColumn("n_dup_shingles", F.coalesce("n_shingles", F.lit(0)))
            .withColumn(
                "n_non_dup_shingles",
                F.coalesce("n_total", F.lit(0)) - F.coalesce("n_repeated", F.lit(0)),
            )
            .withColumn(
                "is_representative", F.col("conv_id") == F.col("cluster_id")
            )
            .drop("n_total", "n_repeated")
        )
        removed_dup = F.when(
            F.col("is_representative"), F.lit(0)
        ).otherwise(F.col("n_dup_shingles"))
        removed_non_dup = F.when(
            F.col("is_representative"), F.lit(0)
        ).otherwise(F.col("n_non_dup_shingles"))
        return (
            base.withColumn("removed_dup", removed_dup)
            .withColumn("removed_non_dup", removed_non_dup)
            # the three epsilon ratios, constants exact (dedup.py:183-186)
            .withColumn(
                "dup_removed_ratio", F.col("removed_dup") / (F.col("n_dup_shingles") + e)
            )
            .withColumn(
                "non_dup_removed_ratio",
                F.col("removed_non_dup") / (F.col("n_non_dup_shingles") + e),
            )
            .withColumn(
                "dnd_removed_ratio",
                F.col("removed_dup") / (F.col("removed_non_dup") + e),
            )
            .drop("n_shingles")
        )
