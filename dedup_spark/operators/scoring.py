"""Per-position duplication classes + dnd-density span scoring.

Ports the reference's dnd (duplicated/non-duplicated) machinery to
transcripts:

* **Per-position classes** — the reference annotates every contig
  position with duplicated / non-duplicated k-mer depth
  (/root/reference/dedup/dedup.py:403-406, contig.py:193-199) and
  derives ``dnd_ratio[pos] = dup_depth - non_dup_depth``, NaN where
  neither maps (contig.py:53-69). The transcript analog: the k-shingle
  STARTING at each position is classified by its corpus document
  frequency — ``+1`` if df ∈ [lo, hi] (the informative/duplicated band,
  kmer_utilities.py:37), ``-1`` if df == 1 (unique, the non-duplicated
  band, kmer_utilities.py:38), and *no row* otherwise (boilerplate —
  the NaN analog, skipped by ``nanmean``).

* **Span scoring** — reference node scores (alignment.py:256-282):

      density_x = span_len_x * nanmean(dnd[start:end])   (NaN → 0)
      keep iff density_a >= min_coverage * span_len_a
           and density_b >= min_coverage * span_len_b     (:266-270)
      score = density_a + density_b + match_weight * matched  (:274-275)
      keep iff score > 0                                  (:277-280)

  Applied to chained spans (our nodes); ``best_substring_match`` then
  takes the top-1 by this score instead of raw matched chars — a long
  boilerplate span no longer outranks a shorter, genuinely informative
  one.

Scale notes: position classes are a ×doc_len explode — the same volume
class as the suffix-key pass, and like it the pipeline restricts the
position side to candidate conversations before exploding (corpus-wide
df comes from the already-checkpointed shingle_df). The span⋈position
join is an equi-join on the conv id followed by a range filter: spans
per conversation are few (LSH-pruned pairs), so the fan-out is
|positions| × spans_per_conv, not quadratic. All expressions JVM-side.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from dedup_spark.config import DedupConfig


def jvm_window_keys(transcripts: DataFrame, k: int) -> DataFrame:
    """transcripts → (conv_id, pos, key): xxhash64 of every k-byte
    window, 1-based BYTE positions of the UTF-8 encoding. Same fused
    explode shape as substring.suffix_keys (generator + projection in
    one codegen stage), and like it slices a BINARY copy — string
    substr is O(pos) char scanning, O(doc_len²) per doc over all
    windows. The whole family is byte-indexed (positions, spans,
    interval/trim arithmetic), so non-ASCII docs participate fully."""
    return (
        transcripts.filter(F.octet_length("doc") >= k)
        .select("conv_id", F.encode("doc", "UTF-8").alias("b"))
        .select(
            "conv_id",
            "b",
            F.explode(F.sequence(F.lit(1), F.length("b") - k + 1)).alias("pos"),
        )
        .select("conv_id", "pos", F.expr(f"xxhash64(substring(b, pos, {k}))").alias("key"))
    )


def window_df(keys: DataFrame) -> DataFrame:
    """(conv_id, pos, key) → (key, df): distinct-conversation document
    frequency per window — hash-space-invariant, so it matches the
    polynomial-kernel shingle_df on the same corpus."""
    return (
        keys.dropDuplicates(["conv_id", "key"])
        .groupBy("key")
        .agg(F.count(F.lit(1)).alias("df"))
    )


def position_classes(
    keys: DataFrame, df_table: DataFrame, lo: int, hi: int
) -> DataFrame:
    """(conv_id, pos, key) ⋈ (key, df) → (conv_id, pos, cls).

    cls = +1 for df ∈ [lo, hi] (duplicated), -1 for df == 1
    (non-duplicated); any other df emits no row (NaN analog,
    contig.py:63-64). ``df_table`` must use the same key hash space as
    ``keys`` (jvm_window_keys ↔ window_df, or the positional shingle UDF
    ↔ the pipeline's shingle_df). Requires lo >= 2 (df == 1 is the
    non-duplicated class by definition)."""
    if lo < 2:
        raise ValueError(f"position-class lo must be >= 2, got {lo}")
    # Join against the df >= 2 SUBSET only — the overwhelming majority
    # of windows are corpus-unique (df == 1), so shipping the full df
    # table through the join would shuffle the biggest table in the
    # pipeline to classify rows a null probe identifies for free: after
    # a LEFT join on the repeated-window side, NULL df ⇔ df == 1 ⇔
    # non-duplicated. Join STRATEGY is the caller's call (pass a hinted
    # df_table): at interactive scale the subset broadcasts; the
    # pipeline passes shuffle_hash because its subset measured 26.6M
    # rows at a 12k-conv corpus — a ~19 s single-threaded driver build
    # there, and unbroadcastable at 10^12 turns.
    # Distinct column names sidestep self-join attribute ambiguity
    # (df_table is typically derived from keys).
    d = df_table.select(
        F.col(df_table.columns[0]).alias("__k"),
        F.col(df_table.columns[1]).alias("__df"),
    ).filter(F.col("__df") >= 2)
    cls = (
        F.when(F.col("__df").isNull(), F.lit(-1))
        .when(F.col("__df").between(F.lit(lo), F.lit(hi)), F.lit(1))
    )
    return (
        keys.join(d, F.col("key") == F.col("__k"), "left")
        .withColumn("cls", cls)
        .filter(F.col("cls").isNotNull())
        .select("conv_id", "pos", "cls")
    )


def score_spans(spans: DataFrame, poscls: DataFrame, cfg: DedupConfig) -> DataFrame:
    """Chained spans + position classes → dnd-scored spans.

    Expects spans keyed by (conv_a, conv_b, chain_id) with
    a_start/a_end/b_start/b_end/matched; returns the survivors of the
    coverage + positive-score predicates with ``dnd_a``/``dnd_b``
    density scores and the reference-weighted total ``score``
    (alignment.py:256-282; F4/F5/A9 in SURVEY §2). Spans whose range
    holds no classified positions score a density of 0 (the NaN→0
    branch, alignment.py:259-264).

    Positions counted per side are the k-shingle start positions lying
    inside the span's 1-based inclusive interval — the analog of the
    reference's [start:end) kmer-start slice in its 0-based coords."""
    key = ["conv_a", "conv_b", "chain_id"]

    def side_stats(side: str) -> DataFrame:
        p = poscls.select(F.col("conv_id").alias(f"conv_{side}"), "pos", "cls")
        # shuffled-hash join with the SPANS side as the build: the
        # positions side is the biggest table in the branch (40M rows at
        # a 16k-conv corpus), so (a) a broadcast pick — which
        # checkpoint-inherited stat estimates DO make — is a
        # driver-memory time bomb, (b) building the hash relation on the
        # positions side cannot spill (measured "Can't acquire memory to
        # build hash relation" at local[32]/8g), and (c) a sort-merge
        # hint sorts the positions side TWICE (once per span end) —
        # measured as the dominant cost of span scoring. Hashing the
        # spans side is none of those: spans are LSH-pruned pairs, always
        # orders of magnitude smaller than positions, so the per-partition
        # build is small; the positions side only shuffles, never sorts.
        return (
            spans.select(*key, f"{side}_start", f"{side}_end")
            .hint("shuffle_hash")
            .join(p, f"conv_{side}")
            .filter(F.col("pos").between(F.col(f"{side}_start"), F.col(f"{side}_end")))
            .groupBy(*key)
            .agg(
                F.sum("cls").alias(f"dnd_sum_{side}"),
                F.count(F.lit(1)).alias(f"dnd_n_{side}"),
            )
        )

    j = (
        spans.join(side_stats("a"), key, "left")
        .join(side_stats("b"), key, "left")
    )
    len_a = F.col("a_end") - F.col("a_start") + 1
    len_b = F.col("b_end") - F.col("b_start") + 1

    def density(side: str, length):
        return F.when(
            F.col(f"dnd_n_{side}").isNotNull() & (F.col(f"dnd_n_{side}") > 0),
            length * (F.col(f"dnd_sum_{side}") / F.col(f"dnd_n_{side}")),
        ).otherwise(F.lit(0.0))

    scored = (
        j.withColumn("dnd_a", density("a", len_a))
        .withColumn("dnd_b", density("b", len_b))
        # coverage predicate on BOTH sides (alignment.py:266-270, F4)
        .filter(
            (F.col("dnd_a") >= cfg.min_coverage * len_a)
            & (F.col("dnd_b") >= cfg.min_coverage * len_b)
        )
        # length-weighted density + match bonus (alignment.py:274-275, A9)
        .withColumn(
            "score",
            (F.col("dnd_a") + F.col("dnd_b"))
            + F.lit(cfg.match_weight) * F.col("matched"),
        )
        # positive-score predicate (alignment.py:277-280, F5)
        .filter(F.col("score") > 0)
    )
    return scored.select(
        "conv_a", "conv_b", "chain_id",
        "a_start", "a_end", "b_start", "b_end",
        "n_anchors", "matched", "dnd_a", "dnd_b", "score",
    )


def span_position_classes(
    chains: DataFrame,
    transcripts: DataFrame,
    shingle_df: DataFrame,
    cfg: DedupConfig,
    lo: int,
    hi: int,
) -> DataFrame:
    """Position classes restricted to the chained spans' OWN ranges.

    Scoring only ever reads positions inside a span's [start, end]
    interval, yet classifying every position of every span conversation
    explodes ×doc_len (measured as the pipeline's single biggest stage).
    Instead: merge each conversation's span intervals, slice just those
    text fragments (+k−1 chars so every window STARTING in the interval
    exists), hash the fragments through the same polynomial kernel, and
    re-base positions by the fragment offset. UDF + join volume is then
    proportional to total span chars, not total doc chars.
    """
    from dedup_spark.functions.udfs import make_window_hash_udf
    from dedup_spark.operators.intervals import merge_intervals

    k = cfg.shingle_k
    ivals = merge_intervals(
        chains.select(
            F.col("conv_a").alias("conv_id"),
            F.col("a_start").alias("start"),
            F.col("a_end").alias("end"),
        ).union(
            chains.select(
                F.col("conv_b").alias("conv_id"),
                F.col("b_start").alias("start"),
                F.col("b_end").alias("end"),
            )
        )
    )
    udf = make_window_hash_udf(cfg)
    # merge hint: statistics inherited through checkpoints under-estimate
    # both sides, and the static pick was a broadcast of the TRANSCRIPT
    # DOC STRINGS — tens of MB here, unbounded at corpus scale, and a
    # measured flaky OOM at local[32]/8g. Sort-merge sorts ~|convs| rows.
    # BYTE-space slice: span positions are byte offsets, so fragments
    # are cut from the binary encoding (cutting a multibyte char at a
    # fragment edge is harmless — every k-byte window STARTING inside
    # [start, end] is intact, and those are exactly the positions
    # scoring reads). The window-hash kernel consumes the bytes
    # directly — same hash space as the whole-doc shingle UDF, which
    # also enumerates every byte window.
    frags = (
        ivals.join(transcripts.select("conv_id", "doc").hint("merge"), "conv_id")
        .select(
            "conv_id",
            "start",
            F.expr(
                f"substring(encode(doc, 'UTF-8'), start, `end` - start + {k})"
            ).alias("frag"),
        )
        .withColumn("h", udf(F.col("frag")))
        .select("conv_id", "start", F.posexplode("h").alias("i", "key"))
        .select("conv_id", (F.col("start") + F.col("i")).alias("pos"), "key")
    )
    return position_classes(frags, shingle_df, lo, hi)
