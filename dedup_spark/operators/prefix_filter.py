"""Exact set-similarity candidate generation via size-stratified prefix
filtering (AllPairs / PPJoin family — Bayardo, Ma & Srikant, WWW'07;
Xiao et al., WWW'08 — public literature).

Replaces probabilistic MinHash banding for the containment-verify
family: unlike any r/b banding scheme, the prefix filter has **recall
exactly 1.0 by construction**, so the verified output is guaranteed
equal to the exhaustive self-join on *any* corpus — including the
size-asymmetric pairs (small doc contained in a much larger one, tiny
Jaccard) where r=1/b=128 banding silently diverges from the oracle.
This is the candidate stage the reference's ``MinHashLSHEnsemble``
(dedup.py:333-345) approximates: the ensemble partitions its index by
set SIZE to keep containment recall; we stratify the same way but stay
exact.

Theory
------
Fix one total order on tokens (any order works; :func:`candidate_pairs`
uses ascending document frequency, ties by token value — rarest first,
so boilerplate tokens sort LAST and fall out of prefixes). If ``|x ∩ y| >= c`` then the first
``|x| - c + 1`` tokens of x and the first ``|y| - c + 1`` tokens of y
share at least one token (pigeonhole on the global order).

The verify predicate ``common > t * (n_small + 1)`` gives a required
overlap that depends on the SMALLER side's size, so a single global
prefix length would degenerate to whole documents (a huge doc paired
with a tiny one may only need to share 2 tokens). Stratify by size
instead: for stratum ``s`` (docs with ``n in [2^s, 2^(s+1))``) the
required overlap is at least ``c_s = floor(t * (2^s + 1)) + 1``
(integer-exact for t = 1/5 via ``(2^s + 1) // 5 + 1``). Every doc
emits, for each stratum ``s`` from the corpus minimum up to its own,
its prefix of length ``n - c_s + 1``; a qualifying pair (smaller side
in stratum s) then collides on some token at stratum s, and the
``min(own_stratum) == s`` filter stops the same pair re-colliding at
every lower stratum.

Kernel and callers
------------------
One kernel: :func:`prefix_rows` emits the stratified prefix rows of
ranked tokens (the exact-rational ``c_s`` lives only here) and
:func:`meet` joins two such frames on ``(s, tok)`` under the stratum and
PPJoin positional filters. Its one caller, :func:`candidate_pairs`,
ranks by block-local df and self-meets; it serves batch
``candidate_source="prefix"`` and the ``verified_token_pairs`` /
``cc_clusters`` entry queries. The incremental fold needs no prefix
filter: every shingle of its df-bounded informative sets has at most
``df_hi`` members, so it joins on the shingle itself.

Scale shape
-----------
One explode (×n_toks), one df window, one rank window, a stratified
re-emit (≈ #strata × prefix fraction of the explode), and a bucket
equi-self-join keyed by (stratum, block-folded token) — the same join
shape as LSH banding, with buckets keyed by (block, stratum, token)
instead of (block, band, hash). Hot buckets are exactly the frequent
tokens, and the df-ascending order expels them from every prefix whose
stratum requires more than one shared token; candidate volume tracks
the OUTPUT volume (pairs sharing rare tokens), not corpus².
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window, functions as F

__all__ = ["candidate_pairs", "meet", "prefix_rows"]


def prefix_rows(
    ranked: DataFrame,
    s_min: Column,
    threshold: float = 0.2,
    plus1: bool = True,
) -> DataFrame:
    """Stratified prefix rows of ranked token rows.

    ``ranked``: one row per (``id``, ``tok``) with the token's 1-based
    ``rnk`` under the caller's fixed total order and the set size ``n``.
    Every set emits, for each stratum ``s`` from ``s_min`` (a literal or
    a per-row column) up to its own ``s_own``, its ``n - c_s + 1``-prefix:
    rows (``id``, ``s_own``, ``s``, ``c_s``, ``tok``, ``rem``), ``rem``
    counting the set's tokens at or after ``tok``. ``threshold`` becomes
    an exact rational, so no float rounding can cost a candidate.

    ``plus1`` MUST mirror the verify predicate's denominator
    (DedupConfig.containment_plus1, the reference's +1 at
    dedup.py:363-364): with plus1 off, verify accepts the strictly
    weaker ``common > t·n_small``, so the required-overlap floor drops
    by up to 1 — deriving c_s from the wrong setting silently misses
    boundary pairs with t·n_small < common <= t·(n_small+1).
    """
    from fractions import Fraction

    frac = Fraction(threshold).limit_denominator(1_000_000)
    t_num, t_den = frac.numerator, frac.denominator
    p1 = 1 if plus1 else 0
    return (
        ranked.withColumn("s_own", F.floor(F.log2("n")).cast("int"))
        .withColumn(
            "s", F.explode(F.sequence(F.least(s_min, "s_own"), F.col("s_own")))
        )
        # c_s = (num·(2^s + plus1)) DIV den + 1, integer-exact (common is
        # an integer, so common > t·(n+p) ⇔ common >= floor(t·(n+p)) + 1;
        # at the default t = 1/5, plus1=True this is (2^s+1) DIV 5 + 1)
        .withColumn(
            "c_s",
            F.expr(
                f"({t_num} * (shiftleft(CAST(1 AS BIGINT), s) + {p1})) "
                f"DIV {t_den} + 1"
            ),
        )
        .filter(F.col("rnk") <= F.col("n") - F.col("c_s") + 1)
        .select(
            "id", "s_own", "s", "c_s", "tok",
            (F.col("n") - F.col("rnk") + 1).alias("rem"),
        )
    )


def meet(a: DataFrame, b: DataFrame) -> DataFrame:
    """Pairs of :func:`prefix_rows` frames that collide on a prefix token
    in the smaller side's own stratum and can still reach ``c_s``: the
    uncanonicalized (``id_a``, ``id_b``) pairs, one per surviving
    collision (self-pairs and repeats included)."""
    a = a.select(
        F.col("id").alias("id_a"), F.col("s_own").alias("sa"),
        F.col("rem").alias("rem_a"), "s", "c_s", "tok",
    )
    b = b.select(
        F.col("id").alias("id_b"), F.col("s_own").alias("sb"),
        F.col("rem").alias("rem_b"), "s", "tok",
    )
    return (
        a.join(b, ["s", "tok"])
        .filter(
            # a pair meets ONLY in the smaller side's own stratum —
            # every lower stratum would re-emit the same pair
            (F.least("sa", "sb") == F.col("s"))
            # PPJoin positional filter: tokens from this collision
            # position onward upper-bound the remaining overlap; a
            # collision that cannot reach c_s is dead (a qualifying
            # pair's FIRST shared prefix token always survives this —
            # everything c_s-deep still lies at or after it on both
            # sides — so recall stays exact while mid-prefix repeat
            # collisions of non-qualifying pairs die before the shuffle)
            & (F.least("rem_a", "rem_b") >= F.col("c_s"))
        )
        .select("id_a", "id_b")
    )


def candidate_pairs(
    doc_tokens: DataFrame,
    block_cols: tuple[str, ...] = ("lang", "source"),
    id_col: str = "doc_id",
    threshold: float = 0.2,
    plus1: bool = True,
) -> DataFrame:
    """Exact candidates for ``common > threshold * (n_small + plus1)``
    within blocks.

    ``doc_tokens``: one row per document with ``id_col``, the
    ``block_cols``, ``toks`` (array of DISTINCT token hashes) and
    ``n_toks``. Returns distinct ``(doc_a, doc_b)`` with
    ``doc_a < doc_b``, a SUPERSET of all qualifying pairs.

    ``block_cols`` may be empty (one global block — the pipeline path,
    where candidate pairs may cross any attribute). ``threshold`` and
    ``plus1`` are as in :func:`prefix_rows`.
    """
    bc = list(block_cols)
    # one fused int64 block key: every downstream shuffle/join keys on
    # longs instead of an N-column string composite. No blocking →
    # constant key (strata still bound the probe range).
    blk = F.xxhash64(*bc) if bc else F.lit(0).cast("long")
    docs = doc_tokens.filter(F.size("toks") > 0)
    base = docs.select(
        F.col(id_col).alias("id"),
        blk.alias("blk"),
        F.explode("toks").alias("tok"),
        F.col("n_toks").alias("n"),
    )
    # block-scoped document frequency — the token order only has to be
    # consistent WITHIN a block (pairs never cross blocks), and
    # block-local df prunes better than corpus-global. Computed as a
    # window count over the SAME shuffle the rank pass needs anyway —
    # no groupBy + join back (measured ~2× the whole stage's cost).
    ranked = (
        base.withColumn(
            "tdf", F.count(F.lit(1)).over(Window.partitionBy("blk", "tok"))
        )
        .withColumn(
            "rnk",
            F.row_number().over(Window.partitionBy("id").orderBy("tdf", "tok")),
        )
    )
    # smallest stratum PRESENT per block bounds the probe range: probing
    # below it would emit near-whole-document prefixes for partners that
    # cannot exist (tiny broadcast side: one row per block)
    strat_floor = (
        docs.select(blk.alias("blk"), F.floor(F.log2("n_toks")).cast("int").alias("st"))
        .groupBy("blk")
        .agg(F.min("st").alias("s_min"))
    )
    rows = prefix_rows(
        ranked.join(F.broadcast(strat_floor), "blk").select(
            # the block folds into the token key: pairs meet only
            # within their block
            "id", F.xxhash64("blk", "tok").alias("tok"), "rnk", "n", "s_min",
        ),
        F.col("s_min"), threshold, plus1,
    )
    # The self-join would otherwise evaluate the ENTIRE row subplan
    # (explode → df window → rank window → stratified re-emit) once per
    # side — verified in the physical plan: two full copies of the
    # window chain. One eager localCheckpoint halves the stage; the
    # join then reads materialized blocks on both sides.
    from dedup_spark.util import eager_ckpt

    rows = eager_ckpt(rows)
    return (
        meet(rows, rows)
        .filter(F.col("id_a") < F.col("id_b"))
        .select(F.col("id_a").alias("doc_a"), F.col("id_b").alias("doc_b"))
        .dropDuplicates(["doc_a", "doc_b"])
    )
