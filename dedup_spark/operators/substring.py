"""Distributed suffix-array substring pass: near-duplicate substring
detection across transcripts.

The Spark re-expression of the reference's minimap2 self-alignment +
PAF chaining (/root/reference/dedup/dedup.py:424-462;
alignment.py:284-372), done seed-and-chain style over suffix-prefix
keys instead of shelling out to an aligner:

1. **Suffix keys** — every transcript suffix is keyed by the hash of
   its first ``anchor_w`` BYTES of the UTF-8 encoding
   (`xxhash64(substring(bytes, i, w))`, all JVM-side). Two suffixes
   agree on a key iff they share a length-w byte prefix, so grouping by
   key is exactly the bucketing a suffix array's first-w-byte radix
   pass produces. All positions in this family are 1-based byte
   offsets, and downstream interval/trim arithmetic is byte-based too,
   so non-ASCII documents get full substring-level dedup.
2. **Anchor matches** — a self-join on the key yields cross-conversation
   anchor pairs ``(conv_a, conv_b, a_pos, b_pos)`` — the analog of
   minimap2's seed hits (one PAF line ≈ one chained run of these).
   Skew guard: suffix keys are Zipfian under boilerplate; keys whose
   corpus-wide occurrence exceeds ``max_anchor_occ`` are excluded from
   the join and REPORTED (never silently), mirroring the LSH bucket cap.
3. **Chaining** — colinear anchors whose gaps stay under ``max_gap``
   merge into maximal shared spans. The reference builds a per-pair DAG
   and runs longest-path (alignment.py:284-372, exponential worst case,
   TODO at alignment.py:87); the colinear-chain semantics reduce to a
   sorted window scan with a gap predicate (SURVEY.md §2.4 J6) —
   O(n log n), no graph, no Python in the loop. Text has no reverse
   strand, so the reference's +/− direction collapses to '+'.
4. **Best span per pair** — top-1 by score (alignment.py:99-102, O1).

Scale notes: suffix-key enumeration multiplies rows by ~doc_len;
the key self-join shuffles on the key (high-cardinality, cap-bounded
buckets ⇒ bounded pair fan-out m·(m−1)/2 ≤ occ²); chaining shuffles
once on the pair key. All three shuffles are AQE-coalesced. For a
10^12-turn corpus raise ``anchor_sample_mod`` (content-hash sampled
suffixes, ~1/mod of the keys) — recall degrades gracefully: both docs
keep the same windows inside shared content, so a shared span of
length L is seeded with P = 1−(1−1/mod)^(L−w+1).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window as W, functions as F

from dedup_spark.config import DedupConfig


def suffix_keys(
    transcripts: DataFrame, cfg: DedupConfig, total_chars: int | None = None
) -> DataFrame:
    """transcripts → (conv_id, pos, key): 1-based suffix position and the
    hash of the suffix's first ``anchor_w`` chars. JVM-only expression —
    no Python, no UDF, and fully LAZY: no Spark job runs at
    DataFrame-construction time (an eager sizing agg here used to
    re-execute the whole upstream once per composed query).

    Plan shape matters here: explode a plain int ``sequence`` of
    positions and compute ``xxhash64(substr(doc, pos, w))`` in the SAME
    whole-stage-codegen stage — the generator and the projection fuse,
    so neither the doc string nor any per-position struct array is ever
    materialized. (The tempting one-shot
    ``explode(transform(sequence(...), i -> struct(i, xxhash64(...))))``
    builds a doc_len-sized array of structs per row first — measured
    25-50× slower and a GC storm at high parallelism.)

    Partitioning is by OUTPUT rows, not input rows: the explode amplifies
    each transcript ×doc_len, and the downstream bucket groupBy's
    map-side partial aggregation only stays hash-based (no sort fallback)
    while per-task distinct keys stay under the object-hash-agg
    threshold; ~1M windows per task keeps it there with headroom. The
    count comes from the caller-supplied ``total_chars`` (the pipeline
    passes a single cheap agg over its already-checkpointed transcripts
    stage), else 2×defaultParallelism — adequate for interactive/small-sf
    use where AQE re-splits, while production corpora should supply
    ``total_chars``."""
    w = cfg.anchor_w
    # The whole substring family operates in BYTE space end to end:
    # positions here are byte offsets of the UTF-8 encoding, and every
    # downstream consumer (span slicing, interval pct denominators,
    # turn trimming) does byte arithmetic too — so non-ASCII documents
    # participate fully (rounds 1-3 excluded them because downstream
    # math was char-based; that gate is gone).
    docs = transcripts.filter(F.octet_length("doc") >= w)
    if total_chars is not None:
        min_parts = 2 * docs.sparkSession.sparkContext.defaultParallelism
        n_parts = int(
            max(min_parts, min(total_chars // 1_000_000 + 1, 20_000))
        )
    else:
        n_parts = 2 * docs.sparkSession.sparkContext.defaultParallelism
    # Window extraction runs on a BINARY copy of the doc: substring on a
    # UTF8 string is O(pos) (it must scan for char boundaries), which
    # makes whole-doc suffix enumeration O(doc_len²) per doc — measured
    # 40× slower on ~9k-char docs. Binary substring is a byte-indexed
    # O(w) slice. Positions are 1-based byte offsets of the UTF-8
    # encoding (the pass's universal coordinate system).
    #
    # Chunked two-level explode: the ×doc_len gram enumeration of ONE
    # document is split across ⌈grams/chunk⌉ byte-sliced chunks before
    # the shuffle, so a pathological multi-GB doc parallelizes instead
    # of serializing its whole explode into one task. Chunks cover
    # disjoint gram starts, so the output is identical at any chunk size.
    chunk = cfg.anchor_chunk_grams
    out = (
        _chunk_slices(docs, w, chunk)
        .repartition(n_parts, "conv_id", "ck")
        .select(
            "conv_id",
            "base",
            "bs",
            F.explode(
                F.sequence(F.lit(1), F.length("bs") - w + 1, F.lit(1))
            ).alias("i"),
        )
        .select(
            "conv_id",
            (F.col("base") + F.col("i")).alias("pos"),
            F.expr(f"xxhash64(substring(bs, i, {w}))").alias("key"),
        )
    )
    # Content-hash anchor sampling (cfg.anchor_sample_mod > 1): both docs
    # keep the same positions inside shared content because the predicate
    # depends only on the window's own hash, so sampling thins anchors
    # ×mod without desynchronizing the two sides (minimap2's minimizer
    # seeding analog — see DedupConfig.anchor_sample_mod). The filter
    # fuses into the same whole-stage-codegen stage as the explode.
    if cfg.anchor_sample_mod > 1:
        out = out.filter(F.pmod(F.col("key"), F.lit(cfg.anchor_sample_mod)) == 0)
    return out


def _chunk_slices(docs: DataFrame, w: int, chunk: int) -> DataFrame:
    """doc → one row per gram chunk: ``ck`` (chunk index), ``base``
    (0-based gram offset = ck·chunk, bigint — multi-GB-doc safe) and
    ``bs`` — the byte slice that serves gram starts base+1..base+chunk.
    The slice is cut BEFORE the shuffle, so a document's bytes cross the
    wire once (+ (w−1) bytes of overlap per chunk), never per gram; the
    per-chunk gram explode then fuses into the post-shuffle codegen
    stage. Callers filter octet_length(doc) >= w, so every doc
    yields >= 1 chunk."""
    n_chunks = F.ceil((F.length("b") - F.lit(w - 1)) / F.lit(chunk)).cast("int")
    return (
        docs.select("conv_id", F.encode("doc", "UTF-8").alias("b"))
        .select(
            "conv_id",
            "b",
            F.explode(F.sequence(F.lit(0), n_chunks - 1)).alias("ck"),
        )
        .select(
            "conv_id",
            "ck",
            (F.col("ck").cast("bigint") * chunk).alias("base"),
            F.expr(
                f"substring(b, ck * {chunk} + 1, {chunk + w - 1})"
            ).alias("bs"),
        )
    )


def key_occurrence(keys: DataFrame) -> DataFrame:
    """(key, occ): corpus-wide suffix-key occurrence counts."""
    return keys.groupBy("key").agg(F.count(F.lit(1)).alias("occ"))


def suffix_buckets(keys: DataFrame, cfg: DedupConfig) -> DataFrame:
    """One groupBy(key) pass → (key, occs array<struct<conv_id,pos>>, occ),
    keeping only keys seen more than once (singleton suffixes — the vast
    majority — can never anchor a match). This is the single shared
    upstream of both the skew report and anchor-pair expansion, so the
    (huge) suffix-key explode is scanned exactly once; the result is
    small (repeated keys only) and checkpoint-friendly.

    Oversized buckets keep only their occurrence COUNT (occs truncated
    to empty) so a boilerplate key can't blow up the checkpoint; they
    are excluded from pairing and surface in the skew report."""
    return (
        keys.groupBy("key")
        .agg(
            F.collect_list(F.struct("conv_id", "pos")).alias("occs"),
            F.count(F.lit(1)).alias("occ"),
        )
        .filter(F.col("occ") > 1)
        .withColumn(
            "occs",
            F.when(F.col("occ") <= cfg.max_anchor_occ, F.col("occs")).otherwise(
                F.slice("occs", 1, 0)  # type-preserving empty array
            ),
        )
    )


def anchor_skew_report(key_occ: DataFrame, cfg: DedupConfig) -> DataFrame:
    """Keys excluded by the occurrence cap — logged, never silent.
    Accepts any DF with (key, occ) — raw counts or suffix_buckets."""
    return key_occ.select("key", "occ").filter(F.col("occ") > cfg.max_anchor_occ)


def anchor_matches(
    keys: DataFrame,
    cfg: DedupConfig,
    pairs: DataFrame | None = None,
    convs: DataFrame | None = None,
    key_occ: DataFrame | None = None,
) -> DataFrame:
    """Suffix-key equi-self-join → (conv_a, conv_b, a_pos, b_pos),
    conv_a < conv_b (canonical order, reference dedup.py:373-376).

    The pair expansion is a plain shuffle-hash self-join on the suffix
    key, restricted to repeated-but-capped keys: a hash join stays in
    whole-stage codegen end to end — no sort, no per-row array
    construction — and the occurrence cap bounds per-key fan-out at
    cap² (skew guard — surface excluded keys with key_occurrence +
    anchor_skew_report).

    This shape was chosen over three measured dead ends: a collect_list
    groupBy (ObjectHashAggregate either sort-falls-back or OOMs
    depending on the group-count/threshold trade), a mapInPandas scan
    (Arrow re-batching + per-batch Python overhead dominated at
    production batch sizes), and a bounded window frame
    (``collect_list OVER (PARTITION BY key ORDER BY cid, pos ROWS cap
    PRECEDING)`` + explode — the per-row array allocation churn made it
    2.2× slower than the join at 20M suffix rows, bit-identical output).

    The pass runs on an xxhash64 surrogate of conv_id (8-byte fixed
    keys shuffle/sort faster than strings); real ids join back onto the
    far smaller anchor output, restoring canonical conv_a < conv_b
    orientation on real ids.

    When ``pairs`` (candidate pairs) is given, anchors are restricted to
    those pairs — the semantic-preserving restriction of the reference's
    corpus-wide self-alignment, which only ever *looks up* candidate
    pairs (dedup.py:152; SURVEY.md §3.4). Restrict the *transcripts*
    before ``suffix_keys`` where possible (pipeline does) so the explode
    itself scales with the candidate set, not the corpus."""
    if pairs is not None:
        keys = restrict_keys(keys, pairs)
    cap = cfg.max_anchor_occ

    cid = F.xxhash64(F.col("conv_id").cast("string"))
    num_keys = keys.select(cid.alias("cid"), "pos", "key")

    # Restrict to repeated, capped keys BEFORE any sort: a window count
    # over partitionBy(key) would sort the ENTIRE exploded table (the
    # overwhelmingly-singleton suffix keys included) — measured as the
    # dominant spill-prone stage at high parallelism. A hash aggregation
    # + hash semi-join never sorts, and the windowed pair expansion then
    # runs only on the tiny repeated-key remainder. ``key_occ`` lets the
    # caller reuse the occurrence table it already computes for the skew
    # report (one scan instead of two).
    occ = key_occ if key_occ is not None else num_keys.groupBy("key").agg(
        F.count(F.lit(1)).alias("occ")
    )
    ok_keys = occ.filter((F.col("occ") > 1) & (F.col("occ") <= cap)).select("key")
    survivors = num_keys.join(ok_keys.hint("shuffle_hash"), "key")

    lhs = survivors.select("key", F.col("cid").alias("cid_a"), F.col("pos").alias("a_pos"))
    rhs = survivors.select("key", F.col("cid").alias("cid_b"), F.col("pos").alias("b_pos"))
    # cid_a < cid_b enumerates each unordered cross-conv occurrence pair
    # exactly once (the surrogate hash order is arbitrary but consistent;
    # canonical real-id orientation is restored after decoding below)
    hashed = (
        lhs.join(rhs.hint("shuffle_hash"), "key")
        .filter(F.col("cid_a") < F.col("cid_b"))
        .drop("key")
    )

    # decode surrogates → real ids; restore canonical order on real ids
    # (hash order and id order can disagree per pair). The dictionary
    # comes from the compact ``convs`` source when given (pipeline passes
    # its transcripts stage) — deriving it from ``keys`` would re-scan
    # and re-shuffle the ×doc_len exploded table just to recover ids that
    # exist compactly upstream. xxhash64 surrogate collisions across
    # conv_ids would misjoin; the birthday bound is ≈ n²/2^65 — < 1e-7
    # only up to ~2×10^6 conversations, ≈ 3% at 10^9 — which is why the
    # pipeline loudly guards the surrogate (countDistinct(cid) vs
    # count(conv_id), pipeline.build_shingle_sets) before any pass that
    # keys on it runs.
    conv_src = convs if convs is not None else keys
    conv_dict = conv_src.select("conv_id").dropDuplicates().select(
        F.col("conv_id"), cid.alias("cid")
    )
    da = conv_dict.select(F.col("cid").alias("cid_a"), F.col("conv_id").alias("id_a"))
    db = conv_dict.select(F.col("cid").alias("cid_b"), F.col("conv_id").alias("id_b"))
    dec = hashed.join(da, "cid_a").join(db, "cid_b")
    flip = F.col("id_a") > F.col("id_b")
    out = dec.select(
        F.when(flip, F.col("id_b")).otherwise(F.col("id_a")).alias("conv_a"),
        F.when(flip, F.col("id_a")).otherwise(F.col("id_b")).alias("conv_b"),
        F.when(flip, F.col("b_pos")).otherwise(F.col("a_pos")).alias("a_pos"),
        F.when(flip, F.col("a_pos")).otherwise(F.col("b_pos")).alias("b_pos"),
    )
    if pairs is not None:
        out = out.join(
            pairs.select("conv_a", "conv_b").dropDuplicates(),
            ["conv_a", "conv_b"],
            "left_semi",
        )
    return out


def restrict_keys(keys: DataFrame, pairs: DataFrame) -> DataFrame:
    """Keep only suffixes of conversations appearing in some pair."""
    convs = (
        pairs.select(F.col("conv_a").alias("conv_id"))
        .union(pairs.select(F.col("conv_b").alias("conv_id")))
        .distinct()
    )
    return keys.join(convs, "conv_id", "left_semi")


def anchor_pairs_from_buckets(
    buckets: DataFrame, cfg: DedupConfig, pairs: DataFrame | None = None
) -> DataFrame:
    """suffix_buckets → anchor pairs (see anchor_matches)."""
    grouped = buckets.filter(
        (F.col("occ") > 1) & (F.col("occ") <= cfg.max_anchor_occ)
    )
    pair_expr = F.expr(
        "flatten(transform(occs, (x, i) -> "
        "transform(slice(occs, i + 2, size(occs)), "
        "y -> named_struct('p', x, 'q', y))))"
    )
    e = grouped.select(F.explode(pair_expr).alias("pq")).filter(
        F.col("pq.p.conv_id") != F.col("pq.q.conv_id")
    )
    a_first = F.col("pq.p.conv_id") < F.col("pq.q.conv_id")
    out = e.select(
        F.when(a_first, F.col("pq.p.conv_id")).otherwise(F.col("pq.q.conv_id")).alias("conv_a"),
        F.when(a_first, F.col("pq.q.conv_id")).otherwise(F.col("pq.p.conv_id")).alias("conv_b"),
        F.when(a_first, F.col("pq.p.pos")).otherwise(F.col("pq.q.pos")).alias("a_pos"),
        F.when(a_first, F.col("pq.q.pos")).otherwise(F.col("pq.p.pos")).alias("b_pos"),
    )
    if pairs is not None:
        out = out.join(
            pairs.select("conv_a", "conv_b").dropDuplicates(), ["conv_a", "conv_b"], "left_semi"
        )
    return out


def chain_anchors(anchors: DataFrame, cfg: DedupConfig) -> DataFrame:
    """Colinear gap-bounded chaining → spans, one row per maximal chain.

    Window scan per pair, ordered by (a_pos, b_pos): a new chain starts
    when the a-gap or b-gap to the previous anchor exceeds ``max_gap``
    or colinearity breaks (b must advance with a) — the relational form
    of the reference DAG's edge predicate (alignment.py:300-323: parent
    ends before child ends, gap < max_gap).

    Span score = estimated matched chars: each anchor certifies w
    matching chars, consecutive in-chain anchors overlap by
    (w − step), so matched ≈ min(span_len, n·step + w − step) with
    step = anchor_sample_mod, the expected spacing of content-hash
    sampled anchors (1 when sampling is off) — weighted analog of the
    reference's match bonus (alignment.py:342-343, match_weight).
    """
    w = cfg.anchor_w
    step = max(1, cfg.anchor_sample_mod)
    win = W.partitionBy("conv_a", "conv_b").orderBy("a_pos", "b_pos")
    prev_a = F.lag("a_pos").over(win)
    prev_b = F.lag("b_pos").over(win)
    new_chain = (
        prev_a.isNull()
        | ((F.col("a_pos") - prev_a) > cfg.max_gap)
        | (F.col("b_pos") <= prev_b)
        | ((F.col("b_pos") - prev_b) > cfg.max_gap)
    ).cast("int")
    chained = anchors.withColumn(
        "chain_id",
        F.sum(new_chain).over(win.rowsBetween(W.unboundedPreceding, 0)),
    )
    spans = (
        chained.groupBy("conv_a", "conv_b", "chain_id")
        .agg(
            F.min("a_pos").alias("a_start"),
            (F.max("a_pos") + (w - 1)).alias("a_end"),
            F.min("b_pos").alias("b_start"),
            (F.max("b_pos") + (w - 1)).alias("b_end"),
            F.count(F.lit(1)).alias("n_anchors"),
        )
        .withColumn(
            "matched",
            F.least(
                F.col("a_end") - F.col("a_start") + 1,
                (F.col("n_anchors") - 1) * step + w,
            ),
        )
        .withColumn("score", F.col("matched"))
    )
    # report-floor predicate (min span length, F5's report floor); the
    # reference's dnd-density scoring + coverage/positive-score
    # predicates live in operators/scoring.score_spans, which replaces
    # the raw-matched ``score`` column downstream when position classes
    # are available. chain_id stays in the output as the span identity
    # key for that join.
    return spans.filter(F.col("matched") >= cfg.min_span_len).select(
        "conv_a", "conv_b", "chain_id", "a_start", "a_end", "b_start", "b_end",
        "n_anchors", "matched", "score",
    )


def simplify_spans(spans: DataFrame) -> DataFrame:
    """Explicit PAF-simplify containment prune (alignment.py:374-396,
    SURVEY J7): drop a span when BOTH its a- and b-intervals are
    contained in another span of the same pair.

    The reference's greedy keep-loop is order-independent up to exact
    duplicates (containment is transitive, so every non-maximal row is
    contained in some maximal row, and maximal rows are always kept);
    exact-duplicate groups keep their first row — here the lowest
    chain_id, our deterministic analog of PAF row order. Relationally: a
    per-pair self-join (span counts per pair are chain-bounded and tiny)
    feeding a left-anti — an equi-shuffle on the pair key, scale-safe.
    """
    key = ["conv_a", "conv_b"]
    t = spans.select(
        *key,
        F.col("chain_id").alias("t_chain"),
        F.col("a_start").alias("t_as"), F.col("a_end").alias("t_ae"),
        F.col("b_start").alias("t_bs"), F.col("b_end").alias("t_be"),
    )
    contained = (
        (F.col("a_start") >= F.col("t_as")) & (F.col("a_end") <= F.col("t_ae"))
        & (F.col("b_start") >= F.col("t_bs")) & (F.col("b_end") <= F.col("t_be"))
    )
    strictly_smaller = (
        (F.col("a_start") != F.col("t_as")) | (F.col("a_end") != F.col("t_ae"))
        | (F.col("b_start") != F.col("t_bs")) | (F.col("b_end") != F.col("t_be"))
    )
    dominated = spans.join(t, key).filter(
        contained & (strictly_smaller | (F.col("t_chain") < F.col("chain_id")))
    ).select(*key, "chain_id").dropDuplicates()
    return spans.join(dominated, [*key, "chain_id"], "left_anti")


def best_substring_match(spans: DataFrame) -> DataFrame:
    """Top-1 span per pair by score (alignment.py:99-102): ties broken by
    earliest a_start then b_start for determinism."""
    win = W.partitionBy("conv_a", "conv_b").orderBy(
        F.desc("score"), F.asc("a_start"), F.asc("b_start")
    )
    return (
        spans.withColumn("rn", F.row_number().over(win))
        .filter(F.col("rn") == 1)
        .drop("rn")
    )


def substring_matches(
    transcripts: DataFrame, cfg: DedupConfig, pairs: DataFrame | None = None
) -> DataFrame:
    """End-to-end substring pass: transcripts → best span per pair."""
    keys = suffix_keys(transcripts, cfg)
    anchors = anchor_matches(keys, cfg, pairs, convs=transcripts)
    return best_substring_match(simplify_spans(chain_anchors(anchors, cfg)))
