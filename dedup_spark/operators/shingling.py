"""Shingling + corpus document frequency + informative-DF band filter.

The transcript analogs of the reference's k-mer machinery:

* shingle sets          ← KMC k-mer counting (kmer_utilities.py:89-120)
* shingle_df            ← read-set k-mer counts (kmer_utilities.py:29)
* DF histogram          ← k-mer spectrum histogram (kmer_spectrum.py:34-68)
* informative band      ← homozygous/duplicated k-mer classification:
                          keep shingles whose corpus DF ∈ [df_lo, df_hi]
                          (kmer_utilities.py:37-38; dedup.py:604,610).
                          df_lo=2 drops unique-noise shingles; df_hi drops
                          boilerplate (the Zipfian head that would
                          otherwise create mega LSH buckets).

Scale notes: shingle explosion multiplies rows by ~doc_len; the
groupBy(shingle) DF aggregation gets map-side partial aggregation from
Catalyst for the `count` path because per-conv shingle sets are already
distinct (so `count(*)` ≡ count of distinct convs — no countDistinct
shuffle-expand needed). The df join back to shingles is a plain
shuffle hash join on shingle_hash; AQE handles skew remnants.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from dedup_spark.config import DedupConfig
from dedup_spark.functions.udfs import make_shingle_udf


def shingle_sets(
    transcripts: DataFrame, cfg: DedupConfig, total_chars: int | None = None
) -> DataFrame:
    """transcripts → (conv_id, shingles array<long> DISTINCT, n_shingles).

    The shingle UDF's cost is per CHARACTER (window hash + unique-sort),
    so partitioning must track character volume, not plan-estimated
    bytes (Catalyst's string stats underestimate ~4× on checkpointed
    RDDs, which left this stage at a handful of giant tasks — measured
    ~1.5 busy cores on a 4-core session for 20 s). When the caller
    supplies ``total_chars`` (the pipeline passes one cheap sum over its
    already-checkpointed transcripts), partitions are sized at ~4M chars
    (≈ seconds of kernel time) each; otherwise fall back to the
    plan-stats heuristic with a UDF-appropriate byte budget."""
    from dedup_spark.util import ensure_parallelism

    udf = make_shingle_udf(cfg)
    if total_chars is not None:
        sc = transcripts.sparkSession.sparkContext
        n_parts = int(
            max(sc.defaultParallelism, min(total_chars // 4_000_000 + 1, 20_000))
        )
        if transcripts.rdd.getNumPartitions() < n_parts:
            transcripts = transcripts.repartition(n_parts)
    else:
        transcripts = ensure_parallelism(
            transcripts, factor=4, bytes_per_part=1 << 20
        )
    return transcripts.select(
        "conv_id",
        udf(F.col("doc")).alias("shingles"),
    ).withColumn("n_shingles", F.size("shingles"))


def exploded_shingles(sets_df: DataFrame, id_col: str = "conv_id") -> DataFrame:
    """(conv_id, shingles[]) → (id, shingle) — one row per distinct
    shingle per conversation.

    ``id_col="cid"`` emits an 8-byte xxhash64 surrogate of conv_id
    instead of the string id: the explode output is shuffled twice by
    the pipeline (annotate-by-shingle, regroup-by-conv) at ×set-size
    row counts, and a ~12-char string id is ~3× the shuffle bytes of a
    fixed int64 — measured as a material share of the two biggest
    exchanges. Callers restore real ids by joining a (cid, conv_id)
    dict (tiny: one row per conversation) after aggregation. An
    xxhash64 collision across conv_ids would silently merge two
    conversations; the birthday bound is ≈ n²/2^65 — < 1e-7 only up to
    ~2×10^6 conversations and ≈ 3% at 10^9 — so the pipeline LOUDLY
    guards it (countDistinct(cid) vs count(conv_id) in the
    shingle_sets stage closure) instead of assuming it away."""
    if id_col == "conv_id":
        return sets_df.select("conv_id", F.explode("shingles").alias("shingle"))
    return sets_df.select(
        F.xxhash64(F.col("conv_id").cast("string")).alias(id_col),
        F.explode("shingles").alias("shingle"),
    )


def shingle_document_frequency(exploded: DataFrame) -> DataFrame:
    """(conv_id, shingle) → (shingle, df). Per-conv sets are distinct, so
    count(*) equals the number of distinct conversations per shingle."""
    return exploded.groupBy("shingle").agg(F.count(F.lit(1)).alias("df"))


def df_histogram(shingle_df: DataFrame) -> DataFrame:
    """counts-of-counts (df → n_shingles) — spectrum-histogram analog
    (kmer_spectrum.py:34-68). Tiny result; safe to collect."""
    return shingle_df.groupBy("df").agg(F.count(F.lit(1)).alias("n_shingles"))


class SpectrumFitError(RuntimeError):
    """Raised when the bimodal spectrum fit cannot produce a credible
    band — the analog of the reference's hard exit on a failed k-mer
    spectrum fit (kmer_spectrum.py:184-187). Callers either let it
    propagate (mode="fit") or fall back loudly (mode="fit_or_tail")."""


def fit_df_spectrum(
    hist_rows: list[tuple[int, int]], cfg: DedupConfig
) -> tuple[int, int]:
    """Bimodal-Gaussian fit of the DF histogram → (lo, hi) band.

    The driver-side analog of fit_kmer_spectrum
    (kmer_spectrum.py:146-227), numpy-only (the sandbox has no scipy;
    the global optimizer is replaced by a deterministic μ grid with the
    amplitudes solved per candidate by linear least squares — the model
    is linear in (A1, A2) once (μ, σ1, σ2) are fixed):

        y(df) ≈ A1·N(df; μ, σ1) + A2·N(df; 2μ, σ2)       (μ2 = 2μ1,
                                                  kmer_spectrum.py:105)

    * domain clamps: df outside [spectrum_min_df, spectrum_max_df] is
      dropped before fitting (kmer_spectrum.py:161-166, F3);
    * band: lo = inter-peak minimum of the fitted curve
      (kmer_spectrum.py:222), hi = ⌈2μ + 2σ2⌉ (:223);
    * loud failure when the histogram is too small, the residual is too
      large, either amplitude collapses, or no inter-peak valley exists
      (a monotone Zipf histogram has no second mode — exactly the case
      the reference refuses to guess on).
    """
    import numpy as np

    rows = sorted(
        (int(d), int(n))
        for d, n in hist_rows
        if cfg.spectrum_min_df <= int(d) <= cfg.spectrum_max_df
    )
    if len(rows) < 6:
        raise SpectrumFitError(
            f"DF histogram has {len(rows)} points in "
            f"[{cfg.spectrum_min_df}, {cfg.spectrum_max_df}] — too few to fit"
        )
    x = np.array([d for d, _ in rows], dtype=np.float64)
    y = np.array([n for _, n in rows], dtype=np.float64)

    def model_cols(mu: float, s1: float, s2: float) -> np.ndarray:
        g1 = np.exp(-0.5 * ((x - mu) / s1) ** 2)
        g2 = np.exp(-0.5 * ((x - 2 * mu) / s2) ** 2)
        return np.stack([g1, g2], axis=1)

    best = None  # (sse, mu, s1, s2, A)
    mus = np.linspace(x.min() + 0.5, x.max() / 2.0, 96)
    for mu in mus:
        for f1 in (0.15, 0.3, 0.5):
            for f2 in (0.15, 0.3, 0.5):
                s1 = max(0.5, f1 * mu)
                s2 = max(0.5, f2 * 2 * mu)
                M = model_cols(mu, s1, s2)
                A, *_ = np.linalg.lstsq(M, y, rcond=None)
                if A[0] <= 0 or A[1] <= 0:
                    continue
                sse = float(((y - M @ A) ** 2).sum())
                if best is None or sse < best[0]:
                    best = (sse, float(mu), s1, s2, A)
    if best is None:
        raise SpectrumFitError("no (μ, σ) candidate admits positive amplitudes")
    sse, mu, s1, s2, A = best
    ss_tot = float(((y - y.mean()) ** 2).sum()) or 1.0
    if sse / ss_tot > 0.5:
        raise SpectrumFitError(
            f"bimodal fit explains too little variance (R²={1 - sse / ss_tot:.2f}) "
            "— histogram is not bimodal; set df_lo/df_hi manually "
            "(the --homozygous_*_bound analog, dedup.py:552-560)"
        )
    # inter-peak minimum of the fitted curve on the integer grid (μ, 2μ)
    grid = np.arange(np.floor(mu), np.ceil(2 * mu) + 1)
    if grid.size < 3:
        raise SpectrumFitError(f"peaks too close to separate (μ={mu:.1f})")
    g1 = A[0] * np.exp(-0.5 * ((grid - mu) / s1) ** 2)
    g2 = A[1] * np.exp(-0.5 * ((grid - 2 * mu) / s2) ** 2)
    curve = g1 + g2
    valley = int(grid[int(np.argmin(curve))])
    if valley <= grid[0] or valley >= grid[-1]:
        raise SpectrumFitError(
            f"no inter-peak valley between μ={mu:.1f} and 2μ — unimodal fit"
        )
    lo = max(cfg.spectrum_min_df, valley)
    hi = int(np.ceil(2 * mu + 2 * s2))
    return lo, max(hi, lo + 1)


def _tail_band(hist_rows: list[tuple[int, int]], cfg: DedupConfig) -> tuple[int, int]:
    """99.9% tail-mass knee heuristic, adapted to Zipfian text corpora:
    lower bound df_lo (≥2 — a duplication signal needs ≥2 convs), upper
    bound the smallest df covering the tail mass — everything above is
    boilerplate head."""
    tail_mass = 0.999
    rows = sorted((int(d), int(n)) for d, n in hist_rows if int(d) >= cfg.df_lo)
    total = sum(n for _, n in rows)
    if total == 0:
        return cfg.df_lo, cfg.df_hi
    acc = 0
    hi = rows[-1][0]
    for d, n_sh in rows:
        acc += n_sh
        if acc >= tail_mass * total:
            hi = d
            break
    return cfg.df_lo, max(hi, cfg.df_hi)


def pick_df_band(hist_rows: list[tuple[int, int]], cfg: DedupConfig) -> tuple[int, int]:
    """Informative-DF band selection, dispatching on cfg.df_band_mode:

    * "manual" — cfg.df_lo/df_hi verbatim (the --homozygous_*_bound
      override parity, reference dedup.py:552-560);
    * "tail"   — knee heuristic;
    * "fit"    — bimodal-Gaussian spectrum fit, raising
      :class:`SpectrumFitError` on a bad fit (the reference's hard
      exit, kmer_spectrum.py:184-187);
    * "fit_or_tail" — fit, falling back to the knee heuristic WITH a
      loud warning (never silently).
    """
    mode = cfg.df_band_mode
    if mode == "manual":
        return cfg.df_lo, cfg.df_hi
    if mode == "tail":
        return _tail_band(hist_rows, cfg)
    if mode == "fit":
        return fit_df_spectrum(hist_rows, cfg)
    # fit_or_tail
    try:
        return fit_df_spectrum(hist_rows, cfg)
    except SpectrumFitError as e:
        import logging

        logging.getLogger(__name__).warning(
            "spectrum fit failed (%s); falling back to tail-mass heuristic", e
        )
        return _tail_band(hist_rows, cfg)


def informative_shingle_sets(
    exploded: DataFrame, shingle_df: DataFrame, lo: int, hi: int
) -> DataFrame:
    """Keep shingles with corpus DF in [lo, hi]; regroup to per-conv
    sorted arrays. Conversations with zero informative shingles vanish
    here (empty-set guard analog, reference dedup.py:350) and rejoin the
    result as singleton clusters downstream."""
    informative = shingle_df.filter(F.col("df").between(F.lit(lo), F.lit(hi)))
    return (
        exploded.join(informative.select("shingle"), "shingle")
        .groupBy("conv_id")
        .agg(F.array_sort(F.collect_list("shingle")).alias("shingles"))
        .withColumn("n_shingles", F.size("shingles"))
    )


def informative_and_repeated(
    exploded: DataFrame, shingle_df: DataFrame, lo: int, hi: int
) -> DataFrame:
    """:func:`informative_shingle_sets` fused with the per-conv repeated
    (df >= 2) shingle count the stats sink needs (A5/X3,
    reference dedup.py:418-422): ONE join against the exploded table
    serves both consumers — the stats pass used to re-join the (huge)
    exploded table against the df >= 2 subset separately, a second full
    shuffle for numbers this aggregation already sees.

    Output: (conv_id, shingles [informative, sorted], n_shingles,
    n_repeated). Conversations whose every shingle is unique (df == 1)
    vanish here, exactly like informative_shingle_sets (empty-set guard
    analog); their n_repeated is 0 by definition, so downstream left
    joins + coalesce(0) reconstruct them losslessly.
    """
    rep = shingle_df.filter(F.col("df") >= 2)
    band = F.col("df").between(F.lit(lo), F.lit(hi))
    return (
        exploded.join(rep.select("shingle", "df"), "shingle")
        .groupBy("conv_id")
        .agg(
            # collect_list skips nulls → only band shingles land in the set
            F.array_sort(
                F.collect_list(F.when(band, F.col("shingle")))
            ).alias("shingles"),
            F.count(F.lit(1)).alias("n_repeated"),
        )
        .withColumn("n_shingles", F.size("shingles"))
    )


def annotate_shingle_df(exploded: DataFrame) -> DataFrame:
    """(conv_id, shingle) → (conv_id, shingle, df): every per-conv
    shingle occurrence annotated with its corpus document frequency, in
    ONE shuffle — hash-repartition by shingle, then a whole-partition
    window count (per-conv sets are distinct, so count(*) per shingle ≡
    distinct-conv DF).

    This replaces the join-based df annotation for the pipeline path.
    The df >= 2 side of that join is NOT small — measured 26.6M rows of
    45.6M distinct shingles at a 12k-conv corpus — so both join
    strategies lose at scale: a broadcast build is a single-threaded
    driver stall (~19 s, pure Amdahl tax at every core count) over a
    relation that could never broadcast on a real corpus, and a
    shuffled join re-shuffles the ×set-size exploded table a second
    time. The window pays one partition-local sort instead and every
    downstream consumer (informative sets, DF histogram, the
    position-class df lookup) reads the annotated checkpoint without
    touching the raw exploded table again.
    """
    from pyspark.sql import Window as W

    return exploded.repartition(F.col("shingle")).withColumn(
        "df", F.count(F.lit(1)).over(W.partitionBy("shingle"))
    )


def df_histogram_from_ann(ann: DataFrame) -> DataFrame:
    """DF histogram (df → n_shingles) directly off the annotated exploded
    table: a shingle with frequency d contributes exactly d rows (one per
    conversation), so n_shingles(d) = rows(d) / d — integer-exact, and
    map-side partial aggregation collapses the scan to ~|distinct df|
    rows per task."""
    return ann.groupBy("df").agg(
        (F.count(F.lit(1)) / F.col("df")).cast("long").alias("n_shingles")
    )


def informative_from_ann(
    ann: DataFrame,
    lo: int,
    hi: int,
    id_col: str = "conv_id",
    conv_dict: DataFrame | None = None,
) -> DataFrame:
    """:func:`informative_and_repeated` over the pre-annotated exploded
    table — no df join at all: filter df >= 2, regroup by conversation.
    Same output contract (conv_id, shingles [informative, sorted],
    n_shingles, n_repeated); conversations whose every shingle is unique
    vanish (empty-set guard analog, reference dedup.py:350).

    With ``id_col="cid"`` the regroup shuffles the 8-byte surrogate key
    (see :func:`exploded_shingles`) and ``conv_dict`` — a tiny
    (conv_id, cid) table, one row per conversation — restores the real
    id via a broadcast join AFTER aggregation, when there is one row per
    conversation instead of one per shingle occurrence.

    Accepts either annotated-table layout: the full (.., df) table, or
    the SLIM manual-mode layout (.., in_band boolean) where every row is
    df >= 2 already and the band predicate is precomputed — the slim
    checkpoint drops 8 bytes/row from the pipeline's biggest table
    (measured 103.5M rows at 12k convs: ~830 MB less written and less
    read per consumer)."""
    slim = "in_band" in ann.columns
    band = (
        F.col("in_band") if slim else F.col("df").between(F.lit(lo), F.lit(hi))
    )
    pre = ann if slim else ann.filter(F.col("df") >= 2)
    out = (
        pre.groupBy(id_col)
        .agg(
            F.array_sort(
                F.collect_list(F.when(band, F.col("shingle")))
            ).alias("shingles"),
            F.count(F.lit(1)).alias("n_repeated"),
        )
        .withColumn("n_shingles", F.size("shingles"))
    )
    if id_col != "conv_id":
        if conv_dict is None:
            raise ValueError("conv_dict required when id_col != 'conv_id'")
        # broadcast is right while the per-conversation dict fits an
        # executor (it is ids only — GBs at 10^8 convs); beyond that drop
        # the hint and this becomes an equi-shuffle of two already
        # conv-sized tables, still ×set-size smaller than the regroup
        out = out.join(F.broadcast(conv_dict), id_col).drop(id_col)
    return out.select("conv_id", "shingles", "n_shingles", "n_repeated")


def repeated_df_from_ann(ann: DataFrame, lo: int = 2, hi: int = 4) -> DataFrame:
    """Distinct (shingle, df) for df >= 2 off the annotated table — the
    position-class df lookup side. Map-side partial aggregation dedups
    each task's occurrences before the shuffle, so ~df× fewer rows move
    than a raw distinct of the exploded table.

    On the slim (in_band) layout the true df is gone; a PSEUDO-df is
    reconstructed that position-class semantics cannot distinguish from
    the real one: in-band rows get ``lo`` (any value inside [lo, hi]),
    out-of-band df>=2 rows get ``hi + 1`` (any repeated value outside) —
    classification only tests membership, never the magnitude."""
    if "in_band" in ann.columns:
        return ann.dropDuplicates(["shingle"]).select(
            "shingle",
            F.when(F.col("in_band"), F.lit(lo))
            .otherwise(F.lit(hi) + 1)
            .cast("long")
            .alias("df"),
        )
    return ann.filter(F.col("df") >= 2).dropDuplicates(["shingle"]).select(
        "shingle", "df"
    )
