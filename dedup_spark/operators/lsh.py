"""Signatures → LSH bands → candidate pairs, with explicit skew handling.

Analog of the reference's MinHashLSHEnsemble index+query
(/root/reference/dedup/dedup.py:318-359): instead of an in-memory index,
signatures explode into (band_id, band_hash) rows and candidates come
from a band self-join — the distributed formulation of "two docs share
an LSH bucket".

Skew (north-rule requirement, SURVEY.md §4 item 1): boilerplate-heavy
corpora make Zipfian band buckets; a bucket of size m yields m(m-1)/2
pairs, so one mega-bucket can dominate the whole job. Mitigations, in
order:

1. the informative-DF upper cutoff upstream removes boilerplate
   shingles before they reach signatures (primary defence);
2. buckets in (``max_band_bucket``, ``max_salted_bucket``] are
   GRID-SALTED: every pair is still produced, but the m² work is spread
   across g = ⌈m/cap⌉ salt slots so no single task owns a hot bucket
   (one side keeps its hash-salt, the other replicates to all g slots —
   each unordered pair meets in exactly one slot per band);
3. buckets beyond ``max_salted_bucket`` are degenerate boilerplate
   (≥5·10^7 pairs from one bucket); they are excluded and REPORTED
   (skew_report stage) — never silently;
4. AQE skew-join splitting handles residual imbalance at runtime.

The band self-join is an equi-join on (band_id, band_hash[, salt]):
Catalyst plans a shuffle hash/sort-merge join partitioned by the band
key, so pair generation is fully distributed and never collects to the
driver.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from dedup_spark.config import DedupConfig
from dedup_spark.functions.udfs import make_signature_udf


def compute_signatures(informative_sets: DataFrame, cfg: DedupConfig) -> DataFrame:
    """(conv_id, shingles) → (conv_id, shingles, n_shingles, minhash,
    simhash, bands). Narrow (no shuffle): one Arrow-batched UDF pass."""
    from dedup_spark.util import ensure_parallelism

    udf = make_signature_udf(cfg)
    # CPU-heavy UDF stage: size partitions by a UDF byte budget, not the
    # scan-oriented default (see ensure_parallelism docstring)
    nonempty = ensure_parallelism(
        informative_sets.filter(F.size("shingles") > 0),
        factor=4,
        bytes_per_part=1 << 20,
    )
    return nonempty.withColumn("sig", udf(F.col("shingles"))).select(
        "conv_id",
        "shingles",
        F.size("shingles").alias("n_shingles"),
        F.col("sig.minhash").alias("minhash"),
        F.col("sig.simhash").alias("simhash"),
        F.col("sig.bands").alias("bands"),
    )


def explode_bands(signatures: DataFrame) -> DataFrame:
    """signatures → (conv_id, band_id, band_hash)."""
    return signatures.select(
        "conv_id", F.posexplode("bands").alias("band_id", "band_hash")
    )


def band_bucket_sizes(bands: DataFrame) -> DataFrame:
    return bands.groupBy("band_id", "band_hash").agg(
        F.count(F.lit(1)).alias("bucket_size")
    )


def skew_report(bucket_sizes: DataFrame, cfg: DedupConfig) -> DataFrame:
    """Buckets DROPPED from pairing (beyond the salted tier) — logged,
    never silent. Buckets in the salted tier are fully processed, so
    they never appear here."""
    return bucket_sizes.filter(F.col("bucket_size") > cfg.max_salted_bucket)


def candidate_pairs(
    bands: DataFrame,
    bucket_sizes: DataFrame,
    cfg: DedupConfig,
) -> DataFrame:
    """Band self-join → canonical (conv_a < conv_b) distinct pairs
    (ordering analog of reference dedup.py:373-378, contig.py:201-202),
    three-tier by bucket size:

    * ≤ max_band_bucket — plain self-join on the band key;
    * ≤ max_salted_bucket — grid-salted: the left side keeps one salt
      slot ``pmod(xxhash64(conv_id), g)`` with g = ⌈size/cap⌉, the right
      side replicates into every slot, and the join key gains the salt —
      each unordered pair meets in exactly one slot (the canonical
      filter keeps the a<b orientation), so NO pair is lost while each
      task handles ~size·cap pairs instead of size²;
    * larger — dropped + reported (see skew_report).

    A band bucket's members all hold the same informative shingle (a
    MinHash value fixes its shingle), so no bucket exceeds the df band's
    upper edge: the salted and dropped tiers only ever fill when that
    edge is above ``max_band_bucket`` (e.g. a wide ``tail``-mode band).
    The incremental fold needs no tiers for that reason and runs its own
    one-sided join.
    """
    cap = cfg.max_band_bucket
    ok_buckets = bucket_sizes.filter(
        (F.col("bucket_size") > 1) & (F.col("bucket_size") <= cap)
    ).select("band_id", "band_hash")
    b = bands.join(ok_buckets, ["band_id", "band_hash"])
    left = b.select("band_id", "band_hash", F.col("conv_id").alias("conv_a"))
    right = b.select("band_id", "band_hash", F.col("conv_id").alias("conv_b"))
    normal = left.join(right, ["band_id", "band_hash"])

    hot = bucket_sizes.filter(
        (F.col("bucket_size") > cap) & (F.col("bucket_size") <= cfg.max_salted_bucket)
    ).select(
        "band_id",
        "band_hash",
        F.ceil(F.col("bucket_size") / cap).cast("int").alias("g"),
    )
    hb = bands.join(hot, ["band_id", "band_hash"])
    salt_l = F.pmod(F.xxhash64(F.col("conv_id").cast("string")), F.col("g")).cast("int")
    sleft = hb.select(
        "band_id", "band_hash", salt_l.alias("salt"), F.col("conv_id").alias("conv_a")
    )
    sright = hb.select(
        "band_id",
        "band_hash",
        F.explode(F.sequence(F.lit(0), F.col("g") - 1)).alias("salt"),
        F.col("conv_id").alias("conv_b"),
    )
    salted = sleft.join(sright, ["band_id", "band_hash", "salt"])
    normal = normal.filter(F.col("conv_a") < F.col("conv_b")).select(
        "conv_a", "conv_b"
    )
    salted = salted.filter(F.col("conv_a") < F.col("conv_b")).select(
        "conv_a", "conv_b"
    )
    return normal.union(salted).dropDuplicates(["conv_a", "conv_b"])
