"""Signatures → LSH bands → candidate pairs.

Analog of the reference's MinHashLSHEnsemble index+query
(/root/reference/dedup/dedup.py:318-359): instead of an in-memory index,
signatures explode into (band_id, band_hash) rows and candidates come
from a band self-join — the distributed formulation of "two docs share
an LSH bucket".

Skew (north-rule requirement, SURVEY.md §4 item 1): boilerplate-heavy
corpora make Zipfian band buckets, and a bucket of size m yields
m(m-1)/2 pairs. The informative-DF band bounds every bucket: a MinHash
value fixes its shingle (splitmix64 and ``a·x + b mod 2^64`` with odd
``a`` are bijections), so every member of a band bucket holds the same
informative shingle, and no bucket has more than the band's upper edge
``hi`` members. Boilerplate shingles sit above ``hi`` and never reach a
signature. AQE skew-join splitting handles residual imbalance at
runtime.

The band self-join is an equi-join on (band_id, band_hash):
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


def candidate_pairs(bands: DataFrame) -> DataFrame:
    """Band self-join → canonical (conv_a < conv_b) distinct pairs
    (ordering analog of reference dedup.py:373-378, contig.py:201-202):
    a pair is a candidate exactly when its two signatures share a band."""
    left = bands.select("band_id", "band_hash", F.col("conv_id").alias("conv_a"))
    right = bands.select("band_id", "band_hash", F.col("conv_id").alias("conv_b"))
    return (
        left.join(right, ["band_id", "band_hash"])
        .filter(F.col("conv_a") < F.col("conv_b"))
        .select("conv_a", "conv_b")
        .dropDuplicates(["conv_a", "conv_b"])
    )
