"""Pandas/Arrow UDF factories wrapping the numpy kernels.

All UDFs are vectorized over Arrow record batches (north-star: no
per-row Python). Each factory closes over config values so the UDF
payload shipped to executors is small and deterministic.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import functions as F
from pyspark.sql import types as T

from dedup_spark.config import DedupConfig
from dedup_spark.functions import hashing


def make_shingle_udf(cfg: DedupConfig):
    """text → array<long> of distinct hashed k-shingles.

    Analog of KMC k-mer enumeration (reference kmer_utilities.py:89-120).
    """
    k = cfg.shingle_k

    @F.pandas_udf(T.ArrayType(T.LongType()))
    def shingle_udf(texts: pd.Series) -> pd.Series:
        return texts.map(
            lambda t: hashing.char_shingles(t if t is not None else "", k)
        )

    return shingle_udf


def make_window_hash_udf(cfg: DedupConfig):
    """text-or-bytes → array<long>: EVERY k-byte-window hash in
    POSITION ORDER (index i ⇔ 1-based byte position i+1, non-distinct),
    in the same polynomial hash space as :func:`make_shingle_udf` — so
    a ``posexplode`` of the result joins directly against the
    pipeline's shingle_df table.

    This is the S4 analog (per-position k-mer retention, reference
    kmer_utilities.py:53-87): where the reference maps dumped k-mers
    back to contig positions with bwa, we simply never drop the
    position. Positions are byte offsets of the UTF-8 encoding — the
    substring family's universal coordinate system (non-ASCII docs
    included). Accepts string OR binary columns; binary input (e.g.
    byte-sliced span fragments) is hashed as-is."""
    k = cfg.shingle_k

    @F.pandas_udf(T.ArrayType(T.LongType()))
    def window_hash_udf(texts: pd.Series) -> pd.Series:
        return texts.map(
            lambda t: hashing.char_window_hashes(t if t is not None else "", k)
        )

    return window_hash_udf


_SIG_SCHEMA = T.StructType(
    [
        T.StructField("minhash", T.ArrayType(T.LongType())),
        T.StructField("simhash", T.LongType()),
        T.StructField("bands", T.ArrayType(T.LongType())),
    ]
)


def make_signature_udf(cfg: DedupConfig):
    """array<long> shingles → struct(minhash, simhash, bands).

    MinHash analog of datasketch MinHash(num_perm=128), reference
    dedup.py:310-316; band hashes replace the MinHashLSHEnsemble index
    (dedup.py:333-345); SimHash is the north-star Hamming filter.
    """
    num_perm, bands, rows = cfg.num_perm, cfg.bands, cfg.rows_per_band
    a, b = hashing.minhash_params(num_perm, cfg.seed)

    @F.pandas_udf(_SIG_SCHEMA)
    def signature_udf(shingle_sets: pd.Series) -> pd.DataFrame:
        """Whole-batch vectorization: concatenate every row's shingles,
        premix once, then segment-reduce (minhash minima, simhash bit
        votes) across the entire Arrow batch — no per-row numpy
        dispatch. Bit-identical to the per-row kernels (property-tested
        in tests/test_hashing.py)."""
        n = len(shingle_sets)
        if n == 0:
            return pd.DataFrame({"minhash": [], "simhash": [], "bands": []})
        arrs = [np.asarray(s, dtype=np.int64) for s in shingle_sets]
        lens = np.fromiter((arr.shape[0] for arr in arrs), dtype=np.int64, count=n)
        starts, ends = hashing.segment_offsets(lens)
        if int(lens.sum()) == 0:
            concat = np.empty(0, dtype=np.int64)
        else:
            concat = np.concatenate([arr for arr in arrs if arr.shape[0]])
        premixed = hashing.splitmix64(concat.view(hashing.U64))
        sig = hashing.minhash_batch(premixed, starts, ends, a, b)
        sh = hashing.simhash_batch(premixed, starts, ends)
        bh = hashing.band_hashes_batch(sig, bands, rows)
        return pd.DataFrame(
            {"minhash": list(sig), "simhash": sh, "bands": list(bh)}
        )

    return signature_udf
