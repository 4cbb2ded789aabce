"""dedup_spark — a PySpark-native near-duplicate detection + clustering engine.

A from-scratch re-expression (NOT a port) of the capabilities of the
reference tool ``doenjon/dedup`` (genome-assembly contig deduplication,
``/root/reference/dedup/``) over multi-turn conversation / agent
transcripts stored as a table of turns::

    turns(conv_id string, turn_idx int, role string,
          text string, tool string, ts timestamp)

Pipeline (see SURVEY.md §1.3 for the contig → transcript mapping):

1.  assemble transcripts (window-ordered turn concatenation)
2.  k-shingle each transcript, hash shingles (vectorized numpy kernel)
3.  corpus shingle document-frequency + informative-DF band filter
    (analog of the homozygous/duplicated k-mer classification,
    reference kmer_utilities.py:37-38, kmer_spectrum.py:146-227)
4.  batched MinHash + SimHash signatures (pandas/Arrow UDF, no per-row
    Python; analog of datasketch MinHash, reference dedup.py:310-316)
5.  LSH banding → candidate pairs via band self-join with skew capping
    (analog of MinHashLSHEnsemble, reference dedup.py:318-359)
6.  exact Jaccard / containment verify + SimHash Hamming filter
    (analog of reference dedup.py:362-369)
7.  connected components (large-star/small-star) → clusters
8.  representative selection + anti-join emit of surviving turns
    (analog of reference dedup.py:164-187, contig.py:134-191)

Every stage checkpoints to a warehouse table via
:class:`dedup_spark.catalog.StageCatalog` (resume semantics are the
analog of the reference's skip-if-output-exists caching,
kmer_utilities.py:111-118).
"""

from dedup_spark.config import DedupConfig

__all__ = ["DedupConfig"]
__version__ = "0.1.0"
