"""Pipeline configuration.

Parity constants trace to the reference CLI defaults
(/root/reference/dedup/dedup.py:513-646); each field cites its source.
A config fingerprint keys checkpoint resume: stages are only reused when
the fingerprint they were written under matches (the analog of the
reference's skip-if-exists file cache, kmer_utilities.py:111-118,
hardened against stale outputs).
"""

from __future__ import annotations

import hashlib
import json
from dataclasses import asdict, dataclass


@dataclass(frozen=True)
class DedupConfig:
    # --- shingling (k-mer analog) ---
    shingle_k: int = 17          # ref kmer_size, dedup.py:542 (UTF-8
                                 # byte windows: the substring pass's
                                 # position classes join this space)

    # --- signatures ---
    num_perm: int = 128          # ref MinHash num_perm, dedup.py:333
    bands: int = 64              # b*r must equal num_perm; recall-first
    rows_per_band: int = 2       # banding (LSH thr ≈ (1/b)^(1/r) ≈ .125),
                                 # the analog of the reference's 20×-loose
                                 # LSH threshold (dedup.py:333):
                                 # P(candidate) = 1-(1-J^2)^64 ≈ .998 @ J=.3

    # --- informative-shingle DF band (duplicated-kmer analog) ---
    df_lo: int = 2               # ref duplicate_kmer_lower_count, dedup.py:604
    df_hi: int = 4               # ref duplicate_kmer_upper_count, dedup.py:610
    df_band_mode: str = "manual" # "manual" — use df_lo/df_hi (the
                                 #   --homozygous_*_bound override parity,
                                 #   dedup.py:552-560);
                                 # "tail" — 99.9% tail-mass knee heuristic;
                                 # "fit" — bimodal-Gaussian spectrum fit
                                 #   (kmer_spectrum.py:146-227 analog),
                                 #   FAILS LOUDLY on a bad fit like the
                                 #   reference's hard exit (:184-187);
                                 # "fit_or_tail" — fit, falling back to
                                 #   tail with a loud warning
    spectrum_min_df: int = 2     # histogram domain clamps for the fit
    spectrum_max_df: int = 256   # (ref min/max_kmer_depth, dedup.py:634,640;
                                 # clamp semantics kmer_spectrum.py:161-166)

    # --- candidate generation ---
    candidate_source: str = "banding"
                                 # "banding" — MinHash band self-join
                                 #   (probabilistic, signature-only;
                                 #   the MinHashLSHEnsemble analog);
                                 # "prefix" — exact AllPairs/PPJoin
                                 #   prefix filter over the informative
                                 #   shingle sets: recall 1.0 by
                                 #   construction for the containment
                                 #   verify predicate, candidate volume
                                 #   proportional to true positives —
                                 #   recovers small⊂large pairs (tiny
                                 #   Jaccard) that banding at b=64/r=2
                                 #   provably misses with high prob.
                                 #   Pair with use_simhash_filter=False
                                 #   when hunting asymmetric containment
                                 #   (the Hamming distance of such pairs
                                 #   is near random, so the simhash
                                 #   pre-filter would re-drop them at
                                 #   verify).

    # --- verification ---
    verify_containment: float = 0.2   # ref containment_threshold, dedup.py:592
    containment_plus1: bool = True    # ref +1 denominators, dedup.py:363-364
    use_simhash_filter: bool = True
    simhash_hamming_max: int = 26     # lenient pre-filter; recall-first
                                      # (random pairs sit at ~32±4)

    # --- dedup decision / substring stage ---
    full_dup_threshold: float = 0.9   # ref full_duplication_threshold, dedup.py:586
    end_buffer: int = 25000           # ref end_buffer, dedup.py:598
    max_gap: int = 25000              # ref alignment_max_gap, dedup.py:616
    match_weight: float = 0.2         # ref alignment_match_weight, dedup.py:622
    min_coverage: float = 0.2         # ref alignment_min_coverage, dedup.py:628
    min_doc_len: int = 0              # analog of min_sequence_len=5000
                                      # (contig.py:51); off for transcripts

    # --- suffix-array substring pass (minimap2 analog, dedup.py:424-462) ---
    anchor_w: int = 25                # suffix-prefix width (chars) for anchor
                                      # keys — the seed length analog of
                                      # minimap2's minimizer window
    anchor_sample_mod: int = 1        # content-hash anchor sampling: keep a
                                      # suffix key iff pmod(key, mod) == 0
                                      # (1 = dense). The minimizer-seeding
                                      # analog of the reference's minimap2
                                      # (dedup.py:424-434 shells out to
                                      # minimap2, itself minimizer-sampled):
                                      # both docs select the SAME positions
                                      # inside shared content, so a shared
                                      # span of length L is seeded with
                                      # P = 1-(1-1/mod)^(L-anchor_w+1) and
                                      # anchor volume drops ×mod. Stays in
                                      # the explode's codegen stage — no
                                      # extra shuffle, no extra hashing.
    max_anchor_occ: int = 64          # corpus-wide occurrence cap per suffix
                                      # key (skew guard; capped keys reported)
    min_span_len: int = 50            # chained-span report floor (chars)
    anchor_chunk_grams: int = 262144  # gram positions per anchor chunk: a
                                      # document's ×doc_len gram explode
                                      # is split into byte-sliced chunks
                                      # of this many positions BEFORE the
                                      # shuffle, so a pathological
                                      # multi-GB doc parallelizes across
                                      # ⌈grams/C⌉ tasks instead of
                                      # serializing into one. Output is
                                      # byte-identical at any setting.
                                      # 256 Ki grams ≈ 256 KiB slices —
                                      # transcripts fit one chunk, so the
                                      # default adds no overhead there

    # --- misc ---
    seed: int = 42
    stats_epsilon: float = 1e-6  # ref stats epsilon, dedup.py:183
    hash_family: str = "poly-splitmix-v2"  # version tag of the in-repo
                                 # hashing kernels (functions/hashing.py);
                                 # bump on any kernel change so resumed
                                 # checkpoints can never silently mix
                                 # hash spaces

    def __post_init__(self) -> None:
        if self.bands * self.rows_per_band != self.num_perm:
            raise ValueError(
                f"bands*rows_per_band ({self.bands}*{self.rows_per_band}) "
                f"!= num_perm ({self.num_perm})"
            )
        if self.df_lo < 2:
            raise ValueError(
                f"df_lo must be >= 2, got {self.df_lo}: a duplication "
                "signal needs two conversations, and the substring pass's "
                "position classes only see repeated (df >= 2) shingles"
            )
        if self.df_band_mode not in ("manual", "tail", "fit", "fit_or_tail"):
            raise ValueError(f"bad df_band_mode {self.df_band_mode!r}")
        if self.candidate_source not in ("banding", "prefix"):
            raise ValueError(f"bad candidate_source {self.candidate_source!r}")
        if self.anchor_sample_mod < 1:
            raise ValueError(
                f"anchor_sample_mod must be >= 1, got {self.anchor_sample_mod}"
            )
        if self.anchor_chunk_grams < 1:
            raise ValueError(
                f"anchor_chunk_grams must be >= 1, got {self.anchor_chunk_grams}"
            )

    def fingerprint(self) -> str:
        """Stable hash of the config, used to validate checkpoint reuse."""
        payload = json.dumps(asdict(self), sort_keys=True, default=str)
        return hashlib.md5(payload.encode()).hexdigest()[:16]
