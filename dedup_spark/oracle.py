"""Single-process reference oracle for recall / cluster-assignment checks.

Runs the SAME semantics as the Spark pipeline (same numpy kernels, same
config constants) in plain Python over a pandas turns table — the
from-scratch stand-in for the reference implementation's behaviour at
identical shingle/signature/band config (BASELINE.md measurement
protocol, step 4). Because kernels and constants are shared, any
Spark-vs-oracle divergence isolates a DISTRIBUTION bug (shuffle
nondeterminism, join semantics), not a hashing difference.
"""

from __future__ import annotations

from collections import Counter, defaultdict

import numpy as np
import pandas as pd

from dedup_spark.config import DedupConfig
from dedup_spark.functions import hashing
from dedup_spark.operators.transcripts import TURN_SEP


def assemble(turns: pd.DataFrame) -> dict[str, str]:
    docs = {}
    for conv_id, grp in turns.groupby("conv_id"):
        ordered = grp.sort_values("turn_idx")["text"].fillna("")
        docs[conv_id] = TURN_SEP.join(ordered)
    return docs


def run_oracle(turns: pd.DataFrame, cfg: DedupConfig):
    """→ dict with candidate_pairs, verified_pairs, clusters, df_band."""
    docs = assemble(turns)
    sets = {c: hashing.char_shingles(d, cfg.shingle_k) for c, d in docs.items()}

    # corpus DF + informative band
    df_counter: Counter = Counter()
    for arr in sets.values():
        df_counter.update(arr.tolist())
    lo, hi = cfg.df_lo, cfg.df_hi
    informative = {
        c: np.array(
            sorted(x for x in arr.tolist() if lo <= df_counter[x] <= hi),
            dtype=np.int64,
        )
        for c, arr in sets.items()
    }

    # signatures + banding
    a, b = hashing.minhash_params(cfg.num_perm, cfg.seed)
    buckets: dict[tuple[int, int], list[str]] = defaultdict(list)
    sims: dict[str, int] = {}
    for c, arr in informative.items():
        if arr.shape[0] == 0:
            continue
        sig = hashing.minhash_signature(arr, a, b)
        sims[c] = hashing.simhash_signature(arr)
        for band_id, bh in enumerate(
            hashing.band_hashes(sig, cfg.bands, cfg.rows_per_band)
        ):
            buckets[(band_id, int(bh))].append(c)

    cands = set()
    for members in buckets.values():
        members = sorted(members)
        for i in range(len(members)):
            for j in range(i + 1, len(members)):
                cands.add((members[i], members[j]))

    plus1 = 1 if cfg.containment_plus1 else 0
    verified = []
    for ca, cb in sorted(cands):
        sa, sb = informative[ca], informative[cb]
        if cfg.use_simhash_filter:
            if hashing.hamming64(sims[ca], sims[cb]) > cfg.simhash_hamming_max:
                continue
        common = np.intersect1d(sa, sb, assume_unique=True).shape[0]
        na, nb = sa.shape[0], sb.shape[0]
        cont_a = common / (na + plus1)
        cont_b = common / (nb + plus1)
        if cont_a > cfg.verify_containment or cont_b > cfg.verify_containment:
            jac = common / (na + nb - common) if (na + nb - common) else 0.0
            verified.append((ca, cb, common, jac, cont_a, cont_b))

    # connected components: union-find, min-id label
    parent = {c: c for c in docs}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for ca, cb, *_ in verified:
        ra, rb = find(ca), find(cb)
        if ra != rb:
            lo_r, hi_r = min(ra, rb), max(ra, rb)
            parent[hi_r] = lo_r
    clusters = {c: find(c) for c in docs}

    return {
        "docs": docs,
        "informative": informative,
        "candidate_pairs": cands,
        "verified_pairs": verified,
        "clusters": clusters,
        "df_band": (lo, hi),
    }
