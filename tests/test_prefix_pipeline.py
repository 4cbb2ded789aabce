"""Pipeline-level prefix-filter candidate source (candidate_source=
"prefix"): the shipped pipeline — not just the driver query — has the
recall-1.0 containment path.

The planted scenario is the one the reference's MinHashLSHEnsemble
exists for (dedup.py:333-345): a small conversation whose informative
shingles are largely CONTAINED in a much larger one, with pair Jaccard
so low (~0.05) that MinHash banding at b=64/r=2 has ≥80% miss
probability — and deterministically misses at this seed — while the
AllPairs/PPJoin prefix filter recovers it with certainty.
"""

from __future__ import annotations

import numpy as np
import pytest

from dedup_spark.config import DedupConfig
from dedup_spark.pipeline import DedupPipeline


def _seg(rng, n: int) -> str:
    return "".join(chr(97 + c) for c in rng.integers(0, 26, size=n))


@pytest.fixture(scope="module")
def turns(spark):
    """Conversations built from segment-aligned turns so informative
    (df ∈ [2,4]) shingles are exactly the shared segments:

    * ``big``: 10 segments, each shared with one background conv
      (df=2, informative) + segment S shared with ``tiny``;
    * ``tiny``: S plus one segment shared with partner ``tp``;
    * backgrounds/partner carry a unique filler turn each (df=1 →
      dropped), so containment(tiny→big) ≈ 0.26 (> 0.2, verifies) while
      J(big, tiny) ≈ 0.035 (banding-miss regime).
    """
    rng = np.random.Generator(np.random.PCG64(77))
    convs: dict[str, list[str]] = {}
    big_turns = []
    for i in range(10):
        b = _seg(rng, 320)
        big_turns.append(b)
        convs[f"bg{i:02d}"] = [b, _seg(rng, 80)]
    s_shared = _seg(rng, 140)
    big_turns.append(s_shared)
    convs["big"] = big_turns
    t_shared = _seg(rng, 360)
    convs["tiny"] = [s_shared, t_shared]
    convs["tp"] = [t_shared, _seg(rng, 90)]

    rows = [
        (cid, i, "user", txt, None)
        for cid, ts in convs.items()
        for i, txt in enumerate(ts)
    ]
    return spark.createDataFrame(
        rows, "conv_id string, turn_idx int, role string, text string, tool string"
    )


def _run(spark, turns, tmp_path_factory, source: str):
    cfg = DedupConfig(
        candidate_source=source,
        # asymmetric-containment pairs have near-random SimHash Hamming
        # distance — the pre-filter must be off in this regime (see
        # DedupConfig.candidate_source)
        use_simhash_filter=False,
    )
    wh = str(tmp_path_factory.mktemp(f"wh_{source}"))
    return DedupPipeline(spark, cfg, wh).run(turns)


def test_prefix_pipeline_recovers_contained_pair_banding_misses(
    spark, turns, tmp_path_factory
):
    prefix_res = _run(spark, turns, tmp_path_factory, "prefix")
    verified = {(r.conv_a, r.conv_b) for r in prefix_res.verified_pairs.collect()}
    assert ("big", "tiny") in verified, verified

    banding_res = _run(spark, turns, tmp_path_factory, "banding")
    band_cand = {
        (r.conv_a, r.conv_b) for r in banding_res.candidate_pairs.collect()
    }
    # deterministic kernels at this seed: the J≈0.035 pair never shares
    # a band — exactly the recall hole the prefix source closes
    assert ("big", "tiny") not in band_cand, band_cand


def test_prefix_pipeline_end_to_end_shape(spark, turns, tmp_path_factory):
    res = _run(spark, turns, tmp_path_factory, "prefix")
    # canonical, deduplicated candidates; the big↔background containment
    # pairs all survive verification (containment 1.0)
    pdf = res.candidate_pairs.toPandas()
    assert (pdf["conv_a"] < pdf["conv_b"]).all()
    assert not pdf.duplicated(["conv_a", "conv_b"]).any()
    verified = {(r.conv_a, r.conv_b) for r in res.verified_pairs.collect()}
    assert {("bg00", "big"), ("tiny", "tp")} <= verified
