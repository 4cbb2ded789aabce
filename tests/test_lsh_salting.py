"""LSH band self-join (SURVEY §4 item 1): a large band bucket yields ALL
its pairs, canonical and distinct, and the pipeline's candidates match
the oracle's when every bucket holds a dozen members."""

from itertools import combinations

import pandas as pd

from dedup_spark.config import DedupConfig
from dedup_spark.operators import lsh
from dedup_spark.oracle import run_oracle
from dedup_spark.pipeline import DedupPipeline


def _bands(spark, convs, band_id=0, band_hash=777):
    return spark.createDataFrame(
        [(c, band_id, band_hash) for c in convs],
        "conv_id string, band_id int, band_hash long",
    )


def _all_pairs(convs):
    return {(a, b) for a, b in combinations(sorted(convs), 2)}


class TestSaltedTier:
    def test_hot_bucket_recovers_all_pairs(self, spark):
        # one 30-conv bucket: every one of its pairs
        convs = [f"c{i:02d}" for i in range(30)]
        got = {
            (r.conv_a, r.conv_b)
            for r in lsh.candidate_pairs(_bands(spark, convs)).collect()
        }
        assert got == _all_pairs(convs)  # all 435, none lost

    def test_mixed_tiers_union(self, spark):
        # a 25-conv bucket next to a 3-conv one: the pairs of each, and
        # no pair across the two buckets
        hot = [f"h{i:02d}" for i in range(25)]
        small = ["s0", "s1", "s2"]
        bands = _bands(spark, hot, band_hash=1).union(
            _bands(spark, small, band_hash=2)
        )
        got = {(r.conv_a, r.conv_b) for r in lsh.candidate_pairs(bands).collect()}
        assert got == _all_pairs(hot) | _all_pairs(small)  # 300 + 3

    def test_pairs_distinct_and_canonical(self, spark):
        # same conv pair in two bands → still one canonical row
        convs = [f"c{i}" for i in range(12)]
        bands = _bands(spark, convs, band_id=0, band_hash=1).union(
            _bands(spark, convs, band_id=1, band_hash=9)
        )
        pdf = lsh.candidate_pairs(bands).toPandas()
        assert (pdf["conv_a"] < pdf["conv_b"]).all()
        assert not pdf.duplicated(["conv_a", "conv_b"]).any()
        assert len(pdf) == len(_all_pairs(convs))

    def test_salted_buckets_pipeline_matches_oracle(self, spark, tmp_path):
        """12 identical conversations put 12 members in every band
        bucket: the pipeline emits all 66 pairs, and the oracle agrees."""
        cfg = DedupConfig(df_hi=20)
        convs = [f"c{i:02d}" for i in range(12)]
        turns = pd.DataFrame({
            "conv_id": convs, "turn_idx": 0, "role": "user",
            "text": "the quick brown fox jumps over the lazy dog " * 4,
            "tool": None,
        })
        res = DedupPipeline(spark, cfg, str(tmp_path)).run(spark.createDataFrame(
            turns,
            "conv_id string, turn_idx int, role string, text string, tool string",
        ))
        orc = run_oracle(turns, cfg)
        cand = {(r.conv_a, r.conv_b) for r in res.candidate_pairs.collect()}
        assert cand == orc["candidate_pairs"] == _all_pairs(convs)
        assert {(r.conv_a, r.conv_b) for r in res.verified_pairs.collect()} == {
            (a, b) for a, b, *_ in orc["verified_pairs"]
        }
