"""Grid-salted LSH band tier (SURVEY §4 item 1): a hot bucket between
the cap and the hard drop threshold yields ALL its pairs — pairs a
drop-only policy would lose — while mega-buckets are still dropped and
reported."""

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
        # 30-conv bucket, cap 10 → salted tier (g=3); drop-only would
        # have produced ZERO pairs from this bucket
        cfg = DedupConfig(max_band_bucket=10, max_salted_bucket=1000)
        convs = [f"c{i:02d}" for i in range(30)]
        bands = _bands(spark, convs)
        sizes = lsh.band_bucket_sizes(bands)
        got = {
            (r.conv_a, r.conv_b)
            for r in lsh.candidate_pairs(bands, sizes, cfg).collect()
        }
        assert got == _all_pairs(convs)  # all 435, none lost
        assert lsh.skew_report(sizes, cfg).count() == 0

    def test_mega_bucket_dropped_and_reported(self, spark):
        cfg = DedupConfig(max_band_bucket=5, max_salted_bucket=20)
        bands = _bands(spark, [f"c{i:02d}" for i in range(30)])
        sizes = lsh.band_bucket_sizes(bands)
        assert lsh.candidate_pairs(bands, sizes, cfg).count() == 0
        assert lsh.skew_report(sizes, cfg).count() == 1  # loud, not silent

    def test_mixed_tiers_union(self, spark):
        cfg = DedupConfig(max_band_bucket=10, max_salted_bucket=1000)
        hot = [f"h{i:02d}" for i in range(25)]
        small = ["s0", "s1", "s2"]
        bands = _bands(spark, hot, band_hash=1).union(
            _bands(spark, small, band_hash=2)
        )
        sizes = lsh.band_bucket_sizes(bands)
        got = {
            (r.conv_a, r.conv_b)
            for r in lsh.candidate_pairs(bands, sizes, cfg).collect()
        }
        assert got == _all_pairs(hot) | _all_pairs(small)

    def test_pairs_distinct_and_canonical(self, spark):
        # same conv pair hot in two bands → still one canonical row
        cfg = DedupConfig(max_band_bucket=4, max_salted_bucket=1000)
        convs = [f"c{i}" for i in range(12)]
        bands = _bands(spark, convs, band_id=0, band_hash=1).union(
            _bands(spark, convs, band_id=1, band_hash=9)
        )
        sizes = lsh.band_bucket_sizes(bands)
        pdf = lsh.candidate_pairs(bands, sizes, cfg).toPandas()
        assert (pdf["conv_a"] < pdf["conv_b"]).all()
        assert not pdf.duplicated(["conv_a", "conv_b"]).any()
        assert len(pdf) == len(_all_pairs(convs))

    def test_salted_buckets_pipeline_matches_oracle(self, spark, tmp_path):
        """12 identical conversations put 12 members in every band
        bucket, past the salting cap of 5: the pipeline salts those
        buckets and emits all 66 pairs, and the oracle, which drops only
        buckets above max_salted_bucket, agrees."""
        cfg = DedupConfig(df_hi=20, max_band_bucket=5, max_salted_bucket=1000)
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
