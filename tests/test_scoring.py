"""dnd-density span scoring goldens — mirrors the reference's alignment
scoring tests (/root/reference/dedup/test/test_alignment.py:36-84):
node scoring from dnd vectors, the all-negative → no-match case, and
best-path selection by score (here: dnd-scored spans + top-1)."""

import pytest
from pyspark.sql import functions as F

from dedup_spark.config import DedupConfig
from dedup_spark.functions import hashing as H
from dedup_spark.functions.udfs import make_window_hash_udf
from dedup_spark.operators import scoring, substring

CFG = DedupConfig(
    anchor_w=10, max_gap=20, min_span_len=5, min_coverage=0.2, match_weight=0.2
)


def _positional_shingles(transcripts, cfg):
    """transcripts → (conv_id, pos, shingle): exploded per-position
    shingle hashes, 1-based positions, JVM-side explode."""
    udf = make_window_hash_udf(cfg)
    return (
        transcripts.select("conv_id", udf(F.col("doc")).alias("h"))
        .select("conv_id", F.posexplode("h").alias("p0", "shingle"))
        .select("conv_id", (F.col("p0") + 1).alias("pos"), "shingle")
    )


def _spans(spark, rows):
    return spark.createDataFrame(
        rows,
        "conv_a string, conv_b string, chain_id long, a_start int, a_end int, "
        "b_start int, b_end int, n_anchors long, matched int",
    )


def _poscls(spark, rows):
    return spark.createDataFrame(rows, "conv_id string, pos int, cls int")


class TestScoreSpans:
    def test_positive_density_golden(self, spark):
        # span [1,10] on both sides, every position duplicated (+1):
        # density = 10 * mean(+1) = 10 per side;
        # score = 10 + 10 + 0.2*8 = 21.6 (alignment.py:258-275 arithmetic)
        spans = _spans(spark, [("a", "b", 1, 1, 10, 1, 10, 3, 8)])
        cls = _poscls(
            spark,
            [("a", p, 1) for p in range(1, 11)] + [("b", p, 1) for p in range(1, 11)],
        )
        got = scoring.score_spans(spans, cls, CFG).collect()
        assert len(got) == 1
        r = got[0]
        assert r["dnd_a"] == pytest.approx(10.0)
        assert r["dnd_b"] == pytest.approx(10.0)
        assert r["score"] == pytest.approx(21.6)

    def test_all_negative_scores_no_match(self, spark):
        # every position non-duplicated (-1) → density = -len fails the
        # coverage predicate → no span survives (the reference's
        # no-alignment case, test_alignment.py:59-66)
        spans = _spans(spark, [("a", "b", 1, 1, 10, 1, 10, 3, 8)])
        cls = _poscls(
            spark,
            [("a", p, -1) for p in range(1, 11)] + [("b", p, -1) for p in range(1, 11)],
        )
        assert scoring.score_spans(spans, cls, CFG).count() == 0

    def test_no_data_region_scores_zero_density(self, spark):
        # no classified positions in range → density 0 (NaN→0 branch,
        # alignment.py:259-264); with min_coverage 0 the span survives
        # on the match bonus alone, score = 0.2 * matched
        cfg0 = DedupConfig(
            anchor_w=10, max_gap=20, min_span_len=5, min_coverage=0.0, match_weight=0.2
        )
        spans = _spans(spark, [("a", "b", 1, 1, 10, 1, 10, 3, 8)])
        cls = _poscls(spark, [("a", 99, 1)])  # outside the span
        got = scoring.score_spans(spans, cls, cfg0).collect()
        assert len(got) == 1
        assert got[0]["dnd_a"] == 0.0
        assert got[0]["score"] == pytest.approx(0.2 * 8)
        # but with min_coverage > 0 the same span is dropped (F4)
        assert scoring.score_spans(spans, cls, CFG).count() == 0

    def test_mixed_density(self, spark):
        # a-side: 5 dup, 5 non-dup → mean 0 → density 0 → coverage fails
        spans = _spans(spark, [("a", "b", 1, 1, 10, 1, 10, 3, 8)])
        cls = _poscls(
            spark,
            [("a", p, 1) for p in range(1, 6)]
            + [("a", p, -1) for p in range(6, 11)]
            + [("b", p, 1) for p in range(1, 11)],
        )
        assert scoring.score_spans(spans, cls, CFG).count() == 0

    def test_best_match_prefers_informative_span(self, spark):
        # long span over unclassified boilerplate (density 0) vs short
        # fully-duplicated span: dnd scoring ranks the short one first —
        # the exact failure mode raw matched-chars scoring had
        cfg0 = DedupConfig(
            anchor_w=10, max_gap=20, min_span_len=5, min_coverage=0.0, match_weight=0.2
        )
        spans = _spans(
            spark,
            [
                ("a", "b", 1, 1, 100, 1, 100, 10, 100),   # long, no dnd data
                ("a", "b", 2, 200, 219, 200, 219, 3, 20), # short, all dup
            ],
        )
        cls = _poscls(
            spark,
            [("a", p, 1) for p in range(200, 220)]
            + [("b", p, 1) for p in range(200, 220)],
        )
        scored = scoring.score_spans(spans, cls, cfg0)
        best = substring.best_substring_match(scored).collect()
        assert len(best) == 1
        assert best[0]["a_start"] == 200  # 20+20+4 = 44 > 0+0+20


class TestSpanPositionClasses:
    def test_matches_full_classification_on_ranges(self, spark):
        """Fragment-sliced classification agrees with whole-doc
        classification on every position inside the span ranges."""
        cfg = DedupConfig(shingle_k=5)
        shared = "abcdefghijklmnopqrst"
        docs = spark.createDataFrame(
            [
                ("a", "XX" + shared + "YYYYYYYYYY", 1, 32),
                ("b", "ZZZZ" + shared + "WWWW", 1, 28),
            ],
            "conv_id string, doc string, n_turns long, doc_len long",
        )
        sets_exploded = _positional_shingles(docs, cfg).withColumnRenamed(
            "shingle", "key"
        )
        sdf = (
            sets_exploded.dropDuplicates(["conv_id", "key"])
            .groupBy("key")
            .agg(F.count(F.lit(1)).alias("df"))
        )
        chains = spark.createDataFrame(
            [("a", "b", 1, 3, 22, 5, 24, 4, 20)],
            "conv_a string, conv_b string, chain_id long, a_start int, "
            "a_end int, b_start int, b_end int, n_anchors long, matched int",
        )
        got = {
            (r.conv_id, r.pos): r.cls
            for r in scoring.span_position_classes(
                chains, docs, sdf, cfg, 2, 4
            ).collect()
        }
        full = {
            (r.conv_id, r.pos): r.cls
            for r in scoring.position_classes(sets_exploded, sdf, 2, 4).collect()
        }
        want = {
            kp: c
            for kp, c in full.items()
            if (kp[0] == "a" and 3 <= kp[1] <= 22) or (kp[0] == "b" and 5 <= kp[1] <= 24)
        }
        assert got == want
        assert any(c == 1 for c in got.values())  # shared region classified dup


class TestPositionClasses:
    def test_classes_from_jvm_windows(self, spark):
        # three docs: "a" and "b" share a region (df=2 → dup), each has
        # unique tails (df=1 → non-dup); "c" repeats the shared region so
        # its windows hit df=3 (still within [2,4])
        shared = "0123456789abcdefghij"
        docs = spark.createDataFrame(
            [
                ("a", shared + "AAAAAAAAAA"),
                ("b", shared + "BBBBBBBBBB"),
                ("c", shared),
            ],
            "conv_id string, doc string",
        )
        keys = scoring.jvm_window_keys(docs, 10)
        wdf = scoring.window_df(keys)
        cls = scoring.position_classes(keys, wdf, 2, 4).collect()
        by_conv = {}
        for r in cls:
            by_conv.setdefault(r["conv_id"], {})[r["pos"]] = r["cls"]
        # windows fully inside the shared prefix (pos 1..11) are dup
        for p in range(1, 12):
            assert by_conv["c"][p] == 1
        # windows fully inside a's unique tail are non-dup
        assert by_conv["a"][21] == -1

    def test_positional_udf_matches_distinct_kernel(self, spark):
        cfg = DedupConfig(shingle_k=5)
        docs = spark.createDataFrame(
            [("x", "hello world hello world")], "conv_id string, doc string"
        )
        rows = _positional_shingles(docs, cfg).collect()
        text = "hello world hello world"
        import numpy as np

        want = H.char_window_hashes(text, 5)
        got = {r["pos"]: r["shingle"] for r in rows}
        assert len(rows) == want.shape[0]
        for i, v in enumerate(want):
            assert got[i + 1] == int(v)
        # distinct set equals char_shingles
        assert set(got.values()) == set(int(x) for x in H.char_shingles(text, 5))
