"""Oracle end-to-end: Spark pipeline vs single-process oracle on a
planted corpus (FIXTURES.md §2; BASELINE.md measurement protocol)."""

import pytest

from pyspark.sql import functions as F

from dedup_spark.config import DedupConfig
from dedup_spark.corpus import CorpusSpec, generate_corpus
from dedup_spark.incremental import _BATCH_STAGES
from dedup_spark.operators import lsh
from dedup_spark.oracle import run_oracle
from dedup_spark.pipeline import DedupPipeline


@pytest.fixture(scope="module")
def corpus():
    return generate_corpus(CorpusSpec(n_convs=150))


@pytest.fixture(scope="module")
def pipeline(spark, tmp_path_factory):
    return DedupPipeline(spark, DedupConfig(), str(tmp_path_factory.mktemp("wh")))


@pytest.fixture(scope="module")
def result(spark, corpus, pipeline):
    turns_pdf, _, _ = corpus
    res = pipeline.run(spark.createDataFrame(turns_pdf))
    orc = run_oracle(turns_pdf, pipeline.cfg)
    return res, orc


def test_verified_pairs_match_oracle_exactly(result):
    res, orc = result
    spark_pairs = {(r.conv_a, r.conv_b) for r in res.verified_pairs.collect()}
    oracle_pairs = {(a, b) for a, b, *_ in orc["verified_pairs"]}
    assert spark_pairs == oracle_pairs


def test_cluster_assignments_match_oracle(result):
    res, orc = result
    spark_clusters = {r.conv_id: r.cluster_id for r in res.clusters.collect()}
    assert spark_clusters == orc["clusters"]


def test_planted_pair_recall(result, corpus):
    """dup-pair recall ≥ 0.99 on whole-conversation duplicate families
    (BASELINE.json metric)."""
    res, _ = result
    _, oracle_pairs, _ = corpus
    planted = {
        (r.conv_a, r.conv_b)
        for _, r in oracle_pairs.iterrows()
        if r.kind in ("exact_dup", "near_dup", "chain")
    }
    verified = {(r.conv_a, r.conv_b) for r in res.verified_pairs.collect()}
    recall = len(planted & verified) / len(planted)
    assert recall >= 0.99, sorted(planted - verified)


def test_survivor_turns_byte_equal(result, corpus):
    """Per-turn text equality invariant: surviving conversations pass
    through verbatim in stable turn order (never rewritten)."""
    res, _ = result
    turns_pdf, _, _ = corpus
    surv = (
        res.deduped_turns.toPandas()
        .sort_values(["conv_id", "turn_idx"])
        .reset_index(drop=True)
    )
    orig = (
        turns_pdf[turns_pdf.conv_id.isin(set(surv.conv_id))]
        .sort_values(["conv_id", "turn_idx"])
        .reset_index(drop=True)
    )
    assert len(surv) == len(orig)
    assert surv["text"].equals(orig["text"])
    assert surv["turn_idx"].equals(orig["turn_idx"])


def test_one_representative_per_cluster(result):
    res, _ = result
    clusters = res.clusters.toPandas()
    survivors = set(res.deduped_turns.toPandas()["conv_id"])
    reps = set(clusters[clusters.conv_id == clusters.cluster_id]["conv_id"])
    assert survivors == reps


def test_boilerplate_does_not_explode_buckets(result, pipeline):
    """The informative-DF upper cutoff must keep the shared boilerplate
    turn out of the signatures → no oversized buckets. A bucket's members
    share an informative shingle, so no bucket exceeds df_hi: the bound
    that lets the band self-join emit every pair of every bucket."""
    res, _ = result
    sizes = lsh.explode_bands(res.signatures).groupBy(
        "band_id", "band_hash"
    ).count()
    assert sizes.agg(F.max("count")).first()[0] <= pipeline.cfg.df_hi
    # a fold invalidates every batch stage a run records: a stage missing
    # from _BATCH_STAGES would stay readable against post-fold state
    assert {m.stage for m in pipeline.catalog.metrics} == set(_BATCH_STAGES)


def test_candidate_pairs_canonical(result):
    res, _ = result
    pdf = res.candidate_pairs.toPandas()
    assert (pdf["conv_a"] < pdf["conv_b"]).all()
    assert not pdf.duplicated(["conv_a", "conv_b"]).any()


def test_metrics_cover_all_stages(result):
    res, _ = result
    stages = {r.stage for r in res.metrics.collect()}
    # (bands is deliberately NOT a stage anymore: it's a lazy posexplode
    # projection of the signatures checkpoint — a dedicated write bought
    # nothing but serial driver time)
    assert {
        "transcripts", "shingle_sets", "shingle_ann", "informative_sets",
        "signatures", "candidate_pairs", "verified_pairs",
        "clusters", "deduped_turns", "substring_spans", "interval_marks",
        "trimmed_turns",
    } <= stages


def test_stats_dup_split_and_epsilon_ratios(result):
    """Stats parity (reference dedup.py:183-186,418-422): dup/non-dup
    totals and the three epsilon ratios, whole-conv removal semantics."""
    res, _ = result
    pdf = res.stats.toPandas()
    for c in (
        "n_dup_shingles", "n_non_dup_shingles", "removed_dup",
        "removed_non_dup", "dup_removed_ratio", "non_dup_removed_ratio",
        "dnd_removed_ratio",
    ):
        assert c in pdf.columns, c
    e = 1e-6
    reps = pdf[pdf.is_representative]
    nonreps = pdf[~pdf.is_representative]
    assert (reps.removed_dup == 0).all()
    assert (nonreps.removed_dup == nonreps.n_dup_shingles).all()
    row = nonreps.iloc[0]
    assert row.dup_removed_ratio == pytest.approx(
        row.removed_dup / (row.n_dup_shingles + e)
    )
    assert row.dnd_removed_ratio == pytest.approx(
        row.removed_dup / (row.removed_non_dup + e)
    )


def test_scored_spans_have_dnd_columns(result):
    """The substring spans stage carries the dnd-density scoring
    columns (alignment.py:256-282 analog) and every surviving span
    passed the coverage + positive-score predicates."""
    res, _ = result
    pdf = res.substring_spans.toPandas()
    assert {"dnd_a", "dnd_b", "score"} <= set(pdf.columns)
    assert (pdf.score > 0).all()
    span_len_a = pdf.a_end - pdf.a_start + 1
    assert (pdf.dnd_a >= 0.2 * span_len_a - 1e-9).all()


def test_substring_spans_recover_planted_substrings(result, corpus):
    """The suffix-array pass finds the planted cross-conversation
    substring spans (substring_dup family: B embeds a contiguous run of
    A's turns verbatim)."""
    res, _ = result
    _, oracle_pairs, _ = corpus
    planted = {
        (r.conv_a, r.conv_b)
        for _, r in oracle_pairs.iterrows()
        if r.kind == "substring_dup"
    }
    found = {(r.conv_a, r.conv_b) for r in res.substring_spans.collect()}
    recall = len(planted & found) / len(planted)
    assert recall >= 0.9, sorted(planted - found)


def test_trimmed_turns_subset_and_verbatim(result, corpus):
    """trimmed_turns ⊆ deduped_turns; every surviving row is byte-equal
    to its original (turns are dropped, never rewritten)."""
    res, _ = result
    turns_pdf, _, _ = corpus
    trimmed = res.trimmed_turns.toPandas()
    orig = turns_pdf.set_index(["conv_id", "turn_idx"])["text"]
    assert len(trimmed) <= res.deduped_turns.count()
    for _, r in trimmed.iterrows():
        assert orig.loc[(r.conv_id, r.turn_idx)] == r.text
