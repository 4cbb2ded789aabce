"""informative_and_repeated — the fused informative-set + repeated-count
aggregation (one exploded⋈df join serving both the signature path and
the stats sink) must agree exactly with the two separate operators it
replaces."""

from pyspark.sql import functions as F

from dedup_spark.operators import shingling


def _exploded(spark, conv_shingles: dict[str, list[int]]):
    rows = [(c, s) for c, shs in conv_shingles.items() for s in shs]
    return spark.createDataFrame(rows, "conv_id string, shingle long")


def test_matches_unfused_operators(spark):
    # df: s1=3, s2=2, s3=1, s4=4  → band [2,3] keeps s1,s2; repeated = df>=2
    data = {
        "a": [1, 2, 3, 4],
        "b": [1, 2, 4],
        "c": [1, 4],
        "d": [4],
    }
    exploded = _exploded(spark, data)
    sdf = shingling.shingle_document_frequency(exploded)
    lo, hi = 2, 3

    fused = {
        r["conv_id"]: r
        for r in shingling.informative_and_repeated(exploded, sdf, lo, hi).collect()
    }
    unfused = {
        r["conv_id"]: r
        for r in shingling.informative_shingle_sets(exploded, sdf, lo, hi).collect()
    }

    # every conv the unfused operator emits: identical sorted arrays
    for cid, row in unfused.items():
        assert fused[cid]["shingles"] == row["shingles"]
        assert fused[cid]["n_shingles"] == row["n_shingles"]

    # n_repeated = count of the conv's shingles with corpus df >= 2
    dfm = {r["shingle"]: r["df"] for r in sdf.collect()}
    for cid, shs in data.items():
        expect = sum(1 for s in shs if dfm[s] >= 2)
        if expect == 0:
            assert cid not in fused  # all-unique convs vanish (like unfused)
        else:
            assert fused[cid]["n_repeated"] == expect


def test_zero_band_conv_kept_for_stats(spark):
    """A conv whose repeated shingles all fall OUTSIDE the informative
    band still appears (empty set, nonzero n_repeated) — the stats sink
    needs its n_repeated; the signature path filters empties itself."""
    data = {"a": [9, 9 + 1], "b": [9, 10], "c": [9, 10], "d": [9, 10], "e": [9, 10]}
    exploded = _exploded(spark, data)
    sdf = shingling.shingle_document_frequency(exploded)
    # df(9)=df(10)=5 → band [2,3] excludes them all
    fused = {
        r["conv_id"]: r
        for r in shingling.informative_and_repeated(exploded, sdf, 2, 3).collect()
    }
    assert fused["a"]["shingles"] == []
    assert fused["a"]["n_repeated"] == 2


def test_ann_path_matches_join_path(spark):
    """The window-annotated path (annotate_shingle_df → informative_from_ann
    / df_histogram_from_ann / repeated_df_from_ann) must agree exactly
    with the join-based operators it replaces in the pipeline."""
    data = {
        "a": [1, 2, 3, 4, 7],
        "b": [1, 2, 4],
        "c": [1, 4, 8],
        "d": [4],
        "e": [5, 6],
    }
    exploded = _exploded(spark, data)
    sdf = shingling.shingle_document_frequency(exploded)
    ann = shingling.annotate_shingle_df(exploded)
    lo, hi = 2, 3

    # per-occurrence df annotation is exactly the join's
    want_df = {r["shingle"]: r["df"] for r in sdf.collect()}
    for r in ann.collect():
        assert r["df"] == want_df[r["shingle"]], r

    # informative sets + repeated counts
    via_join = {
        r["conv_id"]: (r["shingles"], r["n_shingles"], r["n_repeated"])
        for r in shingling.informative_and_repeated(exploded, sdf, lo, hi).collect()
    }
    via_ann = {
        r["conv_id"]: (r["shingles"], r["n_shingles"], r["n_repeated"])
        for r in shingling.informative_from_ann(ann, lo, hi).collect()
    }
    assert via_ann == via_join

    # histogram: rows(d)/d is integer-exact
    want_hist = {
        r["df"]: r["n_shingles"] for r in shingling.df_histogram(sdf).collect()
    }
    got_hist = {
        r["df"]: r["n_shingles"]
        for r in shingling.df_histogram_from_ann(ann).collect()
    }
    assert got_hist == want_hist

    # repeated (shingle, df) lookup side: distinct, df >= 2 only
    got_rep = sorted(
        (r["shingle"], r["df"])
        for r in shingling.repeated_df_from_ann(ann).collect()
    )
    want_rep = sorted((s, d) for s, d in want_df.items() if d >= 2)
    assert got_rep == want_rep


def test_slim_in_band_layout_matches_full(spark):
    """Manual-mode slim annotated layout (in_band boolean instead of df):
    informative sets are identical, and the reconstructed pseudo-df
    classifies positions identically to the real df (membership in
    [lo, hi] / == 1 is all position_classes ever tests)."""
    from pyspark.sql import functions as F

    data = {
        "a": [1, 2, 3, 4, 7],
        "b": [1, 2, 4],
        "c": [1, 4, 8],
        "d": [4],
        "e": [5, 6],
    }
    exploded = _exploded(spark, data)
    lo, hi = 2, 3
    full = shingling.annotate_shingle_df(exploded)
    slim = (
        full.filter(F.col("df") >= 2)
        .select(*exploded.columns, F.col("df").between(lo, hi).alias("in_band"))
    )

    want = {
        r["conv_id"]: (r["shingles"], r["n_shingles"], r["n_repeated"])
        for r in shingling.informative_from_ann(full, lo, hi).collect()
    }
    got = {
        r["conv_id"]: (r["shingles"], r["n_shingles"], r["n_repeated"])
        for r in shingling.informative_from_ann(slim, lo, hi).collect()
    }
    assert got == want

    # pseudo-df: same shingle set, and band/repeated membership identical
    real = {r["shingle"]: r["df"]
            for r in shingling.repeated_df_from_ann(full).collect()}
    pseudo = {r["shingle"]: r["df"]
              for r in shingling.repeated_df_from_ann(slim, lo, hi).collect()}
    assert set(real) == set(pseudo)
    for s, d in real.items():
        assert (lo <= d <= hi) == (lo <= pseudo[s] <= hi)
        assert pseudo[s] >= 2
