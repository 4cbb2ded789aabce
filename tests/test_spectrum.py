"""Spectrum-fit band selection tests — the analog of the reference's
bimodal k-mer-spectrum fit (kmer_spectrum.py:146-227): recovery on a
synthetic bimodal histogram, domain clamps, loud failure on a unimodal
(Zipf) histogram, and mode dispatch incl. manual-override parity."""

import numpy as np
import pytest

from dedup_spark.config import DedupConfig
from dedup_spark.operators.shingling import (
    SpectrumFitError,
    fit_df_spectrum,
    pick_df_band,
)


def _bimodal_hist(mu=8, s1=2.0, s2=3.0, a1=50_000, a2=20_000):
    """Counts-of-counts with modes at μ and 2μ (the μ2=2μ1 model)."""
    xs = np.arange(1, 41)
    y = a1 * np.exp(-0.5 * ((xs - mu) / s1) ** 2) + a2 * np.exp(
        -0.5 * ((xs - 2 * mu) / s2) ** 2
    )
    return [(int(d), int(v)) for d, v in zip(xs, y) if v >= 1]


def _zipf_hist():
    xs = np.arange(1, 60)
    return [(int(d), int(1e6 / d**2.2) + 1) for d in xs]


def test_fit_recovers_bimodal_band():
    cfg = DedupConfig(df_band_mode="fit", spectrum_min_df=1, spectrum_max_df=100)
    lo, hi = fit_df_spectrum(_bimodal_hist(), cfg)
    # valley between the μ=8 and 2μ=16 peaks; hi ≈ 2μ + 2σ2
    assert 10 <= lo <= 14, (lo, hi)
    assert 18 <= hi <= 26, (lo, hi)


def test_fit_fails_loudly_on_zipf():
    cfg = DedupConfig(df_band_mode="fit", spectrum_min_df=1, spectrum_max_df=100)
    with pytest.raises(SpectrumFitError):
        fit_df_spectrum(_zipf_hist(), cfg)


def test_fit_fails_on_tiny_histogram():
    cfg = DedupConfig(df_band_mode="fit")
    with pytest.raises(SpectrumFitError, match="too few"):
        fit_df_spectrum([(2, 10), (3, 5)], cfg)


def test_domain_clamps_applied():
    # junk mass far above spectrum_max_df must not influence the fit
    # (kmer_spectrum.py:161-166 truncation semantics)
    hist = _bimodal_hist() + [(500, 10_000_000), (900, 9_000_000)]
    cfg = DedupConfig(df_band_mode="fit", spectrum_min_df=1, spectrum_max_df=100)
    lo, hi = fit_df_spectrum(hist, cfg)
    assert 10 <= lo <= 14 and hi <= 26


def test_pick_df_band_mode_dispatch():
    bi = _bimodal_hist()
    # manual: verbatim bounds (the --homozygous_*_bound parity)
    assert pick_df_band(bi, DedupConfig()) == (2, 4)
    # fit mode on a bimodal histogram
    lo, hi = pick_df_band(
        bi, DedupConfig(df_band_mode="fit", spectrum_min_df=1, spectrum_max_df=100)
    )
    assert lo > 4 and hi > lo
    # fit mode on zipf raises (reference hard-exit analog)
    with pytest.raises(SpectrumFitError):
        pick_df_band(_zipf_hist(), DedupConfig(df_band_mode="fit"))
    # fit_or_tail on zipf falls back to the knee heuristic, loudly
    lo2, hi2 = pick_df_band(_zipf_hist(), DedupConfig(df_band_mode="fit_or_tail"))
    assert lo2 == 2 and hi2 >= 4
    # ...to exactly the band tail mode picks
    assert pick_df_band(_zipf_hist(), DedupConfig(df_band_mode="tail")) == (lo2, hi2)


def test_bad_mode_rejected():
    with pytest.raises(ValueError, match="df_band_mode"):
        DedupConfig(df_band_mode="bogus")


def test_fit_mode_end_to_end(spark, tmp_path):
    """Auto band via the spectrum fit drives a full pipeline run: a
    corpus of identical-doc families with sizes clustered around 8 and
    16 yields a bimodal DF histogram; the fitted band selects the
    ~16-conv families' shingles as informative and the pipeline
    clusters those families."""
    import pandas as pd

    from dedup_spark.pipeline import DedupPipeline

    rng = np.random.default_rng(11)
    words = [f"w{i:03d}" for i in range(600)]
    rows = []
    conv = 0
    fam_sizes = [6, 7, 8, 8, 9, 10, 8, 7, 9, 8] + [14, 15, 16, 16, 17, 18]
    big_families = []
    for fam, size in enumerate(fam_sizes):
        toks = rng.choice(words, size=240, replace=True)
        # family-unique salt so no shingle crosses family boundaries
        text_tokens = [f"f{fam}_{t}" for t in toks]
        members = []
        for _ in range(size):
            cid = f"c{conv:04d}"
            conv += 1
            members.append(cid)
            for ti in range(3):
                chunk = " ".join(text_tokens[ti * 80 : (ti + 1) * 80])
                rows.append((cid, ti, "user", chunk, None, None))
        if size >= 14:
            big_families.append(members)
    turns = pd.DataFrame(
        rows, columns=["conv_id", "turn_idx", "role", "text", "tool", "ts"]
    )
    cfg = DedupConfig(df_band_mode="fit", spectrum_min_df=2, spectrum_max_df=64)
    res = DedupPipeline(spark, cfg, str(tmp_path / "wh")).run(
        spark.createDataFrame(turns)
    )
    lo, hi = res.df_band
    # valley between the ~8 and ~16 modes; upper edge past the 2nd mode
    assert 10 <= lo <= 14, (lo, hi)
    assert hi >= 17, (lo, hi)
    clusters = {r.conv_id: r.cluster_id for r in res.clusters.collect()}
    for members in big_families:
        labels = {clusters[m] for m in members}
        assert len(labels) == 1, ("family split", members, labels)
