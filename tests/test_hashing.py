"""Kernel unit tests (mirrors the reference's pure-function unit-test
strategy, /root/reference/dedup/test/)."""

import numpy as np
import pytest

from dedup_spark.functions import hashing as H


def test_char_shingles_match_bruteforce():
    text = "abcdefghij" * 10
    k = 5
    expected = {text[i : i + k] for i in range(len(text) - k + 1)}
    got = H.char_shingles(text, k)
    assert len(got) == len(expected)
    assert got.dtype == np.int64
    assert (np.sort(got) == got).all()  # sorted distinct


def test_char_shingles_short_and_empty():
    assert H.char_shingles("", 17).shape == (0,)
    assert H.char_shingles("short", 17).shape == (0,)  # empty-set guard analog


def test_char_shingles_deterministic():
    a = H.char_shingles("the quick brown fox jumps over the lazy dog", 17)
    b = H.char_shingles("the quick brown fox jumps over the lazy dog", 17)
    assert (a == b).all()


def test_minhash_identical_sets_identical_signatures():
    a, b = H.minhash_params(128, 42)
    s = np.array([5, 9, 100, -3], dtype=np.int64)
    assert (H.minhash_signature(s, a, b) == H.minhash_signature(s.copy(), a, b)).all()


@pytest.mark.parametrize("overlap,total", [(1, 3), (1, 2), (9, 10)])
def test_minhash_estimates_jaccard(overlap, total):
    """|estimate − exact| within ~4σ binomial tolerance at num_perm=128
    (FIXTURES.md §3 MinHash correctness)."""
    a, b = H.minhash_params(128, 42)
    rng = np.random.Generator(np.random.PCG64(overlap * 100 + total))
    n = 3000
    uni = rng.integers(-(2**62), 2**62, size=int(n * total), dtype=np.int64)
    inter = int(n * overlap)
    x = np.unique(uni[: n])
    y = np.unique(np.concatenate([uni[:inter], uni[n:]]))
    exact = len(np.intersect1d(x, y)) / len(np.union1d(x, y))
    est = (H.minhash_signature(x, a, b) == H.minhash_signature(y, a, b)).mean()
    tol = 4 * np.sqrt(exact * (1 - exact) / 128) + 0.01
    assert abs(est - exact) <= tol


def test_simhash_properties():
    rng = np.random.Generator(np.random.PCG64(1))
    x = rng.integers(-(2**62), 2**62, size=2000, dtype=np.int64)
    z = rng.integers(-(2**62), 2**62, size=2000, dtype=np.int64)
    sx = H.simhash_signature(x)
    assert H.hamming64(sx, H.simhash_signature(x.copy())) == 0
    # disjoint random sets → hamming near 32 (64 * 1/2)
    assert 20 <= H.hamming64(sx, H.simhash_signature(z)) <= 44
    # 90% overlap → small hamming
    y = np.concatenate([x[:1800], z[:200]])
    assert H.hamming64(sx, H.simhash_signature(y)) < 20


def test_band_hashes_shape_and_identity():
    a, b = H.minhash_params(128, 42)
    s = np.arange(-500, 500, dtype=np.int64)
    sig = H.minhash_signature(s, a, b)
    bh = H.band_hashes(sig, 64, 2)
    assert bh.shape == (64,)
    assert (H.band_hashes(sig, 64, 2) == bh).all()
    # different band ids never share hashes for same rows by construction
    sig2 = H.minhash_signature(np.arange(-500, 600, dtype=np.int64), a, b)
    assert (H.band_hashes(sig2, 64, 2) != bh).any()


def test_banding_recall_curve():
    """Planted pairs at J≈0.3/0.5/0.8: candidate probability tracks
    1-(1-J^r)^b (FIXTURES.md §3 banding recall)."""
    a, b = H.minhash_params(128, 42)
    bands, rows = 64, 2
    rng = np.random.Generator(np.random.PCG64(5))
    for J in (0.3, 0.5, 0.8):
        hits = 0
        trials = 60
        for _ in range(trials):
            n = 800
            shared = int(round(2 * n * J / (1 + J)))
            pool = rng.integers(-(2**62), 2**62, size=2 * n, dtype=np.int64)
            x = np.unique(np.concatenate([pool[:shared], pool[shared : n]]))
            y = np.unique(np.concatenate([pool[:shared], pool[n:]]))
            bx = H.band_hashes(H.minhash_signature(x, a, b), bands, rows)
            by = H.band_hashes(H.minhash_signature(y, a, b), bands, rows)
            if (bx == by).any():
                hits += 1
        expect = 1 - (1 - J**rows) ** bands
        assert hits / trials >= expect - 0.2, (J, hits / trials, expect)


def test_batch_kernels_match_per_row():
    """Batch (concat + segment-reduce) kernels are bit-identical to the
    per-row kernels, including empty rows at every position."""
    a, b = H.minhash_params(128, 42)
    rng = np.random.Generator(np.random.PCG64(7))
    rows = [
        np.empty(0, dtype=np.int64),
        rng.integers(-(2**62), 2**62, size=1, dtype=np.int64),
        rng.integers(-(2**62), 2**62, size=700, dtype=np.int64),
        np.empty(0, dtype=np.int64),
        rng.integers(-(2**62), 2**62, size=3000, dtype=np.int64),
        rng.integers(-(2**62), 2**62, size=17, dtype=np.int64),
        np.empty(0, dtype=np.int64),
    ]
    lens = np.array([r.shape[0] for r in rows], dtype=np.int64)
    starts, ends = H.segment_offsets(lens)
    concat = np.concatenate([r for r in rows if r.shape[0]])
    premixed = H.splitmix64(concat.view(H.U64))

    sig_batch = H.minhash_batch(premixed, starts, ends, a, b)
    sh_batch = H.simhash_batch(premixed, starts, ends)
    bh_batch = H.band_hashes_batch(sig_batch, 64, 2)
    for i, r in enumerate(rows):
        sig_i = H.minhash_signature(r, a, b)
        assert (sig_batch[i] == sig_i).all(), i
        assert sh_batch[i] == H.simhash_signature(r), i
        assert (bh_batch[i] == H.band_hashes(sig_i, 64, 2)).all(), i


def test_batch_kernels_all_empty():
    starts, ends = H.segment_offsets(np.zeros(3, dtype=np.int64))
    a, b = H.minhash_params(8, 42)
    empty = np.empty(0, dtype=H.U64)
    assert (H.minhash_batch(empty, starts, ends, a, b) == -1).all()
    assert (H.simhash_batch(empty, starts, ends) == 0).all()


def test_window_hashes_bytes_str_bit_identity():
    """char_window_hashes accepts str or raw bytes (byte-space substring
    family): hashing a string and hashing its UTF-8 encoding are
    bit-identical, and byte-sliced fragments hash to the corresponding
    window subsequence — the invariant span_position_classes relies on."""
    from hypothesis import given, settings, strategies as st

    from dedup_spark.functions.hashing import char_window_hashes

    @settings(max_examples=50, deadline=None)
    @given(st.text(min_size=0, max_size=200), st.integers(3, 9))
    def check(s, k):
        a = char_window_hashes(s, k)
        b = char_window_hashes(s.encode("utf-8"), k)
        assert (a == b).all() and a.shape == b.shape
        raw = s.encode("utf-8")
        if len(raw) >= k + 4:
            # a mid-stream byte slice (possibly splitting multibyte
            # chars at its edges) reproduces the windows starting there
            frag = raw[2 : len(raw) - 2]
            fh = char_window_hashes(frag, k)
            assert (fh == a[2 : 2 + fh.shape[0]]).all()

    check()
