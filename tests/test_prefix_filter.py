"""Prefix-filter candidate generation: exact recall vs brute force,
including the size-asymmetric containment pairs MinHash banding misses."""

import random

from pyspark.sql import functions as F

from dedup_spark.operators import prefix_filter


def _doc_tokens(spark, rows):
    df = spark.createDataFrame(
        rows, "doc_id long, lang string, source string, text string"
    )
    return df.select(
        "doc_id", "lang", "source",
        F.array_distinct(
            F.transform(F.split("text", " "), lambda t: F.xxhash64(t))
        ).alias("toks"),
    ).withColumn("n_toks", F.size("toks"))


def _candidates(spark, rows, plus1=True):
    """Candidate pairs of :func:`prefix_filter.candidate_pairs`
    (block-local df order, blocked self-join)."""
    cand = prefix_filter.candidate_pairs(_doc_tokens(spark, rows), plus1=plus1)
    return {(r["doc_a"], r["doc_b"]) for r in cand.collect()}


def _qualifying_pairs(rows):
    """Exhaustive reference: common > 0.2 * (n_small + 1), same block."""
    toksets = {
        r[0]: (r[1], r[2], set(r[3].split(" "))) for r in rows
    }
    out = set()
    ids = sorted(toksets)
    for i, da in enumerate(ids):
        la, sa, ta = toksets[da]
        for db in ids[i + 1:]:
            lb, sb, tb = toksets[db]
            if (la, sa) != (lb, sb):
                continue
            common = len(ta & tb)
            n_small = min(len(ta), len(tb))
            if common > 0.2 * (n_small + 1):
                out.add((da, db))
    return out


def test_asymmetric_containment_pair_recalled(spark):
    """Small doc contained in a much larger one: J << 0.1 but
    containment > 0.2 — the case where r=1/b=128 banding has a ~77%
    miss probability (ADVICE round 2) and the prefix filter must be
    exact."""
    rng = random.Random(7)
    small = [f"needle{i}" for i in range(10)]
    big = small[:5] + [f"hay{i}" for i in range(800)]  # J = 5/810 ≈ 0.006
    rng.shuffle(big)
    rows = [
        (1, "en", "web", " ".join(small)),
        (2, "en", "web", " ".join(big)),
        # decoys sharing nothing
        (3, "en", "web", " ".join(f"x{i}" for i in range(50))),
        (4, "en", "web", " ".join(f"y{i}" for i in range(400))),
    ]
    ref = _qualifying_pairs(rows)
    assert (1, 2) in ref  # common=5 > 0.2*11
    cand = {
        (r["doc_a"], r["doc_b"])
        for r in prefix_filter.candidate_pairs(_doc_tokens(spark, rows)).collect()
    }
    assert ref <= cand
    assert (3, 4) not in cand  # zero-overlap decoys pruned


def test_exact_recall_random_corpus(spark):
    """Property: candidates ⊇ every qualifying pair on a random corpus
    with shared boilerplate vocabulary, mixed sizes, and two blocks."""
    rng = random.Random(42)
    stop = [f"stop{i}" for i in range(20)]  # in most docs (hot tokens)
    rows = []
    for d in range(120):
        n = rng.choice([3, 8, 30, 120, 500])
        toks = rng.sample(range(4000), k=min(n, 4000))
        words = [f"w{t}" for t in toks] + rng.sample(stop, k=rng.randint(0, 12))
        rng.shuffle(words)
        block = ("en", "web") if d % 3 else ("de", "news")
        rows.append((d, block[0], block[1], " ".join(words)))
    ref = _qualifying_pairs(rows)
    assert ref  # non-degenerate fixture
    cand = _candidates(spark, rows)
    missed = ref - cand
    assert not missed, f"prefix filter missed {sorted(missed)[:5]}"
    # and it actually prunes: strictly fewer candidates than all pairs
    n_block_pairs = sum(
        1 for a, _, _, _ in rows for b, _, _, _ in rows if a < b
    )
    assert len(cand) < n_block_pairs


def _qualifying_pairs_noplus1(rows):
    """Exhaustive reference WITHOUT the +1: common > 0.2 * n_small."""
    toksets = {r[0]: (r[1], r[2], set(r[3].split(" "))) for r in rows}
    out = set()
    ids = sorted(toksets)
    for i, da in enumerate(ids):
        la, sa, ta = toksets[da]
        for db in ids[i + 1:]:
            lb, sb, tb = toksets[db]
            if (la, sa) != (lb, sb):
                continue
            if len(ta & tb) > 0.2 * min(len(ta), len(tb)):
                out.add((da, db))
    return out


class TestPlus1Derivation:
    """c_s must mirror the verify denominator (ADVICE r4): with
    containment_plus1=False the verify predicate is the strictly weaker
    common > t*n_small, so boundary pairs with
    t*n_small < common <= t*(n_small+1) qualify — the prefix length
    derived from the plus1 formula provably misses them."""

    def _boundary_rows(self):
        # small doc: 4 tokens (stratum 2), exactly ONE shared with the
        # large doc. The shared token has df=2, every other small-doc
        # token df=1, so under (df asc, tok) order the shared token sorts
        # LAST in the small doc's prefix order — with the plus1
        # c_s = (4+1)//5 + 1 = 2 the emitted prefix is 3 tokens and the
        # collision never happens; the no-plus1 c_s = 4//5 + 1 = 1 emits
        # the whole doc.
        small = ["aaa1", "aaa7", "aaa9", "zshared"]
        big = ["zshared"] + [f"big{i}" for i in range(29)]
        return [
            (1, "en", "web", " ".join(small)),
            (2, "en", "web", " ".join(big)),
        ]

    def test_boundary_pair_recalled_with_plus1_false(self, spark):
        rows = self._boundary_rows()
        # qualifies under the no-plus1 predicate only: common=1 > 0.8
        assert _qualifying_pairs_noplus1(rows) == {(1, 2)}
        assert _qualifying_pairs(rows) == set()
        assert (1, 2) in _candidates(spark, rows, plus1=False)

    def test_exact_recall_random_corpus_plus1_false(self, spark):
        rng = random.Random(99)
        rows = []
        for d in range(100):
            n = rng.choice([4, 9, 24, 120])
            words = [f"w{t}" for t in rng.sample(range(1500), k=n)]
            rows.append((d, "en", "web", " ".join(words)))
        ref = _qualifying_pairs_noplus1(rows)
        assert ref
        cand = _candidates(spark, rows, plus1=False)
        missed = ref - cand
        assert not missed, f"plus1=False prefix filter missed {sorted(missed)[:5]}"
