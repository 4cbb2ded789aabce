"""Incremental dedup (appends, deletes, edits): exact equality with a
full recompute.

The contract under test (dedup_spark/incremental.py): bootstrap on a
corpus slice + apply(delta) must produce IDENTICAL verified_pairs,
cluster assignments, and surviving turns to a fresh DedupPipeline run
over the post-change corpus — including the df-drift cases (a delta
pushing an old shingle into or out of the informative band forces old
conversations to re-sign), band buckets at the df band's upper edge,
segmented-state chaining/compaction, and recovery from a crash at any
state write.
"""

from __future__ import annotations

import json
import os
from itertools import combinations

import numpy as np
import pytest
from pyspark.sql import functions as F

from dedup_spark.config import DedupConfig
from dedup_spark.corpus import CorpusSpec, generate_corpus
from dedup_spark.incremental import IncrementalDedup
from dedup_spark.operators import lsh, shingling
from dedup_spark.pipeline import DedupPipeline


def _pairs(df):
    return {(r.conv_a, r.conv_b) for r in df.select("conv_a", "conv_b").collect()}


def _clusters(df):
    return {r.conv_id: r.cluster_id for r in df.collect()}


def _turn_keys(df):
    return {(r.conv_id, r.turn_idx) for r in df.select("conv_id", "turn_idx").collect()}


class TestIncrementalEqualsFull:
    @pytest.fixture(scope="class")
    def split_corpus(self, spark):
        """Planted-duplicate corpus split so dup families straddle the
        old/new boundary (the interesting incremental case)."""
        turns_pdf, _, _ = generate_corpus(CorpusSpec(n_convs=120))
        all_turns = spark.createDataFrame(turns_pdf).cache()
        convs = sorted({r.conv_id for r in all_turns.select("conv_id").collect()})
        # deterministic interleaved split: every 4th conv arrives "late",
        # so near-dup families span the boundary
        new_ids = set(convs[::4])
        old = all_turns.filter(~F.col("conv_id").isin(list(new_ids)))
        new = all_turns.filter(F.col("conv_id").isin(list(new_ids)))
        return all_turns, old, new

    @pytest.fixture(scope="class")
    def results(self, spark, split_corpus, tmp_path_factory):
        all_turns, old, new = split_corpus
        cfg = DedupConfig()
        full = DedupPipeline(
            spark, cfg, str(tmp_path_factory.mktemp("wh_full"))
        ).run(all_turns)
        inc = IncrementalDedup(
            spark, cfg, str(tmp_path_factory.mktemp("wh_inc"))
        )
        inc.bootstrap(old)
        res = inc.append(new)
        return full, res

    def test_verified_pairs_identical(self, results):
        full, res = results
        assert _pairs(res.verified_pairs) == _pairs(full.verified_pairs)

    def test_clusters_identical(self, results):
        full, res = results
        assert _clusters(res.clusters) == _clusters(full.clusters)

    def test_survivors_identical(self, results):
        full, res = results
        assert _turn_keys(res.deduped_turns) == _turn_keys(full.deduped_turns)

    def test_append_only_guard(self, spark, split_corpus, tmp_path_factory):
        _, old, _ = split_corpus
        cfg = DedupConfig()
        inc = IncrementalDedup(
            spark, cfg, str(tmp_path_factory.mktemp("wh_guard"))
        )
        inc.bootstrap(old)
        with pytest.raises(ValueError, match="append-only"):
            inc.append(old.limit(5))

    def test_requires_manual_band(self, spark, tmp_path_factory):
        with pytest.raises(ValueError, match="manual"):
            IncrementalDedup(
                spark,
                DedupConfig(df_band_mode="tail"),
                str(tmp_path_factory.mktemp("wh_band")),
            )


class TestDfDriftResign:
    """Hand-built fixture forcing BOTH flip directions: the append takes
    one shingle family from df=1→2 (enters the band: two old convs that
    previously shared nothing verifiable become a dup pair via... ) and
    another from df=4→5 (leaves the band: the old quad family loses its
    informative overlap). Equality with a fresh run proves the affected
    old conversations really re-signed."""

    def _turns(self, spark, convs: dict[str, list[str]]):
        rows = [
            (cid, i, "user", txt, None)
            for cid, ts in convs.items()
            for i, txt in enumerate(ts)
        ]
        return spark.createDataFrame(
            rows, "conv_id string, turn_idx int, role string, text string, tool string"
        )

    def test_flips_force_resign_and_equality(self, spark, tmp_path_factory):
        rng = np.random.Generator(np.random.PCG64(55))

        def seg(n):
            return "".join(chr(97 + c) for c in rng.integers(0, 26, size=n))

        sA, sB, sC = seg(300), seg(300), seg(300)
        old = {
            # quad family at df=4 (in band) sharing sA
            **{f"q{i}": [sA, seg(60)] for i in range(4)},
            # pair sharing sB (df=2, in band)
            "p0": [sB, seg(60)],
            "p1": [sB, seg(70)],
            # lone conv holding sC at df=1 (below band)
            "lone": [sC, seg(80)],
        }
        # the append pushes sA to df=5 (LEAVES band) and sC to df=2
        # (ENTERS band, making lone↔fresh a verifiable pair)
        new = {
            "zq_new": [sA, seg(65)],
            "zc_new": [sC, seg(75)],
        }
        old_t = self._turns(spark, old)
        new_t = self._turns(spark, new)
        all_t = old_t.unionByName(new_t)

        cfg = DedupConfig()
        full = DedupPipeline(
            spark, cfg, str(tmp_path_factory.mktemp("wh_f2"))
        ).run(all_t)
        inc = IncrementalDedup(
            spark, cfg, str(tmp_path_factory.mktemp("wh_i2"))
        )
        inc.bootstrap(old_t)
        res = inc.append(new_t)

        # both flip directions touched old convs → they re-signed
        assert res.n_affected_old >= 5  # 4×quad + lone (p0/p1 untouched)
        assert _pairs(res.verified_pairs) == _pairs(full.verified_pairs)
        assert _clusters(res.clusters) == _clusters(full.clusters)
        # the entering flip creates the lone↔zc_new pair in BOTH paths
        assert ("lone", "zc_new") in _pairs(res.verified_pairs)


class TestChainedAppends:
    """Two consecutive appends exercise the state-folding path (the
    second append reads the rewritten state tables): the chain must
    still equal one full recompute."""

    def test_two_appends_equal_full(self, spark, tmp_path_factory):
        turns_pdf, _, _ = generate_corpus(CorpusSpec(n_convs=90))
        all_turns = spark.createDataFrame(turns_pdf).cache()
        convs = sorted({r.conv_id for r in all_turns.select("conv_id").collect()})
        s1 = set(convs[: len(convs) // 2])
        s2 = set(convs[len(convs) // 2 : 3 * len(convs) // 4])
        t1 = all_turns.filter(F.col("conv_id").isin(list(s1)))
        t2 = all_turns.filter(F.col("conv_id").isin(list(s2)))
        t3 = all_turns.filter(~F.col("conv_id").isin(list(s1 | s2)))

        cfg = DedupConfig()
        full = DedupPipeline(
            spark, cfg, str(tmp_path_factory.mktemp("wh_fc"))
        ).run(all_turns)
        inc = IncrementalDedup(
            spark, cfg, str(tmp_path_factory.mktemp("wh_ic"))
        )
        inc.bootstrap(t1)
        inc.append(t2)
        res = inc.append(t3)

        assert _pairs(res.verified_pairs) == _pairs(full.verified_pairs)
        assert _clusters(res.clusters) == _clusters(full.clusters)
        assert _turn_keys(res.deduped_turns) == _turn_keys(full.deduped_turns)


class TestPostAppendBatchRun:
    """After append() the warehouse must be SAFE for a subsequent batch
    run: every batch stage was invalidated at the fold (data drift is
    invisible to the config fingerprint, and state now lives in
    incremental-owned segments), so the batch run recomputes from its
    own inputs and must equal a fresh full run."""

    def test_batch_run_on_appended_warehouse(self, spark, tmp_path_factory):
        turns_pdf, _, _ = generate_corpus(CorpusSpec(n_convs=80))
        all_turns = spark.createDataFrame(turns_pdf).cache()
        convs = sorted({r.conv_id for r in all_turns.select("conv_id").collect()})
        new_ids = set(convs[::5])
        old = all_turns.filter(~F.col("conv_id").isin(list(new_ids)))
        new = all_turns.filter(F.col("conv_id").isin(list(new_ids)))

        cfg = DedupConfig()
        wh = str(tmp_path_factory.mktemp("wh_pab"))
        inc = IncrementalDedup(spark, cfg, wh)
        inc.bootstrap(old)
        inc.append(new)

        # batch run on the SAME warehouse over the merged corpus
        mixed = DedupPipeline(spark, cfg, wh).run(all_turns)
        fresh = DedupPipeline(
            spark, cfg, str(tmp_path_factory.mktemp("wh_fresh"))
        ).run(all_turns)

        assert _pairs(mixed.verified_pairs) == _pairs(fresh.verified_pairs)
        assert _clusters(mixed.clusters) == _clusters(fresh.clusters)
        assert _turn_keys(mixed.deduped_turns) == _turn_keys(fresh.deduped_turns)
        # substring branch (recomputed from invalidated stages) agrees too
        assert _pairs(mixed.substring_spans) == _pairs(fresh.substring_spans)


class TestReviewHardening:
    """Config and state guards, and exactness at the largest band bucket
    the df band allows."""

    def test_df_lo_1_rejected(self, spark, tmp_path_factory):
        with pytest.raises(ValueError, match="df_lo"):
            IncrementalDedup(
                spark,
                DedupConfig(df_lo=1),
                str(tmp_path_factory.mktemp("wh_lo")),
            )

    def test_df_lo_1_rejected_by_batch_config(self):
        """The batch side refuses df_lo=1 up front, before any stage
        runs: position_classes needs lo >= 2."""
        with pytest.raises(ValueError, match="df_lo must be >= 2"):
            DedupConfig(df_lo=1)

    def test_stale_fingerprint_state_rejected(self, spark, tmp_path_factory):
        """State written under one config must not silently feed an
        append under another (different shingle_k = different hash
        space)."""
        wh = str(tmp_path_factory.mktemp("wh_fp"))
        turns = spark.createDataFrame(
            [("c", 0, "user", "x" * 40, None), ("d", 0, "user", "y" * 40, None)],
            "conv_id string, turn_idx int, role string, text string, tool string",
        )
        IncrementalDedup(spark, DedupConfig(shingle_k=17), wh).bootstrap(turns)
        other = IncrementalDedup(spark, DedupConfig(shingle_k=13), wh)
        new = spark.createDataFrame(
            [("e", 0, "user", "z" * 40, None)],
            "conv_id string, turn_idx int, role string, text string, tool string",
        )
        with pytest.raises(RuntimeError, match="fingerprint"):
            other.append(new)
        # a manifest of the older layout that kept bucket sizes and a
        # dropped-bucket report as state
        same = IncrementalDedup(spark, DedupConfig(shingle_k=17), wh)
        man = same._read_manifest()
        man["segments"]["inc_sizes"] = [0]
        man["results"]["inc_skew"] = 0
        same._commit_manifest(man["epoch"], man["segments"], man["results"])
        with pytest.raises(RuntimeError, match="state layout"):
            same.append(new)

    @pytest.mark.parametrize("source", ["banding", "prefix"])
    def test_buckets_at_df_hi_equal_fresh_run(
        self, spark, tmp_path_factory, source
    ):
        """3 identical old convs, then a 4th: every informative shingle
        and so every band bucket reaches df_hi = 4 members, the most the
        df band allows. The unchanged old pairs are kept, the new conv's
        pairs come from the fold's one-sided candidate join."""
        doc = "the quick brown fox jumps over the lazy dog " * 4
        old = {f"c{i}": [doc] for i in range(3)}
        new = {"c3": [doc]}
        cfg = DedupConfig(candidate_source=source)

        full = DedupPipeline(
            spark, cfg, str(tmp_path_factory.mktemp("wh_bd_f"))
        ).run(_turns_df(spark, {**old, **new}))
        inc = IncrementalDedup(
            spark, cfg, str(tmp_path_factory.mktemp("wh_bd_i"))
        )
        inc.bootstrap(_turns_df(spark, old))
        res = inc.append(_turns_df(spark, new))

        assert _pairs(res.verified_pairs) == _pairs(full.verified_pairs)
        assert _pairs(res.verified_pairs) == set(
            combinations(["c0", "c1", "c2", "c3"], 2)
        )
        assert _clusters(res.clusters) == _clusters(full.clusters)
        if source == "banding":
            sizes = lsh.explode_bands(full.signatures).groupBy(
                "band_id", "band_hash"
            ).count()
            assert sizes.agg(F.max("count")).first()[0] == cfg.df_hi


def _turns_df(spark, convs: dict):
    rows = [
        (cid, i, "user", txt, None)
        for cid, ts in convs.items()
        for i, txt in enumerate(ts)
    ]
    return spark.createDataFrame(
        rows, "conv_id string, turn_idx int, role string, text string, tool string"
    )


class TestPrefixIncremental:
    """candidate_source='prefix' incremental (VERDICT r4 next-round #2):
    two chained appends under the exact prefix filter must equal one
    full prefix-configured recompute — including a small⊂large planted
    pair (tiny Jaccard) that banding provably tends to miss."""

    CFG = DedupConfig(candidate_source="prefix", use_simhash_filter=False)

    def test_two_appends_equal_full_prefix(self, spark, tmp_path_factory):
        turns_pdf, _, _ = generate_corpus(CorpusSpec(n_convs=90))
        all_turns = spark.createDataFrame(turns_pdf).cache()
        convs = sorted({r.conv_id for r in all_turns.select("conv_id").collect()})
        s1 = set(convs[: len(convs) // 2])
        s2 = set(convs[len(convs) // 2 : 3 * len(convs) // 4])
        t1 = all_turns.filter(F.col("conv_id").isin(list(s1)))
        t2 = all_turns.filter(F.col("conv_id").isin(list(s2)))
        t3 = all_turns.filter(~F.col("conv_id").isin(list(s1 | s2)))

        full = DedupPipeline(
            spark, self.CFG, str(tmp_path_factory.mktemp("wh_pf"))
        ).run(all_turns)
        inc = IncrementalDedup(
            spark, self.CFG, str(tmp_path_factory.mktemp("wh_pi"))
        )
        inc.bootstrap(t1)
        inc.append(t2)
        res = inc.append(t3)

        assert _pairs(res.verified_pairs) == _pairs(full.verified_pairs)
        assert _clusters(res.clusters) == _clusters(full.clusters)
        assert _turn_keys(res.deduped_turns) == _turn_keys(full.deduped_turns)

    def test_small_in_large_pair_found_across_boundary(
        self, spark, tmp_path_factory
    ):
        """The appended SMALL doc is contained in an OLD large doc: the
        asymmetric-containment case (tiny Jaccard) that banding tends to
        miss. The new doc is smaller than every bootstrap doc, and its
        pairs still come from the shingles it shares with the old ones."""
        rng = np.random.Generator(np.random.PCG64(77))

        def seg(n):
            return "".join(chr(97 + c) for c in rng.integers(0, 26, size=n))

        core = seg(80)
        big = core + seg(2000)
        old = {
            "big0": [big, seg(120)],
            "big1": [big[: len(big) // 2], seg(500)],  # shares shingles: df>=2
            **{f"fill{i}": [seg(400)] for i in range(4)},
        }
        new = {"tiny": [core]}  # contained in big0/big1's shared prefix
        full = DedupPipeline(
            spark, self.CFG, str(tmp_path_factory.mktemp("wh_sf"))
        ).run(_turns_df(spark, {**old, **new}))
        inc = IncrementalDedup(
            spark, self.CFG, str(tmp_path_factory.mktemp("wh_si"))
        )
        inc.bootstrap(_turns_df(spark, old))
        res = inc.append(_turns_df(spark, new))
        assert _pairs(res.verified_pairs) == _pairs(full.verified_pairs)
        assert any("tiny" in p for p in _pairs(res.verified_pairs))
        assert _clusters(res.clusters) == _clusters(full.clusters)

    def test_large_changed_side_equals_brute_force(
        self, spark, tmp_path_factory
    ):
        """998 conversations appended onto 2: nearly every conversation
        is on the changed side of the candidate join, the shape whose
        size-stratified prefix rows (~43M) once ran the fold out of
        memory. The verified pairs and their overlaps equal a brute-force
        containment over the post-fold signature rows."""
        turns_pdf, _, _ = generate_corpus(CorpusSpec(n_convs=1000, seed=7))
        all_turns = spark.createDataFrame(turns_pdf)
        convs = sorted(turns_pdf["conv_id"].unique())
        inc = IncrementalDedup(
            spark, self.CFG, str(tmp_path_factory.mktemp("wh_pl"))
        )
        inc.bootstrap(all_turns.filter(F.col("conv_id").isin(convs[:2])))
        res = inc.append(all_turns.filter(~F.col("conv_id").isin(convs[:2])))

        man = inc._read_manifest()
        sigs = inc._resolve_conv(
            man, "inc_sigs", inc._retired(man, "inc_retired_sigs")
        ).select("conv_id", "shingles").toPandas()
        ids = sigs["conv_id"].to_numpy()
        n = sigs["shingles"].map(len).to_numpy()
        # inverted index: sort the (shingle, conv) rows by shingle. A
        # shingle has at most df_hi convs, so its pairs are the rows at
        # most df_hi - 1 apart in that order.
        conv = np.repeat(np.arange(len(ids)), n)
        sh = np.concatenate(sigs["shingles"].map(np.asarray).to_list())
        order = np.lexsort((conv, sh))
        sh, conv = sh[order], conv[order]
        assert np.unique(sh, return_counts=True)[1].max() <= self.CFG.df_hi
        steps = range(1, self.CFG.df_hi)
        keys = np.concatenate([conv[:-d] * len(ids) + conv[d:] for d in steps])
        same = np.concatenate([sh[:-d] == sh[d:] for d in steps])
        pair, common = np.unique(keys[same], return_counts=True)
        a, b = pair // len(ids), pair % len(ids)
        t = self.CFG.verify_containment
        keep = (common / (n[a] + 1) > t) | (common / (n[b] + 1) > t)
        want = {
            tuple(sorted((ids[i], ids[j]))): int(c)
            for i, j, c in zip(a[keep], b[keep], common[keep])
        }

        got = {
            (r.conv_a, r.conv_b): r.common
            for r in res.verified_pairs.select(
                "conv_a", "conv_b", "common"
            ).collect()
        }
        assert want
        assert got == want


class TestRemoveAndEdit:
    """Deletes/edits (VERDICT r4 next-round #5): removal folds must equal
    a fresh run on (corpus − removed), including removals that flip a
    shingle's df across the band boundary in BOTH directions."""

    def test_remove_equals_fresh_run(self, spark, tmp_path_factory):
        turns_pdf, _, _ = generate_corpus(CorpusSpec(n_convs=100))
        all_turns = spark.createDataFrame(turns_pdf).cache()
        convs = sorted({r.conv_id for r in all_turns.select("conv_id").collect()})
        gone = set(convs[::5])
        kept = all_turns.filter(~F.col("conv_id").isin(list(gone)))

        cfg = DedupConfig()
        inc = IncrementalDedup(
            spark, cfg, str(tmp_path_factory.mktemp("wh_rm"))
        )
        inc.bootstrap(all_turns)
        res = inc.remove(sorted(gone))
        fresh = DedupPipeline(
            spark, cfg, str(tmp_path_factory.mktemp("wh_rf"))
        ).run(kept)

        assert res.n_removed_convs == len(gone)
        assert _pairs(res.verified_pairs) == _pairs(fresh.verified_pairs)
        assert _clusters(res.clusters) == _clusters(fresh.clusters)
        assert _turn_keys(res.deduped_turns) == _turn_keys(fresh.deduped_turns)

    def test_removal_df_flips_both_directions(self, spark, tmp_path_factory):
        """Removing convs pushes one shared shingle family 5→4 (ENTERS
        the [2,4] band: the remaining quad becomes verifiable) and
        another 2→1 (LEAVES: its pair loses the informative overlap)."""
        rng = np.random.Generator(np.random.PCG64(91))

        def seg(n):
            return "".join(chr(97 + c) for c in rng.integers(0, 26, size=n))

        sA, sC = seg(300), seg(300)
        corpus = {
            **{f"q{i}": [sA, seg(60)] for i in range(5)},  # df(sA)=5 (out)
            "p0": [sC, seg(60)],
            "p1": [sC, seg(70)],                            # df(sC)=2 (in)
            "lone": [seg(80)],
        }
        removed = ["q4", "p1"]  # sA→4 enters band; sC→1 leaves band
        kept = {k: v for k, v in corpus.items() if k not in removed}

        cfg = DedupConfig()
        inc = IncrementalDedup(
            spark, cfg, str(tmp_path_factory.mktemp("wh_rb"))
        )
        inc.bootstrap(_turns_df(spark, corpus))
        res = inc.remove(removed)
        fresh = DedupPipeline(
            spark, cfg, str(tmp_path_factory.mktemp("wh_rb_f"))
        ).run(_turns_df(spark, kept))

        assert res.n_affected_old >= 5  # q0-q3 re-signed + p0
        got = _pairs(res.verified_pairs)
        assert got == _pairs(fresh.verified_pairs)
        assert ("q0", "q1") in got        # entering flip created the family
        assert not any("p0" in p for p in got)  # leaving flip dissolved it
        assert _clusters(res.clusters) == _clusters(fresh.clusters)

    def test_edit_equals_fresh_run(self, spark, tmp_path_factory):
        """An edit = remove + re-add of the same conv_id in one apply."""
        turns_pdf, _, _ = generate_corpus(CorpusSpec(n_convs=60))
        all_turns = spark.createDataFrame(turns_pdf).cache()
        convs = sorted({r.conv_id for r in all_turns.select("conv_id").collect()})
        victim = convs[7]
        # same turn structure/schema, rewritten text — a realistic edit
        edited = all_turns.filter(F.col("conv_id") == victim).withColumn(
            "text", F.concat(F.lit("entirely new text. "), F.col("text"))
        )
        post = all_turns.filter(F.col("conv_id") != victim).unionByName(edited)

        cfg = DedupConfig()
        inc = IncrementalDedup(
            spark, cfg, str(tmp_path_factory.mktemp("wh_ed"))
        )
        inc.bootstrap(all_turns)
        res = inc.apply(new_turns=edited, remove_conv_ids=[victim])
        fresh = DedupPipeline(
            spark, cfg, str(tmp_path_factory.mktemp("wh_ed_f"))
        ).run(post)

        assert _pairs(res.verified_pairs) == _pairs(fresh.verified_pairs)
        assert _clusters(res.clusters) == _clusters(fresh.clusters)
        assert _turn_keys(res.deduped_turns) == _turn_keys(fresh.deduped_turns)

    def test_unchanged_df_keys_across_conv_ids(self, spark, tmp_path_factory):
        """One apply removes x and adds y (different ids) holding the same
        two shingle families, so every shared key's df is unchanged: sM
        stays in the [2,4] band (3) and sH stays above it (5). y's
        informative set is then all net-zero keys, decided by x's old
        signature set. The removed "solo" has an empty informative set
        and so no signature row."""
        rng = np.random.Generator(np.random.PCG64(23))

        def seg(n):
            return "".join(chr(97 + c) for c in rng.integers(0, 26, size=n))

        sM, sH = seg(300), seg(300)
        corpus = {
            "x": [sM, sH, seg(60)],
            "a": [sM, seg(60)],
            "b": [sM, seg(70)],                             # df(sM)=3 (in)
            **{f"h{i}": [sH, seg(60)] for i in range(4)},   # df(sH)=5 (out)
            "solo": [seg(80)],
        }
        added = {"y": [sM, sH, seg(65)]}
        removed = ["x", "solo"]
        post = {
            k: v for k, v in {**corpus, **added}.items() if k not in removed
        }
        for cfg in (DedupConfig(), TestPrefixIncremental.CFG):
            inc = IncrementalDedup(
                spark, cfg, str(tmp_path_factory.mktemp("wh_nz"))
            )
            inc.bootstrap(_turns_df(spark, corpus))
            res = inc.apply(
                new_turns=_turns_df(spark, added), remove_conv_ids=removed
            )
            fresh = DedupPipeline(
                spark, cfg, str(tmp_path_factory.mktemp("wh_nz_f"))
            ).run(_turns_df(spark, post))

            assert res.n_affected_old == 0
            got = _pairs(res.verified_pairs)
            assert got == _pairs(fresh.verified_pairs)
            assert {("a", "y"), ("b", "y")} <= got
            assert _clusters(res.clusters) == _clusters(fresh.clusters)
            assert _turn_keys(res.deduped_turns) == _turn_keys(
                fresh.deduped_turns
            )

    def test_remove_unknown_conv_rejected(self, spark, tmp_path_factory):
        turns_pdf, _, _ = generate_corpus(CorpusSpec(n_convs=20))
        inc = IncrementalDedup(
            spark, DedupConfig(), str(tmp_path_factory.mktemp("wh_ru"))
        )
        inc.bootstrap(spark.createDataFrame(turns_pdf))
        with pytest.raises(ValueError, match="do not exist"):
            inc.remove(["no_such_conv"])


class TestFoldAtomicity:
    """The manifest is the only commit point: a crash at any state write,
    at the manifest commit or inside compact() leaves the committed
    manifest and every dir it lists untouched, and the next call sweeps
    the leftovers and recovers on its own — no refusal, no re-bootstrap."""

    def test_crash_at_every_write_recovers(self, spark, tmp_path_factory):
        rng = np.random.Generator(np.random.PCG64(55))

        def seg(n):
            return "".join(chr(97 + c) for c in rng.integers(0, 26, size=n))

        sA, sB, sC = seg(300), seg(300), seg(300)
        old = {
            **{f"q{i}": [sA, seg(60)] for i in range(4)},  # df(sA)=4, in band
            "p0": [sB, seg(60)],
            "p1": [sB, seg(70)],                           # df(sB)=2, in band
            "lone": [sC, seg(80)],                         # df(sC)=1
        }
        # one apply that appends AND removes, so every state table is
        # written: sA leaves the band, sC enters it, removing p1 retires
        # signed rows and takes sB out of the band
        new = {"zq_new": [sA, seg(65)], "zc_new": [sC, seg(75)]}
        gone = ["p1"]
        post = {k: v for k, v in {**old, **new}.items() if k not in gone}
        new_t = _turns_df(spark, new)

        wh = str(tmp_path_factory.mktemp("wh_crash"))
        inc = IncrementalDedup(spark, DedupConfig(), wh)
        inc.bootstrap(_turns_df(spark, old))
        man_path = os.path.join(wh, "_inc_manifest.json")

        def committed():
            """The manifest and the identity of every dir it lists."""
            with open(man_path) as f:
                man = f.read()
            return man, {
                n: (st.st_ino, st.st_mtime_ns)
                for n in inc._listed(json.loads(man))
                for st in [os.stat(os.path.join(wh, n))]
            }

        class Crash(Exception):
            pass

        real_write, real_commit = inc.cat.write, inc._commit_manifest
        writes = []

        def crash_at(k):
            """Crash right after the k-th state write lands (None: never)."""

            def write(name, df):
                out = real_write(name, df)
                writes.append(name)
                if len(writes) - 1 == k:
                    raise Crash(name)
                return out

            writes.clear()
            inc.cat.write = write

        def crash_in_commit(*_):
            with open(man_path + ".__tmp__", "w") as f:
                f.write("{")  # half-written temp file, never renamed
            raise Crash("commit")

        def fold():
            return inc.apply(new_turns=new_t, remove_conv_ids=gone)

        # a fold that crashes at the commit has made every write of a
        # clean fold: count them instead of hard-coding the figure
        before = committed()
        crash_at(None)
        inc._commit_manifest = crash_in_commit
        with pytest.raises(Crash, match="commit"):
            fold()
        inc._commit_manifest = real_commit
        n_writes = len(writes)
        assert committed() == before
        assert {w.rsplit("__s", 1)[0] for w in writes} == {
            "inc_turns", "inc_sets", "inc_sigs", "inc_df",
            "inc_retired_sets", "inc_retired_sigs",
            "inc_verified", "inc_clusters",
        }
        # crash at every write: each retry gets past the previous point
        for k in range(n_writes):
            crash_at(k)
            with pytest.raises(Crash):
                fold()
            assert len(writes) == k + 1
            assert committed() == before
        # one crash inside compact()
        crash_at(1)
        with pytest.raises(Crash):
            inc.compact()
        assert committed() == before
        inc.cat.write = real_write
        inc.compact()
        compacted = json.loads(committed()[0])
        res = fold()

        full = DedupPipeline(
            spark, DedupConfig(), str(tmp_path_factory.mktemp("wh_crash_f"))
        ).run(_turns_df(spark, post))
        assert _pairs(res.verified_pairs) == _pairs(full.verified_pairs)
        assert _clusters(res.clusters) == _clusters(full.clusters)
        assert _turn_keys(res.deduped_turns) == _turn_keys(full.deduped_turns)
        # the fold swept every crash leftover and every segment compaction
        # replaced; what it does not list is only the result versions it
        # superseded, which stay readable until the next fold
        listed = inc._listed(json.loads(committed()[0]))
        superseded = inc._listed(compacted) - listed
        kept = listed | superseded
        on_disk = {e for e in os.listdir(wh) if e.lstrip("_").startswith("inc_")}
        assert superseded
        assert on_disk == {"_inc_manifest.json"} | kept | {
            f"_{n}.meta.json" for n in kept
        }


class TestCompaction:
    """Segment compaction is exactness-neutral and bounds state reads."""

    def test_compaction_mid_chain_equality(self, spark, tmp_path_factory):
        turns_pdf, _, _ = generate_corpus(CorpusSpec(n_convs=90))
        all_turns = spark.createDataFrame(turns_pdf).cache()
        convs = sorted({r.conv_id for r in all_turns.select("conv_id").collect()})
        s1 = set(convs[: len(convs) // 2])
        s2 = set(convs[len(convs) // 2 : 3 * len(convs) // 4])
        t1 = all_turns.filter(F.col("conv_id").isin(list(s1)))
        t2 = all_turns.filter(F.col("conv_id").isin(list(s2)))
        t3 = all_turns.filter(~F.col("conv_id").isin(list(s1 | s2)))

        cfg = DedupConfig()
        full = DedupPipeline(
            spark, cfg, str(tmp_path_factory.mktemp("wh_cf"))
        ).run(all_turns)
        # auto_compact_segments=1 → compaction runs after EVERY apply
        inc = IncrementalDedup(
            spark, cfg, str(tmp_path_factory.mktemp("wh_ci")),
            auto_compact_segments=1,
        )
        inc.bootstrap(t1)
        inc.append(t2)
        res = inc.append(t3)

        # compaction collapsed each table to one segment
        man = inc._read_manifest()
        assert all(len(v) == 1 for v in man["segments"].values())
        assert _pairs(res.verified_pairs) == _pairs(full.verified_pairs)
        assert _clusters(res.clusters) == _clusters(full.clusters)
        assert _turn_keys(res.deduped_turns) == _turn_keys(full.deduped_turns)

    def test_compaction_keeps_only_live_df_keys(self, spark, tmp_path_factory):
        """A removal leaves df = 0 rows in the df state (latest-wins needs
        them to override older totals). Compaction keeps only df > 0: its
        df table equals the df of the live sets, and a re-append of the
        removed convs, whose dropped keys then read as df 0, equals a
        fresh run."""
        turns_pdf, _, _ = generate_corpus(CorpusSpec(n_convs=40, seed=7))
        all_turns = spark.createDataFrame(turns_pdf).cache()
        convs = sorted({r.conv_id for r in all_turns.select("conv_id").collect()})
        gone = convs[::5]
        inc = IncrementalDedup(
            spark, DedupConfig(), str(tmp_path_factory.mktemp("wh_cdf"))
        )
        inc.bootstrap(all_turns)
        inc.remove(gone)
        man = inc._read_manifest()
        assert inc._resolve_kv(man, "inc_df", ["shingle"], "df").filter(
            "df = 0"
        ).count() > 0

        inc.compact()
        man = inc._read_manifest()
        df_state = inc._resolve_kv(man, "inc_df", ["shingle"], "df")
        live = inc._resolve_conv(
            man, "inc_sets", inc._retired(man, "inc_retired_sets")
        )
        want = shingling.shingle_document_frequency(
            shingling.exploded_shingles(live)
        )
        assert sorted(df_state.collect()) == sorted(want.collect())

        res = inc.append(all_turns.filter(F.col("conv_id").isin(gone)))
        fresh = DedupPipeline(
            spark, DedupConfig(), str(tmp_path_factory.mktemp("wh_cdff"))
        ).run(all_turns)
        assert _pairs(res.verified_pairs) == _pairs(fresh.verified_pairs)
        assert _clusters(res.clusters) == _clusters(fresh.clusters)
        assert _turn_keys(res.deduped_turns) == _turn_keys(fresh.deduped_turns)

    def test_band_segments_of_older_manifest_are_dropped(
        self, spark, tmp_path_factory
    ):
        """Band rows are derived from the signature state. A manifest
        that still lists an ``inc_bands`` table folds without reading
        it; compaction drops it from the manifest and the next fold's
        sweep deletes its dirs."""
        turns_pdf, _, _ = generate_corpus(CorpusSpec(n_convs=60))
        all_turns = spark.createDataFrame(turns_pdf).cache()
        convs = sorted({r.conv_id for r in all_turns.select("conv_id").collect()})
        new_ids = convs[::4]
        gone = [c for c in convs[1::5] if c not in new_ids]
        old = all_turns.filter(~F.col("conv_id").isin(new_ids))
        new = all_turns.filter(F.col("conv_id").isin(new_ids))
        post = all_turns.filter(~F.col("conv_id").isin(gone))

        cfg = DedupConfig()
        wh = str(tmp_path_factory.mktemp("wh_lb"))
        inc = IncrementalDedup(spark, cfg, wh)
        inc.bootstrap(old)
        inc.cat.write(
            "inc_bands__s0", lsh.explode_bands(inc.cat.read("inc_sigs__s0"))
        )
        man = inc._read_manifest()
        man["segments"]["inc_bands"] = [0]
        inc._commit_manifest(man["epoch"], man["segments"], man["results"])
        inc.append(new)
        inc.compact()
        assert "inc_bands" not in inc._read_manifest()["segments"]
        res = inc.remove(gone)
        assert not any(
            e.lstrip("_").startswith("inc_bands") for e in os.listdir(wh)
        )
        fresh = DedupPipeline(
            spark, cfg, str(tmp_path_factory.mktemp("wh_lbf"))
        ).run(post)
        assert _pairs(res.verified_pairs) == _pairs(fresh.verified_pairs)
        assert _clusters(res.clusters) == _clusters(fresh.clusters)
        assert _turn_keys(res.deduped_turns) == _turn_keys(fresh.deduped_turns)


class TestDeltaProportionalReport:
    """The run report must expose non-UDF stage input sizes so a user
    can SEE that apply cost tracks (new ∪ affected), not the corpus."""

    def test_report_fields_delta_sized(self, spark, tmp_path_factory):
        # low-overlap fixture: unique random text per conv, so the
        # append's df drift is confined to its own (df=1) shingles and
        # NO old conv is affected — the pure-delta regime. (The shared-
        # vocabulary synthetic corpus is the documented worst case where
        # df drift legitimately re-signs the whole corpus.)
        rng = np.random.Generator(np.random.PCG64(17))

        def seg(n):
            return "".join(chr(97 + c) for c in rng.integers(0, 26, size=n))

        old = _turns_df(spark, {f"o{i}": [seg(300)] for i in range(50)})
        new = _turns_df(spark, {f"n{i}": [seg(300)] for i in range(3)})

        inc = IncrementalDedup(
            spark, DedupConfig(), str(tmp_path_factory.mktemp("wh_rep"))
        )
        inc.bootstrap(old)
        res = inc.append(new)
        rpt = res.report
        for k in ("n_touched_shingles", "n_flipped_shingles",
                  "n_affected_old", "n_resigned", "n_changed_convs",
                  "n_candidate_pairs"):
            assert k in rpt, k
        # perfbench's incremental.<phase>_s metrics read these names
        assert list(rpt["t_phases"]) == [
            "guards", "shingle_delta", "df_merge", "affected_probe",
            "resign", "candidates", "verify", "clusters", "fold",
        ]
        # delta-proportionality on a low-overlap corpus: nothing old is
        # touched, the changed set IS the appended batch
        assert rpt["n_affected_old"] == 0
        assert rpt["n_flipped_shingles"] == 0
        assert rpt["n_changed_convs"] <= 3
        assert rpt["n_resigned"] <= rpt["n_affected_old"] + rpt["n_new_convs"]

    def test_chained_apply_after_skipped_segments(self, spark, tmp_path_factory):
        """An append that signs nothing (all-unique text) skips the
        sigs/bands/sizes segment writes; the NEXT apply must resolve
        state correctly and still equal a full recompute."""
        rng = np.random.Generator(np.random.PCG64(23))

        def seg(n):
            return "".join(chr(97 + c) for c in rng.integers(0, 26, size=n))

        old = {f"o{i}": [seg(300)] for i in range(20)}
        a1 = {f"p{i}": [seg(300)] for i in range(2)}       # signs nothing
        dup_src = old["o3"][0]
        a2 = {"q0": [dup_src], "q1": [seg(300)]}           # q0 dups o3

        cfg = DedupConfig()
        inc = IncrementalDedup(
            spark, cfg, str(tmp_path_factory.mktemp("wh_skip"))
        )
        inc.bootstrap(_turns_df(spark, old))
        r1 = inc.append(_turns_df(spark, a1))
        assert r1.n_resigned == 0  # the skipped-segment epoch
        res = inc.append(_turns_df(spark, a2))
        full = DedupPipeline(
            spark, cfg, str(tmp_path_factory.mktemp("wh_skip_f"))
        ).run(_turns_df(spark, {**old, **a1, **a2}))
        assert ("o3", "q0") in _pairs(res.verified_pairs)
        assert _pairs(res.verified_pairs) == _pairs(full.verified_pairs)
        assert _clusters(res.clusters) == _clusters(full.clusters)
