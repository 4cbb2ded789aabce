"""Substring (suffix-array) pass + interval decision tests.

Mirrors the reference's alignment/trim test strategy
(/root/reference/dedup/test/test_alignment.py golden best-path,
test/test_contig.py:46-77 trim semantics) against planted substrings
and a brute-force oracle.
"""

from __future__ import annotations

import numpy as np
import pytest

from dedup_spark.config import DedupConfig
from dedup_spark.operators import intervals, substring
from dedup_spark.operators.transcripts import assemble_transcripts

CFG = DedupConfig(
    anchor_w=8, min_span_len=20, max_gap=50, end_buffer=30, min_doc_len=0
)


def _docs_df(spark, docs: dict[str, str]):
    return spark.createDataFrame(
        [(k, v, 1, len(v)) for k, v in docs.items()],
        "conv_id string, doc string, n_turns long, doc_len int",
    )


def _substring_matches(transcripts, cfg, pairs=None):
    """The substring pass end to end: transcripts → best span per pair."""
    keys = substring.suffix_keys(transcripts, cfg)
    anchors = substring.anchor_matches(keys, cfg, pairs, convs=transcripts)
    return substring.best_substring_match(
        substring.simplify_spans(substring.chain_anchors(anchors, cfg))
    )


def _rand_text(rng, n):
    return "".join(chr(97 + c) for c in rng.integers(0, 26, size=n))


class TestSuffixKeys:
    def test_every_position_keyed(self, spark):
        df = _docs_df(spark, {"a": "abcdefghij"})  # len 10, w 8 → 3 suffixes
        rows = substring.suffix_keys(df, CFG).collect()
        assert sorted(r["pos"] for r in rows) == [1, 2, 3]

    def test_equal_prefix_equal_key(self, spark):
        df = _docs_df(spark, {"a": "xxprefixZZ", "b": "xxprefixQQ"})
        rows = substring.suffix_keys(df, CFG).collect()
        key = {(r["conv_id"], r["pos"]): r["key"] for r in rows}
        assert key[("a", 1)] == key[("b", 1)]  # shared 8-char prefix
        assert key[("a", 3)] != key[("b", 3)]  # diverged suffixes

    def test_short_doc_skipped(self, spark):
        df = _docs_df(spark, {"a": "short"})
        assert substring.suffix_keys(df, CFG).count() == 0

    def test_non_ascii_doc_included_byte_positions(self, spark):
        """The pass is byte-indexed end to end, so non-ASCII docs
        participate fully (rounds 1-3 excluded them): positions
        enumerate BYTE offsets of the UTF-8 encoding."""
        docs = {"ascii": "abcdefghij", "uni": "cafécafécafé"}  # uni = 15 bytes
        df = _docs_df(spark, docs)
        rows = substring.suffix_keys(df, CFG).collect()
        by_conv = {}
        for r in rows:
            by_conv.setdefault(r["conv_id"], []).append(r["pos"])
        assert sorted(by_conv["ascii"]) == [1, 2, 3]  # 10 bytes, w=8
        assert sorted(by_conv["uni"]) == list(range(1, 15 - CFG.anchor_w + 2))


class TestAnchorsAndChaining:
    def test_planted_substring_found(self, spark):
        rng = np.random.Generator(np.random.PCG64(7))
        shared = _rand_text(rng, 120)
        a = _rand_text(rng, 200) + shared + _rand_text(rng, 150)
        b = _rand_text(rng, 60) + shared + _rand_text(rng, 300)
        best = _substring_matches(
            _docs_df(spark, {"a": a, "b": b}), CFG
        ).collect()
        assert len(best) == 1
        r = best[0]
        assert (r["conv_a"], r["conv_b"]) == ("a", "b")
        # planted span: a[201..320], b[61..180] (1-based inclusive)
        assert abs(r["a_start"] - 201) <= CFG.anchor_w
        assert abs(r["a_end"] - 320) <= CFG.anchor_w
        assert abs(r["b_start"] - 61) <= CFG.anchor_w
        assert r["matched"] >= 120 - CFG.anchor_w

    def test_two_spans_gap_split_and_top1(self, spark):
        """Two shared spans separated by > max_gap stay separate chains;
        best_substring_match keeps the longer one (O1 top-1 semantics)."""
        rng = np.random.Generator(np.random.PCG64(8))
        s1, s2 = _rand_text(rng, 40), _rand_text(rng, 90)
        gap_a, gap_b = _rand_text(rng, 200), _rand_text(rng, 220)
        a = s1 + gap_a + s2
        b = s1 + gap_b + s2
        docs = _docs_df(spark, {"a": a, "b": b})
        keys = substring.suffix_keys(docs, CFG)
        anchors = substring.anchor_matches(keys, CFG)
        spans = substring.chain_anchors(anchors, CFG).collect()
        assert len(spans) == 2
        best = substring.best_substring_match(
            substring.chain_anchors(anchors, CFG)
        ).collect()
        assert len(best) == 1
        assert best[0]["matched"] >= 90 - CFG.anchor_w  # the longer span wins

    def test_no_shared_substring_no_spans(self, spark):
        rng = np.random.Generator(np.random.PCG64(9))
        docs = _docs_df(spark, {"a": _rand_text(rng, 300), "b": _rand_text(rng, 300)})
        assert _substring_matches(docs, CFG).count() == 0

    def test_occurrence_cap_reported_not_silent(self, spark):
        """Boilerplate repeated everywhere exceeds the cap → excluded
        from anchors AND present in the skew report."""
        boiler = "B" * 60  # every 8-window identical → huge occ per key
        cfg = DedupConfig(anchor_w=8, min_span_len=20, max_anchor_occ=10)
        docs = _docs_df(spark, {f"c{i}": boiler for i in range(6)})
        keys = substring.suffix_keys(docs, cfg)
        occ = substring.key_occurrence(keys)
        assert substring.anchor_skew_report(occ, cfg).count() > 0
        assert substring.anchor_matches(keys, cfg).count() == 0

    def test_pair_restriction(self, spark):
        rng = np.random.Generator(np.random.PCG64(10))
        shared = _rand_text(rng, 100)
        docs = _docs_df(
            spark,
            {
                "a": shared + _rand_text(rng, 50),
                "b": shared + _rand_text(rng, 60),
                "c": shared + _rand_text(rng, 70),
            },
        )
        pairs = spark.createDataFrame([("a", "b")], "conv_a string, conv_b string")
        best = _substring_matches(docs, CFG, pairs=pairs).collect()
        assert {(r["conv_a"], r["conv_b"]) for r in best} == {("a", "b")}

    def test_brute_force_parity(self, spark):
        """Chained matched-char estimate agrees with a brute-force longest
        common substring on random docs with one planted span."""
        rng = np.random.Generator(np.random.PCG64(11))
        shared = _rand_text(rng, 64)
        a = _rand_text(rng, 100) + shared + _rand_text(rng, 100)
        b = _rand_text(rng, 80) + shared + _rand_text(rng, 120)

        def lcs_len(x: str, y: str) -> int:  # O(nm) brute force, tiny input
            best = 0
            prev = [0] * (len(y) + 1)
            for i in range(1, len(x) + 1):
                cur = [0] * (len(y) + 1)
                for j in range(1, len(y) + 1):
                    if x[i - 1] == y[j - 1]:
                        cur[j] = prev[j - 1] + 1
                        best = max(best, cur[j])
                prev = cur
            return best

        truth = lcs_len(a, b)
        got = _substring_matches(_docs_df(spark, {"a": a, "b": b}), CFG)
        r = got.collect()[0]
        assert abs(r["matched"] - truth) <= CFG.anchor_w


class TestAnchorSampling:
    """Content-hash anchor sampling (anchor_sample_mod > 1) — the
    minimizer-seeding analog of the reference's minimap2 pass
    (dedup.py:424-434): volume drops ×mod while planted spans are
    still recovered, because both docs select the SAME positions
    inside shared content."""

    MOD_CFG = DedupConfig(
        anchor_w=8, min_span_len=20, max_gap=50, end_buffer=30,
        min_doc_len=0, anchor_sample_mod=4,
    )

    def test_volume_reduced(self, spark):
        rng = np.random.Generator(np.random.PCG64(21))
        docs = _docs_df(spark, {"a": _rand_text(rng, 4000)})
        dense = substring.suffix_keys(docs, CFG).count()
        sampled = substring.suffix_keys(docs, self.MOD_CFG).count()
        # hash-uniform: expect dense/4, allow wide slack
        assert dense * 0.15 <= sampled <= dense * 0.35

    def test_sampling_is_content_determined(self, spark):
        """The same shared substring selects the same keys in both docs
        regardless of its position, so sampled anchors never desync.
        The b-side prefix runs over 13–16 bytes, so the offset
        difference takes every residue mod 4: positional sampling would
        desync three of the four."""
        rng = np.random.Generator(np.random.PCG64(22))
        shared = _rand_text(rng, 200)
        docs = {"a": _rand_text(rng, 97) + shared + _rand_text(rng, 50)}
        for n in range(13, 17):
            docs[f"b{n}"] = _rand_text(rng, n) + shared
        rows = substring.suffix_keys(_docs_df(spark, docs), self.MOD_CFG).collect()
        w = self.MOD_CFG.anchor_w

        def sel(conv_id, prefix):
            return {r["pos"] - prefix - 1 for r in rows if r["conv_id"] == conv_id
                    if prefix < r["pos"] <= prefix + len(shared) - w + 1}

        sel_a = sel("a", 97)
        assert len(sel_a) > 0
        for n in range(13, 17):
            assert sel(f"b{n}", n) == sel_a, f"b prefix {n}"

    def test_planted_span_recovered_sampled(self, spark):
        rng = np.random.Generator(np.random.PCG64(23))
        shared = _rand_text(rng, 300)
        a = _rand_text(rng, 150) + shared + _rand_text(rng, 100)
        b = _rand_text(rng, 40) + shared + _rand_text(rng, 200)
        best = _substring_matches(
            _docs_df(spark, {"a": a, "b": b}), self.MOD_CFG
        ).collect()
        assert len(best) == 1
        r = best[0]
        # boundary slack: mean anchor spacing is mod, so allow a few
        # spacings of shrink at each end plus the anchor width
        slack = self.MOD_CFG.anchor_w + 4 * self.MOD_CFG.anchor_sample_mod
        assert abs(r["a_start"] - 151) <= slack
        assert abs(r["a_end"] - 450) <= slack
        assert abs(r["b_start"] - 41) <= slack
        # `matched` is the conservative (n-1)*step+w estimate; with
        # hash sampling the realized spacing fluctuates around mod, so
        # allow twice the boundary slack
        assert r["matched"] >= 300 - 2 * slack


class TestPlantedTruth:
    """Algorithm-independent ground truth: spans are planted by
    construction (not mirrored SQL), and every planted span must be
    recovered with tight coordinates — guards against the oracle
    circularity of engine-vs-engine comparison."""

    @pytest.mark.parametrize("seed,n_spans", [(21, 1), (22, 2), (23, 3)])
    def test_planted_spans_recovered(self, spark, seed, n_spans):
        rng = np.random.Generator(np.random.PCG64(seed))
        a_parts, b_parts = [], []
        planted = []  # (a_start, a_end, b_start, b_end) 1-based inclusive
        a_len = b_len = 0

        def filler(n):
            return _rand_text(rng, n)

        for _ in range(n_spans):
            fa, fb = filler(int(rng.integers(150, 260))), filler(int(rng.integers(150, 260)))
            a_parts.append(fa); a_len += len(fa)
            b_parts.append(fb); b_len += len(fb)
            seg = _rand_text(rng, int(rng.integers(70, 140)))
            planted.append((a_len + 1, a_len + len(seg), b_len + 1, b_len + len(seg)))
            a_parts.append(seg); a_len += len(seg)
            b_parts.append(seg); b_len += len(seg)
        a_parts.append(filler(120)); b_parts.append(filler(140))

        docs = _docs_df(spark, {"a": "".join(a_parts), "b": "".join(b_parts)})
        spans = substring.chain_anchors(
            substring.anchor_matches(substring.suffix_keys(docs, CFG), CFG), CFG
        ).collect()
        w = CFG.anchor_w
        for (pa, pae, pb, pbe) in planted:
            hit = [
                s for s in spans
                if abs(s["a_start"] - pa) <= w and abs(s["a_end"] - pae) <= w
                and abs(s["b_start"] - pb) <= w and abs(s["b_end"] - pbe) <= w
            ]
            assert hit, (planted, sorted(
                (s["a_start"], s["a_end"], s["b_start"], s["b_end"]) for s in spans
            ))


class TestSimplifySpans:
    """Explicit PAF-simplify containment prune (alignment.py:374-396,
    J7): only spans contained on BOTH axes are dropped; exact duplicates
    keep the lowest chain_id."""

    def _spans(self, spark, rows):
        return spark.createDataFrame(
            rows,
            "conv_a string, conv_b string, chain_id long, a_start int, "
            "a_end int, b_start int, b_end int",
        )

    def test_nested_dropped_partial_kept(self, spark):
        rows = [
            ("a", "b", 1, 100, 300, 50, 250),   # container — kept
            ("a", "b", 2, 150, 200, 80, 130),   # nested both axes — dropped
            ("a", "b", 3, 150, 200, 400, 450),  # nested on a only — kept
            ("a", "c", 1, 150, 200, 80, 130),   # other pair — kept
        ]
        out = substring.simplify_spans(self._spans(spark, rows)).collect()
        got = {(r.conv_a, r.conv_b, r.chain_id) for r in out}
        assert got == {("a", "b", 1), ("a", "b", 3), ("a", "c", 1)}

    def test_exact_duplicates_keep_first(self, spark):
        rows = [
            ("a", "b", 5, 10, 60, 10, 60),
            ("a", "b", 2, 10, 60, 10, 60),
        ]
        out = substring.simplify_spans(self._spans(spark, rows)).collect()
        assert [(r.chain_id) for r in out] == [2]

    def test_transitive_nesting(self, spark):
        rows = [
            ("a", "b", 1, 1, 500, 1, 500),
            ("a", "b", 2, 50, 300, 50, 300),
            ("a", "b", 3, 100, 200, 100, 200),
        ]
        out = substring.simplify_spans(self._spans(spark, rows)).collect()
        assert [(r.chain_id) for r in out] == [1]


class TestIntervalDecision:
    """Mirrors reference decision rules dedup.py:244-308 and trim
    semantics test_contig.py:46-77."""

    def _spans(self, spark, rows):
        return spark.createDataFrame(
            rows,
            "conv_a string, conv_b string, a_start int, a_end int, "
            "b_start int, b_end int, n_anchors long, matched int, score int",
        )

    def _lens(self, spark, lens):
        return spark.createDataFrame(
            [(k, "x" * v, 1, v) for k, v in lens.items()],
            "conv_id string, doc string, n_turns long, doc_len int",
        )

    def test_full_dup_marks_whole_doc(self, spark):
        spans = self._spans(spark, [("a", "b", 1, 95, 1, 95, 10, 95, 95)])
        t = self._lens(spark, {"a": 1000, "b": 100})  # b is 95% covered
        marks = intervals.decide_intervals(spans, t, CFG).collect()
        assert len(marks) == 1
        m = marks[0]
        assert (m["conv_id"], m["start"], m["end"], m["kind"]) == ("b", 1, 100, "full")

    def test_edge5_trim(self, spark):
        # span near b's start (within end_buffer=30), not full coverage
        spans = self._spans(spark, [("a", "b", 500, 560, 10, 70, 6, 61, 61)])
        t = self._lens(spark, {"a": 2000, "b": 400})
        m = intervals.decide_intervals(spans, t, CFG).collect()[0]
        assert (m["conv_id"], m["start"], m["end"], m["kind"]) == ("b", 1, 70, "edge5")

    def test_edge3_trim(self, spark):
        spans = self._spans(spark, [("a", "b", 500, 560, 330, 390, 6, 61, 61)])
        t = self._lens(spark, {"a": 2000, "b": 400})
        m = intervals.decide_intervals(spans, t, CFG).collect()[0]
        assert (m["conv_id"], m["start"], m["end"], m["kind"]) == ("b", 330, 400, "edge3")

    def test_middle_span_gives_up(self, spark):
        # span in the middle of both docs, small coverage → no mark
        # (reference give-up branch, dedup.py:285)
        spans = self._spans(spark, [("a", "b", 900, 960, 150, 210, 6, 61, 61)])
        t = self._lens(spark, {"a": 2000, "b": 400})
        assert intervals.decide_intervals(spans, t, CFG).count() == 0

    def test_fallback_to_other_side(self, spark):
        # primary (more duplicated) side b has a middle span; a's span is
        # at its 5' edge → falls back to marking a (dedup.py:290-307)
        spans = self._spans(spark, [("a", "b", 5, 65, 150, 210, 6, 61, 61)])
        t = self._lens(spark, {"a": 2000, "b": 400})
        m = intervals.decide_intervals(spans, t, CFG).collect()[0]
        assert (m["conv_id"], m["kind"]) == ("a", "edge5")

    def test_exact_tie_marks_conv_b(self, spark):
        # equal duplicated fractions → strict > picks conv_b as primary
        # (reference dedup.py:247 else-branch parity)
        spans = self._spans(spark, [("a", "b", 1, 95, 1, 95, 10, 95, 95)])
        t = self._lens(spark, {"a": 100, "b": 100})  # both 95% covered
        marks = intervals.decide_intervals(spans, t, CFG).collect()
        assert len(marks) == 1
        assert marks[0]["conv_id"] == "b"

    def test_merge_adjacent_intervals(self, spark):
        # [1,50] + [51,100] touch with no gap → one merged interval
        marks = spark.createDataFrame(
            [("c", 1, 50), ("c", 51, 100), ("c", 103, 110)],
            "conv_id string, start int, end int",
        )
        got = {
            (r["conv_id"], r["start"], r["end"])
            for r in intervals.merge_intervals(marks).collect()
        }
        assert got == {("c", 1, 100), ("c", 103, 110)}

    def test_merge_intervals(self, spark):
        marks = spark.createDataFrame(
            [("c", 1, 50), ("c", 40, 80), ("c", 200, 300), ("d", 5, 10)],
            "conv_id string, start int, end int",
        )
        got = {
            (r["conv_id"], r["start"], r["end"])
            for r in intervals.merge_intervals(marks).collect()
        }
        assert got == {("c", 1, 80), ("c", 200, 300), ("d", 5, 10)}


class TestTrimTurns:
    def _turns(self, spark, convs: dict[str, list[str]]):
        rows = [
            (cid, i, "user", txt, None)
            for cid, ts in convs.items()
            for i, txt in enumerate(ts)
        ]
        return spark.createDataFrame(
            rows, "conv_id string, turn_idx int, role string, text string, tool string"
        )

    def test_offsets_match_assembly(self, spark):
        turns = self._turns(spark, {"c": ["hello", "wo", "rld!"]})
        doc = assemble_transcripts(turns).collect()[0]["doc"]
        offs = {r["turn_idx"]: (r["turn_start"], r["turn_end"])
                for r in intervals.turn_offsets(turns).collect()}
        for idx, text in enumerate(["hello", "wo", "rld!"]):
            s, e = offs[idx]
            assert doc[s - 1 : e] == text

    def test_no_marks_identity(self, spark):
        # no-dup → identity (test_contig.py:46-49 analog)
        turns = self._turns(spark, {"c": ["aaa", "bbb"]})
        empty = spark.createDataFrame([], "conv_id string, start int, end int")
        assert intervals.trim_turns(turns, empty, CFG).count() == 2

    def test_full_mark_drops_conv(self, spark):
        # fully-duplicated → empty (test_contig.py:51-54 analog)
        turns = self._turns(spark, {"c": ["aaa", "bbb"], "d": ["zz"]})
        marks = spark.createDataFrame([("c", 1, 7)], "conv_id string, start int, end int")
        left = intervals.trim_turns(turns, marks, CFG)
        assert {r["conv_id"] for r in left.collect()} == {"d"}

    def test_edge_trim_drops_covered_turns_only(self, spark):
        # 5' trim keeps the tail (test_contig.py:56-60 analog); a turn
        # straddling the interval boundary survives verbatim
        turns = self._turns(spark, {"c": ["aaaa", "bbbb", "cccc"]})
        # doc = aaaa\nbbbb\ncccc ; turns at [1,4],[6,9],[11,14]
        marks = spark.createDataFrame([("c", 1, 9)], "conv_id string, start int, end int")
        left = intervals.trim_turns(turns, marks, CFG).collect()
        assert sorted(r["turn_idx"] for r in left) == [2]
        assert left[0]["text"] == "cccc"  # never rewritten

    def test_min_len_gate(self, spark):
        # surviving text below min_doc_len → conv dropped entirely
        # (min_sequence_len gate, test_contig.py:62-66 analog)
        cfg = DedupConfig(anchor_w=8, min_doc_len=10)
        turns = self._turns(spark, {"c": ["aaaa", "bbbb", "cc"]})
        marks = spark.createDataFrame([("c", 1, 9)], "conv_id string, start int, end int")
        assert intervals.trim_turns(turns, marks, cfg).count() == 0

    def test_multiple_intervals_keep_middle(self, spark):
        # dup at both ends keeps the middle (test_contig.py:74-77 analog)
        turns = self._turns(spark, {"c": ["aaaa", "bbbb", "cccc"]})
        marks = spark.createDataFrame(
            [("c", 1, 4), ("c", 11, 14)], "conv_id string, start int, end int"
        )
        left = intervals.trim_turns(turns, marks, CFG).collect()
        assert sorted(r["turn_idx"] for r in left) == [1]


class TestByteSpaceNonAscii:
    """Byte-space substring dedup for non-ASCII documents (multilingual
    transcripts): positions, spans, interval decisions, and turn trims
    are all byte offsets of the UTF-8 encoding, so mixed-script corpora
    get full substring-level dedup — the round-3 exclusion gate is gone."""

    def test_mixed_script_planted_pair_recovered(self, spark):
        rng = np.random.Generator(np.random.PCG64(31))

        def uni_text(n):
            # high-entropy mixed-width alphabet: 64 Cyrillic (2 bytes/char)
            # + 64 CJK (3 bytes/char) — an 8-byte window spans ≥3 chars of
            # a 128-symbol alphabet, so spurious cross-doc window
            # collisions (which would split chains) are negligible
            alphabets = [chr(0x0430 + i) for i in range(64)] + [
                chr(0x4E00 + i) for i in range(64)
            ]
            return "".join(
                alphabets[c] for c in rng.integers(0, len(alphabets), size=n)
            )

        shared = uni_text(120)
        a = uni_text(150) + shared + uni_text(100)
        b = uni_text(40) + shared + uni_text(180)
        best = _substring_matches(
            _docs_df(spark, {"a": a, "b": b}), CFG
        ).collect()
        assert len(best) == 1
        r = best[0]
        ab, bb = a.encode("utf-8"), b.encode("utf-8")
        # reported positions are byte offsets: the two reported slices
        # carry the same shared bytes (allow anchor-width edge slack,
        # then require a long common prefix of the two byte slices)
        sa = ab[r["a_start"] - 1 : r["a_end"]]
        sb = bb[r["b_start"] - 1 : r["b_end"]]
        shared_bytes = shared.encode("utf-8")
        assert sa == sb
        assert len(sa) >= len(shared_bytes) - 2 * CFG.anchor_w
        # the recovered region must cover the planted one (it may extend
        # a few bytes past it: UTF-8 lead bytes of the two fillers can
        # genuinely coincide — e.g. every CJK char here shares \xe4\xb8 —
        # and those bytes ARE shared content in byte space)
        assert shared_bytes[2 * CFG.anchor_w : -2 * CFG.anchor_w] in sa

    def test_turn_offsets_are_byte_spans(self, spark):
        turns = spark.createDataFrame(
            [("c", 0, "user", "héllo", None), ("c", 1, "agent", "wörld", None),
             ("c", 2, "user", "данные", None)],
            "conv_id string, turn_idx int, role string, text string, tool string",
        )
        doc = assemble_transcripts(turns).collect()[0]["doc"]
        db = doc.encode("utf-8")
        for r in intervals.turn_offsets(turns).collect():
            assert db[r["turn_start"] - 1 : r["turn_end"]] == r["text"].encode("utf-8")

    def test_trim_drops_covered_multibyte_turn(self, spark):
        """A non-ASCII turn fully inside a byte-space dup interval is
        dropped; the straddling/outside turns survive verbatim."""
        turns = spark.createDataFrame(
            [("c", 0, "user", "дубль", None),   # 10 bytes: span [1,10]
             ("c", 1, "user", "uniq", None),    # span [12,15]
             ("c", 2, "user", "данные", None)], # span [17,28]
            "conv_id string, turn_idx int, role string, text string, tool string",
        )
        marks = spark.createDataFrame(
            [("c", 1, 10)], "conv_id string, start int, end int"
        )
        left = intervals.trim_turns(turns, marks, CFG).collect()
        assert sorted(r["turn_idx"] for r in left) == [1, 2]
        assert {r["text"] for r in left} == {"uniq", "данные"}

    def test_decide_intervals_uses_byte_lengths(self, spark):
        """full-dup threshold judged against BYTE length: a span covering
        >90% of a doc's bytes marks the whole doc even when the char
        count alone would put coverage below the threshold."""
        # doc_b: 100 Cyrillic chars = 200 bytes; span covers bytes 1..190
        # (95% of bytes but would be 190/100 > 1 nonsense in char space)
        b_doc = "ж" * 100
        a_doc = "x" * 2000
        t = spark.createDataFrame(
            [("a", a_doc, 1, len(a_doc)), ("b", b_doc, 1, len(b_doc))],
            "conv_id string, doc string, n_turns long, doc_len int",
        )
        spans = spark.createDataFrame(
            [("a", "b", 1, 190, 1, 190, 10, 190, 190)],
            "conv_a string, conv_b string, a_start int, a_end int, "
            "b_start int, b_end int, n_anchors long, matched int, score int",
        )
        m = intervals.decide_intervals(spans, t, CFG).collect()
        assert len(m) == 1
        assert (m[0]["conv_id"], m[0]["start"], m[0]["end"], m[0]["kind"]) == (
            "b", 1, 200, "full",
        )


class TestChunkedAnchors:
    """The chunked two-level gram explode (anchor_chunk_grams) must be
    byte-identical to the one-chunk plan at ANY chunk size — it's a
    physical parallelization of one document's gram enumeration, not a
    semantic knob. Tiny chunks force many boundaries per doc."""

    def _keys(self, spark, docs, **cfg_kw):
        cfg = DedupConfig(
            anchor_w=8, min_span_len=20, max_gap=50, end_buffer=30,
            min_doc_len=0, **cfg_kw,
        )
        return sorted(
            (r["conv_id"], int(r["pos"]), int(r["key"]))
            for r in substring.suffix_keys(_docs_df(spark, docs), cfg).collect()
        )

    def test_stride_chunked_equals_unchunked(self, spark):
        rng = np.random.Generator(np.random.PCG64(40))
        docs = {f"d{i}": _rand_text(rng, int(rng.integers(5, 700)))
                for i in range(8)}
        big = self._keys(spark, docs, anchor_chunk_grams=1 << 20)
        for chunk in (17, 64, 100):
            assert self._keys(spark, docs, anchor_chunk_grams=chunk) == big

    def test_sample_mod_composes_with_chunking(self, spark):
        rng = np.random.Generator(np.random.PCG64(42))
        docs = {"a": _rand_text(rng, 800)}
        big = self._keys(
            spark, docs, anchor_sample_mod=4, anchor_chunk_grams=1 << 20
        )
        assert self._keys(
            spark, docs, anchor_sample_mod=4, anchor_chunk_grams=37
        ) == big

    def test_chunk_grams_validated(self):
        for bad in (0, -1):
            with pytest.raises(ValueError, match="anchor_chunk_grams"):
                DedupConfig(anchor_chunk_grams=bad)
            with pytest.raises(ValueError, match="anchor_sample_mod"):
                DedupConfig(anchor_sample_mod=bad)
