"""Incremental whole-conversation dedup: appends, deletes, and edits at
cost proportional to the DELTA, with an exact-equality contract.

A production 100-TB corpus grows daily and routinely loses documents
(takedowns, PII removal); re-running the full pipeline re-pays the
shingle/signature UDF cost *and* the global band/df aggregations for
every existing conversation just to process the changed slice. This
module maintains durable, SEGMENTED state tables and folds a batch of
added and/or removed conversations in, such that the updated
``verified_pairs`` / ``clusters`` / ``deduped_turns`` EQUAL what a full
:class:`~dedup_spark.pipeline.DedupPipeline` run over the post-change
corpus would produce (asserted end-to-end in tests/test_incremental.py).

Why exactness is non-trivial — two global dependencies drift:

* corpus document frequencies: an added (removed) conversation can push
  an old shingle's df into (out of) the informative band, changing the
  informative sets — and therefore the signatures — of UNCHANGED old
  conversations, which must re-sign;
* (banding mode) candidacy is a function of GLOBAL bucket size: a
  bucket the delta pushes across the drop threshold changes the
  candidate set of unchanged conv pairs inside it, so every member of a
  drop-tier-crossing bucket is promoted into the changed set.

Cost model (the round-5 redesign — the round-4 implementation re-built
every global aggregate per append, measured at 0.43× of a full
bootstrap): state lives in APPEND-ONLY SEGMENTS plus small rewritten
tables, so per-apply work is

* UDF cost ∝ added characters + re-signed conversations;
* shuffle cost ∝ (delta ∪ affected): df counts merge only for TOUCHED
  shingles against a shingle-restricted state read, bucket sizes update
  only for TOUCHED buckets against a bucket-restricted state read
  (sizes are READ from durable state, never re-aggregated from the full
  signature table), the one-sided candidate join touches only changed
  convs' buckets, and the verify join only the candidate convs;
* full-corpus work is limited to columnar SCANS of immutable segments
  (flipped-shingle membership probe, prefix-emit probe side) — no
  full-corpus shuffle, no full-corpus UDF, no wholesale rewrite of any
  corpus-sized table. Segment reads are bounded by periodic
  :meth:`IncrementalDedup.compact` (auto after ``auto_compact_segments``
  epochs).

Atomicity (a crash mid-fold must never leave a silently-torn
warehouse): every state table's sidecar carries the epoch it was
written at, and a single JSON MANIFEST — replaced atomically, committed
LAST — names the exact segment set and the expected epoch of every
rewritten table. Segments written by a crashed apply are orphans the
manifest never references; a crash between the small-table rewrites and
the manifest commit leaves sidecar epochs ahead of the manifest, which
:meth:`_check_state` refuses LOUDLY. Stale batch-pipeline stages are
invalidated BEFORE the fold, so no interleaving leaves them readable
against post-fold state.

Scope: branch A (whole-conversation dedup) + emit, ``df_band_mode=
"manual"`` (auto band selection re-fits on the whole corpus by design —
a delta can legitimately move the fitted band, which invalidates every
signature; that IS a full rerun), ``df_lo >= 2`` (batch parity), and
``candidate_source`` in {"banding", "prefix"}. The prefix path replaces
the batch pipeline's df-ascending token order with ascending shingle
VALUE — the prefix-filter pigeonhole holds for ANY fixed total order,
and a corpus-independent order is what makes the probe side computable
from durable signature state without a global df pass (the df order
only optimizes candidate volume; verified output is order-invariant
because prefix recall is 1.0 under both).

No reference analog — the reference is a one-shot CLI
(/root/reference/dedup/dedup.py:648-677); this is part of the
beyond-reference training-data-pipeline surface. The segmented layout
is the parquet stand-in for Iceberg snapshot appends: the ``"iceberg"``
catalog backend would map segments to table snapshots and the manifest
to the catalog commit.
"""

from __future__ import annotations

import json
import math
import os
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession, functions as F

from dedup_spark.catalog import StageCatalog
from dedup_spark.config import DedupConfig
from dedup_spark.operators import lsh, shingling, verify
from dedup_spark.operators.connected_components import connected_components
from dedup_spark.operators.transcripts import assemble_transcripts
from dedup_spark.pipeline import DedupPipeline
from dedup_spark.util import eager_ckpt

# ---------------------------------------------------------------- state names
#: segmented state tables (one parquet dir per epoch: "<name>__s<e>")
SEG_TURNS = "inc_turns"      # raw turns of convs (re)added at epoch e
SEG_SETS = "inc_sets"        # (conv_id, shingles, n_shingles) raw sets
SEG_SIGS = "inc_sigs"        # signature rows of convs (re)signed at e
SEG_BANDS = "inc_bands"      # exploded (conv_id, band_id, band_hash)
SEG_DF = "inc_df"            # (shingle, df) CURRENT totals, touched at e
SEG_SIZES = "inc_sizes"      # (band_id, band_hash, bucket_size), touched at e
#: small tables rewritten wholesale each apply (epoch-stamped)
TBL_RETIRED_SETS = "inc_retired_sets"   # (conv_id, __e) dead sets/turns rows
TBL_RETIRED_SIGS = "inc_retired_sigs"   # (conv_id, __e) dead sig/band rows
TBL_VERIFIED = "inc_verified"
TBL_CLUSTERS = "inc_clusters"
TBL_SKEW = "inc_skew"
_WHOLESALE = (TBL_RETIRED_SETS, TBL_RETIRED_SIGS, TBL_VERIFIED, TBL_CLUSTERS,
              TBL_SKEW)
_MANIFEST = "_inc_manifest.json"

#: batch-pipeline stage names that become stale the moment the corpus
#: drifts from what they were computed on (the config fingerprint cannot
#: see data drift) — invalidated BEFORE each state fold
_BATCH_STAGES = (
    "transcripts", "shingle_sets", "shingle_ann", "informative_sets",
    "signatures", "bucket_sizes", "skew_report", "candidate_pairs",
    "verified_pairs", "clusters", "deduped_turns", "stats",
    "key_occ_repeated", "anchor_skew", "substring_chains",
    "position_classes", "substring_spans", "interval_marks",
    "trimmed_turns",
)

@dataclass
class IncrementalResult:
    verified_pairs: DataFrame
    clusters: DataFrame
    deduped_turns: DataFrame
    skew_report: DataFrame
    n_new_convs: int
    n_affected_old: int
    n_resigned: int
    n_removed_convs: int = 0
    #: non-UDF stage INPUT sizes — the observability contract that apply
    #: cost is ∝ (new ∪ affected), not ∝ corpus (all delta-proportional)
    report: dict = field(default_factory=dict)


def _require_supported_config(cfg: DedupConfig) -> None:
    if cfg.df_band_mode != "manual":
        raise ValueError(
            "incremental dedup requires df_band_mode='manual': auto band "
            "selection re-fits on the whole corpus, so a delta can move "
            "the band and invalidate every signature — that is a full rerun"
        )
    if cfg.df_lo < 2:
        raise ValueError(
            "incremental dedup requires df_lo >= 2: the batch path "
            "pre-filters df >= 2 before band membership, and with df_lo=1 "
            "a 1→2 df move is invisible to band-flip detection (both sides "
            "in band) while changing the fresh-run informative sets"
        )
    if cfg.candidate_source not in ("banding", "prefix"):
        raise ValueError(
            f"incremental dedup supports candidate_source 'banding' or "
            f"'prefix', got {cfg.candidate_source!r}"
        )


class IncrementalDedup:
    """Stateful incremental wrapper around the batch pipeline.

    ``bootstrap(turns)`` runs the full pipeline once and ADOPTS its
    outputs as epoch-0 state segments (driver-side renames — no data
    copy); each subsequent ``append(new_turns)`` / ``remove(conv_ids)``
    / ``apply(new_turns, remove_conv_ids)`` folds a delta in. An edit is
    expressed as remove + re-add of the same conv_id in one ``apply``.
    State lives in the same warehouse as the batch stages with the same
    config-fingerprint gating."""

    def __init__(
        self,
        spark: SparkSession,
        cfg: DedupConfig,
        warehouse: str,
        auto_compact_segments: int = 16,
    ):
        _require_supported_config(cfg)
        self.spark = spark
        self.cfg = cfg
        self.pipeline = DedupPipeline(spark, cfg, warehouse)
        self.cat: StageCatalog = self.pipeline.catalog
        self.auto_compact_segments = auto_compact_segments
        #: df state-probe regime for re-sign lookups: "auto" picks by
        #: affected fraction; "restricted"/"full" pin a branch (tests)
        self.df_probe_regime = "auto"

    # ------------------------------------------------------------- manifest

    def _manifest_path(self) -> str:
        return os.path.join(self.cat.warehouse, _MANIFEST)

    def _read_manifest(self) -> dict:
        p = self._manifest_path()
        if not os.path.isfile(p):
            raise RuntimeError(
                "incremental state manifest is missing — bootstrap this "
                "warehouse with the current config first"
            )
        with open(p) as f:
            man = json.load(f)
        if man.get("fingerprint") != self.cat.fingerprint:
            raise RuntimeError(
                "incremental state was written under a different config "
                "fingerprint — bootstrap this warehouse with the current "
                "config first"
            )
        return man

    def _commit_manifest(self, man: dict) -> None:
        """Atomic replace: the manifest commit IS the apply's commit
        point — everything written before it is invisible until this
        rename lands."""
        p = self._manifest_path()
        tmp = p + ".__tmp__"
        with open(tmp, "w") as f:
            json.dump(man, f)
        os.replace(tmp, p)

    def _check_state(self) -> dict:
        """Loud torn-warehouse detection (fold atomicity contract): every
        manifest-listed segment and every wholesale table must carry the
        epoch the manifest expects. A crash mid-fold leaves either
        orphan segments (never listed — harmless, overwritten by the
        retried apply) or wholesale sidecars AHEAD of the manifest —
        refused here instead of silently mixing epochs."""
        man = self._read_manifest()
        fp = self.cat.fingerprint
        for tbl, epochs in man["segments"].items():
            for e in epochs:
                meta = self.cat.read_meta(f"{tbl}__s{e}")
                if meta is None or meta.get("fingerprint") != fp:
                    raise RuntimeError(
                        f"incremental state segment {tbl}__s{e} is missing "
                        "or was written under a different config fingerprint"
                    )
                if meta.get("epoch") != e:
                    raise RuntimeError(
                        f"torn incremental warehouse: segment {tbl}__s{e} "
                        f"carries epoch {meta.get('epoch')} — refusing a "
                        "mixed-epoch state"
                    )
        for tbl in _WHOLESALE:
            meta = self.cat.read_meta(tbl)
            if meta is None or meta.get("fingerprint") != fp:
                raise RuntimeError(
                    f"incremental state table {tbl} is missing or was "
                    "written under a different config fingerprint"
                )
            if meta.get("epoch") != man["epoch"]:
                raise RuntimeError(
                    f"torn incremental warehouse: {tbl} is at epoch "
                    f"{meta.get('epoch')} but the committed manifest is at "
                    f"{man['epoch']} — a fold crashed between the state "
                    "rewrite and the manifest commit; re-bootstrap (or "
                    "restore the warehouse) before applying further deltas"
                )
        return man

    # ------------------------------------------------------------ seg reads

    def _seg_union(self, man: dict, base: str) -> DataFrame | None:
        """Union of a table's manifest-listed segments, each tagged with
        its epoch as ``__e``. Immutable dirs — plans built on this stay
        valid across folds (folds only ADD segments)."""
        out = None
        for e in man["segments"].get(base, []):
            df = self.cat.read(f"{base}__s{e}").withColumn(
                "__e", F.lit(int(e))
            )
            out = df if out is None else out.unionByName(df)
        return out

    #: restrict sides below this many rows are broadcast into the state
    #: semi-join: the big (state-scan) side then never shuffles — the
    #: difference between a delta-sized probe and re-shuffling the whole
    #: corpus-sized state table per apply. ~10M int64 keys ≈ 100 MB
    #: hashed relation: comfortable on the 8g protocol heap and on any
    #: real executor.
    BROADCAST_RESTRICT_ROWS = 10_000_000

    def _restrict_hint(self, restrict: DataFrame, n: int | None) -> DataFrame:
        if n is not None and n <= self.BROADCAST_RESTRICT_ROWS:
            return F.broadcast(restrict)
        return restrict

    def _resolve_conv(
        self,
        man: dict,
        base: str,
        retired: DataFrame,
        restrict: DataFrame | None = None,
        keep_epoch: bool = False,
        n_restrict: int | None = None,
    ) -> DataFrame:
        """Current rows of a conv-keyed segmented table: union of
        segments minus retired (conv_id, __e) rows. The anti-join's
        right side is the SMALL retired list (empty in pure-append
        workloads) — map-side, no shuffle of the segment scan.
        ``restrict`` (a conv_id DF) semi-joins first so restricted reads
        shuffle only matching rows; pass its known row count as
        ``n_restrict`` to let the semi-join broadcast (restrict plans
        carry no stats, so the planner would otherwise sort-merge the
        corpus-sized scan)."""
        u = self._seg_union(man, base)
        if u is None:
            raise RuntimeError(f"incremental state table {base} has no segments")
        if restrict is not None:
            u = u.join(
                self._restrict_hint(restrict.select("conv_id"), n_restrict),
                "conv_id", "left_semi",
            )
        out = u.join(retired, ["conv_id", "__e"], "left_anti")
        return out if keep_epoch else out.drop("__e")

    def _resolve_kv(
        self,
        man: dict,
        base: str,
        key_cols: list[str],
        val_col: str,
        restrict: DataFrame | None = None,
        extra: DataFrame | None = None,
        extra_epoch: int | None = None,
        n_restrict: int | None = None,
    ) -> DataFrame:
        """Latest-wins resolution of a key→value segmented table
        (df state, bucket sizes): the row from the highest epoch wins
        per key. ``extra`` splices a not-yet-written delta segment in,
        so 'state after this apply' reads exist before the fold."""
        u = self._seg_union(man, base)
        if u is None:
            raise RuntimeError(f"incremental state table {base} has no segments")
        u = u.select(*key_cols, val_col, "__e")
        if extra is not None:
            u = u.unionByName(
                extra.select(*key_cols, val_col).withColumn(
                    "__e", F.lit(int(extra_epoch))
                )
            )
        if restrict is not None:
            u = u.join(
                self._restrict_hint(restrict.select(*key_cols), n_restrict),
                key_cols, "left_semi",
            )
        return u.groupBy(*key_cols).agg(
            F.max_by(val_col, "__e").alias(val_col)
        )

    # ------------------------------------------------------------ bootstrap

    def bootstrap(self, turns: DataFrame):
        """Full batch run, then ADOPT its outputs as epoch-0 state.

        shingle_sets / signatures / bucket_sizes / verified_pairs /
        clusters / skew_report move (driver-side rename, no copy) into
        state tables; only the exploded band index, the full (shingle,
        df) table (the slim in_band pipeline checkpoint cannot answer
        "was this df 1 or out-of-band", so state keeps real counts
        including 1), and the raw turns are computed/written fresh."""
        res = self.pipeline.run(turns)
        cat, cfg = self.cat, self.cfg
        banding = cfg.candidate_source == "banding"

        segs: dict[str, list[int]] = {}

        def seg(name: str, df: DataFrame) -> None:
            cat.write(f"{name}__s0", df, meta={"epoch": 0})
            segs[name] = [0]

        def adopt(src: str, dst_seg: str) -> None:
            cat.adopt(src, f"{dst_seg}__s0", meta={"epoch": 0})
            segs[dst_seg] = [0]

        sets_df = cat.read("shingle_sets")
        seg(SEG_DF, shingling.shingle_document_frequency(
            shingling.exploded_shingles(sets_df)
        ))
        seg(SEG_TURNS, turns)
        if banding:
            seg(SEG_BANDS, lsh.explode_bands(cat.read("signatures")))
            adopt("bucket_sizes", SEG_SIZES)
        adopt("shingle_sets", SEG_SETS)
        adopt("signatures", SEG_SIGS)

        empty_retired = self.spark.createDataFrame(
            [], "conv_id string, __e int"
        )
        epoch_meta = {"epoch": 0}
        cat.adopt("verified_pairs", TBL_VERIFIED, meta=epoch_meta)
        cat.adopt("clusters", TBL_CLUSTERS, meta=epoch_meta)
        if banding:
            cat.adopt("skew_report", TBL_SKEW, meta=epoch_meta)
        else:
            cat.write(TBL_SKEW, self.spark.createDataFrame(
                [], "band_id int, band_hash long, bucket_size long"
            ), meta=epoch_meta)
        cat.write(TBL_RETIRED_SETS, empty_retired, meta=epoch_meta)
        cat.write(TBL_RETIRED_SIGS, empty_retired, meta=epoch_meta)

        # smallest signed stratum for the prefix probe range (tracked in
        # the manifest; monotone-decreasing — deletes never raise it, a
        # superset probe range is merely extra candidates)
        min_n = (
            cat.read(f"{SEG_SIGS}__s0")
            .agg(F.min("n_shingles").alias("m")).collect()[0]["m"]
        )
        self._commit_manifest({
            "fingerprint": cat.fingerprint,
            "epoch": 0,
            "segments": segs,
            "min_stratum": int(math.floor(math.log2(min_n))) if min_n else 0,
        })
        return res

    # ----------------------------------------------------------- public API

    def append(self, new_turns: DataFrame) -> IncrementalResult:
        """Append-only fold: every conv_id must be NEW (use
        :meth:`apply` with ``remove_conv_ids`` for edits/deletes)."""
        return self.apply(new_turns=new_turns, remove_conv_ids=None,
                          _append_only=True)

    def remove(self, conv_ids) -> IncrementalResult:
        """Delete conversations (takedown/PII-removal reprocessing)."""
        return self.apply(new_turns=None, remove_conv_ids=conv_ids)

    # ---------------------------------------------------------------- apply

    def apply(
        self,
        new_turns: DataFrame | None = None,
        remove_conv_ids=None,
        _append_only: bool = False,
    ) -> IncrementalResult:
        """Fold added and/or removed conversations into state; exact
        equality with a fresh full run over the post-change corpus. An
        edit = the conv_id in BOTH ``remove_conv_ids`` and
        ``new_turns``."""
        import time

        cfg, cat, spark = self.cfg, self.cat, self.spark
        lo, hi = cfg.df_lo, cfg.df_hi
        banding = cfg.candidate_source == "banding"
        man = self._check_state()
        e_new = int(man["epoch"]) + 1
        rpt: dict = {"epoch": e_new}
        # per-phase wall observability (delta-cost accounting lives and
        # dies by knowing WHERE an apply spends its time)
        t_phases: dict[str, float] = {}
        rpt["t_phases"] = t_phases
        t_last = time.monotonic()

        def tick(name: str) -> None:
            nonlocal t_last
            now = time.monotonic()
            t_phases[name] = round(now - t_last, 2)
            t_last = now

        # small rewritten tables are eagerly checkpointed so every plan
        # built below survives the fold's rewrites (segment dirs are
        # immutable and need no such shielding)
        retired_sets = eager_ckpt(cat.read(TBL_RETIRED_SETS))
        retired_sigs = eager_ckpt(cat.read(TBL_RETIRED_SIGS))
        old_verified = eager_ckpt(cat.read(TBL_VERIFIED))
        old_skew = eager_ckpt(cat.read(TBL_SKEW)) if banding else None

        removed = self._as_conv_df(remove_conv_ids)
        if removed is not None:
            removed = eager_ckpt(removed.select("conv_id").dropDuplicates())
        t_new = (
            eager_ckpt(assemble_transcripts(new_turns))
            if new_turns is not None else None
        )

        # one scan of the sets segments serves the guards AND the CC
        # node list (live conv ids are tiny — checkpoint, never rescan)
        live_ids = eager_ckpt(
            self._resolve_conv(man, SEG_SETS, retired_sets).select("conv_id")
        )
        self._guard_ids(live_ids, t_new, removed, _append_only)
        n_removed = removed.count() if removed is not None else 0
        n_new = t_new.count() if t_new is not None else 0
        rpt["n_new_convs"], rpt["n_removed_convs"] = n_new, n_removed
        tick("guards")

        empty_convs = spark.createDataFrame([], "conv_id string")
        removed_c = removed if removed is not None else empty_convs

        # 1. UDF cost ∝ NEW characters only
        if t_new is not None:
            sets_new = eager_ckpt(shingling.shingle_sets(t_new, cfg))
            df_add = shingling.shingle_document_frequency(
                shingling.exploded_shingles(sets_new)
            )
        else:
            sets_new = None
            df_add = spark.createDataFrame([], "shingle long, df long")
        if removed is not None:
            sets_removed = self._resolve_conv(
                man, SEG_SETS, retired_sets, restrict=removed,
                n_restrict=n_removed,
            )
            df_sub = shingling.shingle_document_frequency(
                shingling.exploded_shingles(sets_removed)
            )
        else:
            df_sub = spark.createDataFrame([], "shingle long, df long")

        # 2. df delta for TOUCHED shingles only; old totals come from a
        # shingle-restricted state read, never a full-corpus merge.
        # Net-zero rows (an edit removing and re-adding the same
        # shingle) are kept separately: their df is unchanged but the
        # re-sign lookup below still needs a state value for them.
        touched_all = eager_ckpt(
            df_add.withColumnRenamed("df", "d_add")
            .join(df_sub.withColumnRenamed("df", "d_sub"), "shingle", "full_outer")
            .select(
                "shingle",
                (F.coalesce("d_add", F.lit(0)) - F.coalesce("d_sub", F.lit(0))
                 ).alias("d"),
            )
        )
        delta = touched_all.filter(F.col("d") != 0)
        zero_keys = touched_all.filter(F.col("d") == 0).select("shingle")
        rpt["n_touched_shingles"] = delta.count()
        tick("shingle_delta")
        df_old_touched = self._resolve_kv(
            man, SEG_DF, ["shingle"], "df", restrict=delta,
            n_restrict=rpt["n_touched_shingles"],
        )
        merged_touched = eager_ckpt(
            delta.join(df_old_touched.withColumnRenamed("df", "df_old"),
                       "shingle", "left")
            .select(
                "shingle",
                (F.coalesce("df_old", F.lit(0)) + F.col("d")).alias("df"),
                F.coalesce("df_old", F.lit(0)).alias("df_old"),
            )
        )

        # 3. band flips → affected OLD conversations. Only touched
        # shingles can flip; membership probe is a semi-join of the
        # (immutable-segment) set explode against the small flip list —
        # columnar scan of the corpus, shuffle ∝ hits.
        in_band = lambda c: F.col(c).between(F.lit(lo), F.lit(hi))  # noqa: E731
        flipped = merged_touched.filter(
            in_band("df") != in_band("df_old")
        ).select("shingle")
        rpt["n_flipped_shingles"] = flipped.count()
        tick("df_merge")
        survivors_pre = self._resolve_conv(man, SEG_SETS, retired_sets).join(
            removed_c, "conv_id", "left_anti"
        )
        affected_old = eager_ckpt(
            shingling.exploded_shingles(survivors_pre)
            .join(
                self._restrict_hint(flipped, rpt["n_flipped_shingles"]),
                "shingle", "left_semi",
            )
            .select("conv_id")
            .dropDuplicates()
        )
        n_affected = affected_old.count()
        rpt["n_affected_old"] = n_affected
        tick("affected_probe")

        # 4. re-sign (affected ∪ new). The df lookup comes from the
        # delta merge for every TOUCHED shingle (already computed — no
        # second state probe for the new batch's millions of shingles);
        # only the affected convs' untouched shingles plus net-zero edit
        # shingles — both ∝ affected, typically tiny — read state.
        # NOT eagerly checkpointed: in the worst case (corpus-wide df
        # drift) affected ≈ everything, and materializing the full sets
        # table costs more than letting the two consumers below re-scan
        # the immutable segments through the broadcast-restricted plan
        affected_sets = self._resolve_conv(
            man, SEG_SETS, retired_sets, restrict=affected_old,
            n_restrict=n_affected,
        ).select("conv_id", "shingles")
        resign_sets = affected_sets
        if sets_new is not None:
            resign_sets = resign_sets.unionByName(
                sets_new.select("conv_id", "shingles")
            )
        resign_expl = resign_sets.select(
            "conv_id", F.explode("shingles").alias("shingle")
        )
        # regime switch: when a small fraction of the corpus re-signs,
        # restrict the state probe to those convs' shingles; when df
        # drift is corpus-wide (the synthetic worst case), most keys are
        # needed anyway and building a corpus-sized restrict set costs
        # more than one full resolve. df_probe_regime ("auto" | restricted"
        # | "full") pins the choice — both branches are equality-tested.
        n_live = live_ids.count()
        delta_regime = (
            self.df_probe_regime == "restricted"
            or (
                self.df_probe_regime == "auto"
                and n_affected <= max(1000, n_live // 5)
            )
        )
        if delta_regime:
            # delta regime: the state probe is restricted to the
            # affected convs' untouched shingles — a broadcast-sized set
            untouched_keys = eager_ckpt(
                affected_sets.select(F.explode("shingles").alias("shingle"))
                .dropDuplicates()
                .unionByName(zero_keys)
                .join(delta, "shingle", "left_anti")
                .dropDuplicates()
            )
            state_part = self._resolve_kv(
                man, SEG_DF, ["shingle"], "df", restrict=untouched_keys,
                n_restrict=untouched_keys.count(),
            )
        else:
            # corpus-drift regime (worst case: most conversations
            # re-sign): most state keys are needed anyway, so one full
            # resolve beats building and probing a corpus-sized
            # restrict set; touched keys defer to the merged delta
            state_part = self._resolve_kv(
                man, SEG_DF, ["shingle"], "df"
            ).join(
                self._restrict_hint(
                    delta.select("shingle"), rpt["n_touched_shingles"]
                ),
                "shingle", "left_anti",
            )
        df_for_resign = merged_touched.select("shingle", "df").unionByName(
            state_part
        )
        resign_informative = shingling.informative_shingle_sets(
            resign_expl, df_for_resign, lo, hi
        )
        resigned = eager_ckpt(lsh.compute_signatures(resign_informative, cfg))
        n_resigned = resigned.count()
        rpt["n_resigned"] = n_resigned
        tick("resign")

        # convs whose sig-cadence rows retire: re-signed olds + removed
        sig_gone = affected_old.unionByName(removed_c).dropDuplicates()
        sigs_retired_rows = self._resolve_conv(
            man, SEG_SIGS, retired_sigs, restrict=sig_gone, keep_epoch=True,
            n_restrict=n_affected + n_removed,
        ).select("conv_id", "__e")

        added_convs = (
            t_new.select("conv_id") if t_new is not None else empty_convs
        )
        if banding:
            changed, cand_changed, sz_touched, skew_new, rpt_b = (
                self._banding_candidates(
                    man, retired_sigs, affected_old, added_convs, removed_c,
                    sig_gone, resigned, old_skew, e_new,
                )
            )
            rpt.update(rpt_b)
        else:
            changed = eager_ckpt(
                affected_old.unionByName(added_convs).dropDuplicates()
            )
            cand_changed = self._prefix_candidates(
                man, retired_sigs, sigs_retired_rows, resigned, changed
            )
            sz_touched = None
            skew_new = eager_ckpt(cat.read(TBL_SKEW))  # stays the empty table

        cand_changed = eager_ckpt(cand_changed)
        rpt["n_changed_convs"] = changed.count()
        rpt["n_candidate_pairs"] = cand_changed.count()
        tick("candidates")

        # 5. verify only changed-touching candidates; signatures come
        # from a conv-restricted state read spliced with the re-signed
        pair_convs = eager_ckpt(
            cand_changed.select(F.col("conv_a").alias("conv_id"))
            .unionByName(cand_changed.select(F.col("conv_b").alias("conv_id")))
            .dropDuplicates()
        )
        sigs_lookup = self._resolve_conv(
            man, SEG_SIGS, retired_sigs, restrict=pair_convs,
            n_restrict=pair_convs.count(),
        ).join(sig_gone, "conv_id", "left_anti").unionByName(
            resigned.join(pair_convs, "conv_id", "left_semi")
        )
        verified_new = verify.verify_pairs(cand_changed, sigs_lookup, cfg)
        drop_pairs = changed.unionByName(removed_c).dropDuplicates()
        kept_old = old_verified.join(
            drop_pairs.select(F.col("conv_id").alias("conv_a")),
            "conv_a", "left_anti",
        ).join(
            drop_pairs.select(F.col("conv_id").alias("conv_b")),
            "conv_b", "left_anti",
        )
        verified_all = eager_ckpt(
            kept_old.unionByName(verified_new).dropDuplicates(
                ["conv_a", "conv_b"]
            )
        )
        rpt["n_verified_pairs"] = verified_all.count()
        tick("verify")

        # 6. clusters + emit over the post-change corpus (edges are
        # small; emit reads immutable turn segments lazily). Nodes come
        # from the checkpointed live-id list — no segment rescan.
        nodes = live_ids.join(removed_c, "conv_id", "left_anti").unionByName(
            added_convs
        ).dropDuplicates()
        clusters = eager_ckpt(
            connected_components(
                nodes, verified_all.select("conv_a", "conv_b"),
                cfg.cc_max_iters,
            )
        )
        tick("clusters")
        turns_post = self._resolve_conv(
            man, SEG_TURNS, retired_sets
        ).join(removed_c, "conv_id", "left_anti")
        if new_turns is not None:
            turns_post = turns_post.unionByName(new_turns)
        deduped = DedupPipeline._emit(turns_post, clusters)

        # ------------------------------------------------------------ fold
        # stale batch stages go FIRST (fold atomicity: no ordering leaves
        # a config-fingerprint-valid batch stage readable against
        # post-fold state), then segments (orphans harmless until the
        # manifest lists them), then epoch-stamped wholesale rewrites,
        # then the manifest commit — the single atomic commit point.
        for stale in _BATCH_STAGES:
            cat.invalidate(stale)

        new_segs = {k: list(v) for k, v in man["segments"].items()}

        def seg_write(base: str, df: DataFrame) -> None:
            cat.write(f"{base}__s{e_new}", df, meta={"epoch": e_new})
            new_segs[base] = new_segs.get(base, []) + [e_new]

        # empty deltas write NO segment (a zero-row parquet dir is a
        # schema-inference trap for later readers, and the manifest list
        # stays minimal); the counts were already taken for the report
        if sets_new is not None:
            seg_write(SEG_SETS, sets_new)
            seg_write(SEG_TURNS, new_turns)
        if n_resigned:
            seg_write(SEG_SIGS, resigned)
        if rpt["n_touched_shingles"]:
            seg_write(SEG_DF, merged_touched.select("shingle", "df"))
        if banding:
            if n_resigned:
                seg_write(SEG_BANDS, lsh.explode_bands(resigned))
            if rpt["n_touched_buckets"]:
                seg_write(SEG_SIZES, sz_touched)

        em = {"epoch": e_new}
        sets_retired_rows = (
            self._resolve_conv(
                man, SEG_SETS, retired_sets, restrict=removed,
                keep_epoch=True, n_restrict=n_removed,
            ).select("conv_id", "__e")
            if removed is not None
            else spark.createDataFrame([], "conv_id string, __e int")
        )
        cat.write(
            TBL_RETIRED_SETS,
            retired_sets.unionByName(eager_ckpt(sets_retired_rows)), meta=em,
        )
        cat.write(
            TBL_RETIRED_SIGS,
            retired_sigs.unionByName(eager_ckpt(sigs_retired_rows)), meta=em,
        )
        cat.write(TBL_VERIFIED, verified_all, meta=em)
        cat.write(TBL_CLUSTERS, clusters, meta=em)
        skew_new = eager_ckpt(skew_new)
        cat.write(TBL_SKEW, skew_new, meta=em)

        min_strat = int(man.get("min_stratum", 0))
        new_min = resigned.agg(F.min("n_shingles").alias("m")).collect()[0]["m"]
        if new_min:
            min_strat = min(min_strat, int(math.floor(math.log2(new_min))))
        self._commit_manifest({
            "fingerprint": cat.fingerprint,
            "epoch": e_new,
            "segments": new_segs,
            "min_stratum": min_strat,
        })
        tick("fold")

        if (
            self.auto_compact_segments
            and max(len(v) for v in new_segs.values()) > self.auto_compact_segments
        ):
            # compaction drops the superseded segment dirs the lazy emit
            # plan still references — materialize it first
            deduped = eager_ckpt(deduped)
            self.compact()

        return IncrementalResult(
            verified_pairs=verified_all,
            clusters=clusters,
            deduped_turns=deduped,
            skew_report=skew_new,
            n_new_convs=n_new,
            n_affected_old=n_affected,
            n_resigned=n_resigned,
            n_removed_convs=n_removed,
            report=rpt,
        )

    # ------------------------------------------------------ candidate paths

    def _banding_candidates(
        self, man, retired_sigs, affected_old, added_convs, removed_c,
        sig_gone, resigned, old_skew, e_new,
    ):
        """One-sided three-tier band join over bucket-restricted state.

        Bucket sizes are READ from durable state and updated with delta
        counts (the round-4 path re-exploded ALL old signatures and
        re-aggregated global sizes per append — ∝ corpus). Candidacy is
        a GLOBAL property: a bucket the delta pushes across the drop
        threshold changes outcomes for unchanged convs inside it, so
        every member of a drop-tier-crossing bucket is promoted into the
        changed set (both crossing directions: an append can push a
        bucket over, a removal can pull one back under)."""
        cfg, cat, spark = self.cfg, self.cat, self.spark
        rpt: dict = {}
        bkey = ["band_id", "band_hash"]

        bands_added = eager_ckpt(lsh.explode_bands(resigned))
        sig_gone = eager_ckpt(sig_gone)
        n_gone = sig_gone.count()
        bands_gone = self._resolve_conv(
            man, SEG_BANDS, retired_sigs, restrict=sig_gone,
            n_restrict=n_gone,
        )
        sz_delta = eager_ckpt(
            lsh.band_bucket_sizes(bands_added)
            .withColumnRenamed("bucket_size", "n_add")
            .join(
                lsh.band_bucket_sizes(bands_gone)
                .withColumnRenamed("bucket_size", "n_sub"),
                bkey, "full_outer",
            )
            .select(
                *bkey,
                (F.coalesce("n_add", F.lit(0)) - F.coalesce("n_sub", F.lit(0))
                 ).alias("d"),
            )
            .filter(F.col("d") != 0)
        )
        rpt["n_touched_buckets"] = sz_delta.count()
        sz_old_touched = self._resolve_kv(
            man, SEG_SIZES, bkey, "bucket_size", restrict=sz_delta,
            n_restrict=rpt["n_touched_buckets"],
        )
        sz_touched = eager_ckpt(
            sz_delta.join(
                sz_old_touched.withColumnRenamed("bucket_size", "sz_old"),
                bkey, "left",
            )
            .select(
                *bkey,
                (F.coalesce("sz_old", F.lit(0)) + F.col("d"))
                .alias("bucket_size"),
                F.coalesce("sz_old", F.lit(0)).alias("sz_old"),
            )
        )

        drop = cfg.max_salted_bucket
        crossing = eager_ckpt(
            sz_touched.filter(
                (F.col("sz_old") > drop) != (F.col("bucket_size") > drop)
            ).select(*bkey)
        )
        rpt["n_tier_crossing_buckets"] = crossing.count()
        # members (old index ∪ new rows) of crossing buckets, survivors only
        old_members = (
            self._seg_union(man, SEG_BANDS)
            .join(
                self._restrict_hint(crossing, rpt["n_tier_crossing_buckets"]),
                bkey, "left_semi",
            )
            .join(retired_sigs, ["conv_id", "__e"], "left_anti")
            .select("conv_id")
        )
        tier_changed = (
            old_members.unionByName(
                bands_added.join(crossing, bkey, "left_semi").select("conv_id")
            )
            .dropDuplicates()
            .join(removed_c, "conv_id", "left_anti")
        )
        changed = eager_ckpt(
            affected_old.unionByName(added_convs)
            .unionByName(tier_changed)
            .dropDuplicates()
        )

        # post-apply band index restricted to the buckets changed convs
        # occupy: tier decisions come from GLOBAL (state-maintained)
        # sizes, pair volume from changed convs' bucket membership
        n_changed = changed.count()
        rpt["n_changed_convs"] = n_changed
        bands_post_all = self._resolve_conv(
            man, SEG_BANDS, retired_sigs
        ).join(
            self._restrict_hint(sig_gone, n_gone), "conv_id", "left_anti"
        ).unionByName(bands_added)
        changed_buckets = eager_ckpt(
            bands_post_all.join(
                self._restrict_hint(changed, n_changed),
                "conv_id", "left_semi",
            )
            .select(*bkey)
            .dropDuplicates()
        )
        rpt["n_changed_buckets"] = changed_buckets.count()
        bands_restricted = bands_post_all.join(
            self._restrict_hint(changed_buckets, rpt["n_changed_buckets"]),
            bkey, "left_semi",
        )
        sizes_restricted = self._resolve_kv(
            man, SEG_SIZES, bkey, "bucket_size",
            restrict=changed_buckets,
            extra=sz_touched.select(*bkey, "bucket_size"), extra_epoch=e_new,
            n_restrict=rpt["n_changed_buckets"],
        )
        cand_changed = lsh.candidate_pairs(
            bands_restricted, sizes_restricted, cfg, left_convs=changed
        )

        # dropped-bucket report maintained incrementally ("dropped,
        # never silently"): untouched buckets keep their report status
        skew_new = old_skew.join(sz_delta, bkey, "left_anti").unionByName(
            sz_touched.filter(F.col("bucket_size") > drop)
            .select(*bkey, "bucket_size")
        )
        return changed, cand_changed, sz_touched.select(
            *bkey, "bucket_size"
        ), skew_new, rpt

    def _prefix_candidates(
        self, man, retired_sigs, sigs_retired_rows, resigned, changed
    ) -> DataFrame:
        """One-sided exact prefix-filter candidates (AllPairs/PPJoin
        family) over the informative shingle sets, under ascending
        shingle-VALUE order.

        The pigeonhole guarantee (|x∩y| >= c ⇒ the (|x|-c+1)-prefixes
        share a token) holds for ANY fixed total order; the batch path's
        df-ascending order is a volume optimization that would cost a
        global df pass per apply — a corpus-independent order makes both
        probe sides computable straight from signature state, whose
        ``shingles`` arrays are ALREADY value-sorted (informative sets
        are array_sort-ed), so rank = array position and the emit is one
        codegen posexplode, no window. Recall is 1.0 under either order,
        so the VERIFIED output (the exactness contract) is unchanged.

        Changed side: the re-signed convs (delta-sized, eager). Probe
        side: every current signature — a columnar scan of immutable
        segments; the join shuffles ∝ emit rows, and when the changed
        side is small AQE turns it into a broadcast probe."""
        from fractions import Fraction

        cfg = self.cfg
        frac = Fraction(cfg.verify_containment).limit_denominator(1_000_000)
        t_num, t_den = frac.numerator, frac.denominator
        p1 = 1 if cfg.containment_plus1 else 0
        # effective probe floor for THIS apply: the manifest minimum
        # extended by the re-signed batch — a new doc smaller than every
        # historical one lowers the meet stratum of its pairs, and the
        # probe side must emit down to it (the manifest itself is only
        # updated at the fold)
        s_min = int(man.get("min_stratum", 0))
        m = resigned.agg(F.min("n_shingles").alias("m")).collect()[0]["m"]
        if m:
            s_min = min(s_min, int(math.floor(math.log2(m))))

        def emit(sigs: DataFrame) -> DataFrame:
            return (
                sigs.filter(F.col("n_shingles") > 0)
                .select(
                    "conv_id",
                    F.col("n_shingles").alias("n"),
                    F.floor(F.log2("n_shingles")).cast("int").alias("s_own"),
                    F.posexplode("shingles").alias("pos", "tok"),
                )
                .withColumn(
                    "s",
                    F.explode(
                        F.sequence(
                            F.least(F.lit(s_min), F.col("s_own")),
                            F.col("s_own"),
                        )
                    ),
                )
                .withColumn(
                    "c_s",
                    F.expr(
                        f"({t_num} * (shiftleft(CAST(1 AS BIGINT), s) + {p1}))"
                        f" DIV {t_den} + 1"
                    ),
                )
                # prefix positions only: rank = pos + 1 <= n - c_s + 1
                .filter(F.col("pos") <= F.col("n") - F.col("c_s"))
                .select(
                    "conv_id", "s_own", "s", "c_s", "tok",
                    (F.col("n") - F.col("pos")).alias("rem"),
                )
            )

        sigs_post = self._resolve_conv(man, SEG_SIGS, retired_sigs).join(
            sigs_retired_rows.select("conv_id"), "conv_id", "left_anti"
        ).unionByName(resigned.select(*self._sig_cols()))
        a = eager_ckpt(
            emit(resigned.join(changed, "conv_id", "left_semi"))
        ).select(
            F.col("conv_id").alias("conv_a"), F.col("s_own").alias("sa"),
            F.col("rem").alias("rem_a"), "s", "c_s", "tok",
        )
        b = emit(sigs_post).select(
            F.col("conv_id").alias("conv_b"), F.col("s_own").alias("sb"),
            F.col("rem").alias("rem_b"), "s", "tok",
        )
        # the changed-side emit is delta-sized: broadcasting it keeps the
        # corpus-wide probe explode a map-side hash lookup (no shuffle of
        # the probe rows). Lower threshold than _restrict_hint — these
        # rows are 6 columns wide, not a bare key.
        n_a = a.count()
        a_side = F.broadcast(a) if n_a <= 2_000_000 else a
        pairs = (
            a_side.join(b, ["s", "tok"])
            .filter(
                (F.col("conv_a") != F.col("conv_b"))
                # a pair meets ONLY in the smaller side's own stratum
                & (F.least("sa", "sb") == F.col("s"))
                # PPJoin positional filter (recall-preserving: the first
                # shared prefix token always survives it)
                & (F.least("rem_a", "rem_b") >= F.col("c_s"))
            )
            .select(
                F.least("conv_a", "conv_b").alias("conv_a"),
                F.greatest("conv_a", "conv_b").alias("conv_b"),
            )
            .dropDuplicates(["conv_a", "conv_b"])
        )
        return pairs

    # -------------------------------------------------------------- compact

    def compact(self) -> None:
        """Rewrite every segmented table as a single resolved segment and
        empty the retired lists: bounds the per-apply segment scan (the
        parquet stand-in for Iceberg snapshot compaction). Exactness-
        neutral — resolution before and after reads identical rows."""
        cat = self.cat
        man = self._check_state()
        e = int(man["epoch"]) + 1
        retired_sets = eager_ckpt(cat.read(TBL_RETIRED_SETS))
        retired_sigs = eager_ckpt(cat.read(TBL_RETIRED_SIGS))
        segs: dict[str, list[int]] = {}
        conv_tables = [
            (SEG_TURNS, retired_sets), (SEG_SETS, retired_sets),
            (SEG_SIGS, retired_sigs),
        ]
        kv_tables = [(SEG_DF, ["shingle"], "df")]
        if self.cfg.candidate_source == "banding":
            conv_tables.append((SEG_BANDS, retired_sigs))
            kv_tables.append((SEG_SIZES, ["band_id", "band_hash"],
                              "bucket_size"))
        for base, retired in conv_tables:
            resolved = eager_ckpt(self._resolve_conv(man, base, retired))
            cat.write(f"{base}__s{e}", resolved, meta={"epoch": e})
            segs[base] = [e]
        for base, keys, val in kv_tables:
            resolved = eager_ckpt(self._resolve_kv(man, base, keys, val))
            cat.write(f"{base}__s{e}", resolved, meta={"epoch": e})
            segs[base] = [e]
        em = {"epoch": e}
        empty_retired = self.spark.createDataFrame([], "conv_id string, __e int")
        cat.write(TBL_RETIRED_SETS, empty_retired, meta=em)
        cat.write(TBL_RETIRED_SIGS, empty_retired, meta=em)
        # wholesale result tables are re-stamped at the new epoch
        # (contents unchanged) so the torn-fold check stays uniform
        for tbl in (TBL_VERIFIED, TBL_CLUSTERS, TBL_SKEW):
            cat.write(tbl, eager_ckpt(cat.read(tbl)), meta=em)
        self._commit_manifest({
            "fingerprint": cat.fingerprint,
            "epoch": e,
            "segments": segs,
            "min_stratum": int(man.get("min_stratum", 0)),
        })
        # drop the superseded segment dirs (manifest no longer lists them)
        for base, epochs in man["segments"].items():
            for old_e in epochs:
                cat.invalidate(f"{base}__s{old_e}")

    # -------------------------------------------------------------- helpers

    @staticmethod
    def _sig_cols() -> list[str]:
        return ["conv_id", "shingles", "n_shingles", "minhash", "simhash",
                "bands"]

    def _as_conv_df(self, conv_ids) -> DataFrame | None:
        if conv_ids is None:
            return None
        if isinstance(conv_ids, DataFrame):
            return conv_ids
        return self.spark.createDataFrame(
            [(str(c),) for c in conv_ids], "conv_id string"
        )

    def _guard_ids(
        self,
        live_ids: DataFrame,
        t_new: DataFrame | None,
        removed: DataFrame | None,
        append_only: bool,
    ) -> None:
        """Loud identity guards: removals must exist; additions must be
        new conv_ids unless the same id is being removed in this apply
        (an edit) — and append() never edits."""
        if removed is not None:
            missing = removed.join(live_ids, "conv_id", "left_anti").count()
            if missing:
                raise ValueError(
                    f"{missing} conv_ids in the removal batch do not exist "
                    "in state — refusing a partial delete"
                )
        if t_new is not None:
            overlap = t_new.select("conv_id").join(
                live_ids, "conv_id", "left_semi"
            )
            if removed is not None and not append_only:
                overlap = overlap.join(removed, "conv_id", "left_anti")
            n = overlap.count()
            if n:
                raise ValueError(
                    f"{n} conv_ids in the new batch already exist in state — "
                    "append() is append-only; pass the ids in "
                    "remove_conv_ids too (apply) to express an edit"
                )
