"""The product's own benchmark: cold batch dedup and incremental folds.

    python3 perfbench/run.py --workload batch_synthetic --seed 1 \
        --seconds 5 --trace 0

Run from the root of a source checkout. One run is one cold driver
process at ``local[<cpus>]`` with the session factory's defaults (8g
heap), closed loop, one client. The timed calls are the product's public
entry points on seeded, generated parquet:

* ``batch_synthetic`` — ``DedupPipeline.run`` on a fresh, empty
  warehouse over the FIXTURES.md synthetic corpus.
* ``fold_lowoverlap`` — restore the epoch-0 snapshot of a warehouse
  bootstrapped over a low-overlap corpus, then ``IncrementalDedup.apply``
  one fold that appends a new batch and removes a seeded set of old
  conversations (planted-family members among them).

Outputs are checked on every timed call against the single-process
oracle (``dedup_spark.oracle``, asserted equal to the pipeline by the
repo's tests) run over the post-operation corpus during preparation:
verified pairs (a, b, common), clusters and the surviving-turn count.
Batch also needs planted-pair recall >= 0.99.

``--trace 1`` wraps the public calls in spans, tags their Spark jobs and
folds Spark's status store into per-layer metrics afterwards; the full
trace is written to ``.bench_build/perfbench/``. The last line of
standard output is one JSON object (``correct``, ``attempted``,
``failed``, ``metrics``); a failed check exits 1.
"""

from __future__ import annotations

import time

T_PROC = time.monotonic()  # setup_s counts from here

import argparse  # noqa: E402
import hashlib  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402
import tempfile  # noqa: E402
import traceback  # noqa: E402

import pandas as pd  # noqa: E402

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from dedup_spark.config import DedupConfig  # noqa: E402
from dedup_spark.incremental import IncrementalDedup  # noqa: E402
from dedup_spark.oracle import run_oracle  # noqa: E402
from dedup_spark.pipeline import DedupPipeline  # noqa: E402

from perfbench import corpora, procstat, trace  # noqa: E402

#: corpus sizes: at these sizes the per-job overhead floor, not data
#: volume, sets the wall, and a whole run (cold session and, for folds,
#: the bootstrap included) stays near a minute on 4 cores
SYN_CONVS = 100
LOW_CONVS = 100
LOW_NEW = 10
LOW_REMOVE = 10
#: the raw-compute anchor: bench.py's codegen loop over fewer rows
ANCHOR_ROWS = 100_000_000
#: set-up repetitions whose median enters setup_s
SETUP_REPEATS = 3
#: CLI defaults (banding, stride anchors, anchor_sample_mod=4)
CFG = DedupConfig(anchor_sample_mod=4)
#: verified-pair columns the oracle reproduces exactly
PAIR_COLS = ("conv_a", "conv_b", "common")

END_TO_END = {"setup_s": "s", "wall_s": "s", "turns_per_s": "turns/s", "cpu_s": "s"}
TRUNK = ("transcripts", "shingle_sets", "shingle_ann", "informative_sets",
         "signatures", "bucket_sizes", "skew_report", "candidate_pairs")
BRANCH_A = ("verified_pairs", "clusters", "deduped_turns", "stats")
BRANCH_B = ("key_occ_repeated", "anchor_skew", "substring_chains",
            "position_classes", "substring_spans", "interval_marks")
STAGES = TRUNK + BRANCH_A + BRANCH_B + ("trimmed_turns",)
PHASES = ("guards", "shingle_delta", "df_merge", "affected_probe", "resign",
          "candidates", "verify", "clusters", "fold")


def _per_layer_units() -> dict[str, str]:
    units = {
        "session.start_s": "s",
        "catalog.flush_wait_s": "s", "catalog.write_s": "s",
        "catalog.written_mb": "MB",
    }
    for st in STAGES:
        units.update({f"stage.{st}.s": "s", f"stage.{st}.exec_s": "s",
                      f"stage.{st}.shuffle_mb": "MB"})
    units.update({
        "udfs.python_cpu_s": "s", "lsh.candidate_yield": "ratio",
        "pipeline.trunk_s": "s", "pipeline.branch_a_s": "s",
        "pipeline.branch_b_s": "s", "pipeline.tail_s": "s",
    })
    units.update({f"incremental.{ph}_s": "s" for ph in PHASES})
    units.update({"incremental.jobs": "count", "incremental.resigned": "count",
                  "incremental.affected_old": "count",
                  "incremental.candidate_yield": "ratio"})
    units.update({
        "spark.jobs": "count", "spark.tasks": "count", "spark.exec_s": "s",
        "spark.exec_cpu_s": "s", "spark.gc_s": "s", "spark.shuffle_mb": "MB",
        "spark.spill_mb": "MB", "spark.busy_frac": "ratio",
        "spark.worst_skew": "ratio", "spark.attributed_frac": "ratio",
        "spark.peak_rss_mb": "MB",
        "trace.overhead_s": "s", "trace.job_delta": "count",
        "calib.anchor_before_s": "s", "calib.anchor_after_s": "s",
        "calib.anchor_mean_s": "s",
    })
    return units


PER_LAYER = _per_layer_units()
MB = float(1 << 20)


class CheckFailed(Exception):
    """An output of the product differs from its reference."""


def _digest(rows) -> str:
    return hashlib.sha256(json.dumps(sorted(rows)).encode()).hexdigest()


def _expect(what: str, got, want) -> None:
    if got != want:
        raise CheckFailed(f"{what}: got {got!r}, expected {want!r}")


def _write_parquet(pdf, path: str) -> None:
    import pyarrow as pa
    import pyarrow.parquet as pq

    pq.write_table(pa.Table.from_pandas(pdf, preserve_index=False), path,
                   coerce_timestamps="us", allow_truncated_timestamps=True)


def _oracle_reference(turns) -> dict:
    """Digests of the single-process oracle's pairs (a, b, common) and
    clusters, and the surviving-turn count its clusters imply."""
    orc = run_oracle(turns, CFG)
    reps = {c for c, label in orc["clusters"].items() if c == label}
    return {
        "pairs": _digest([list(p[:3]) for p in orc["verified_pairs"]]),
        "clusters": _digest(sorted(orc["clusters"].items())),
        "deduped_turns": int(turns["conv_id"].isin(reps).sum()),
    }


def _collect_pairs(df, cols) -> list:
    return [list(r) for r in df.select(*cols).collect()]


def _collect_clusters(df) -> list:
    return [[r.conv_id, r.cluster_id] for r in df.select("conv_id", "cluster_id").collect()]


class BatchSynthetic:
    """``DedupPipeline.run`` on a fresh warehouse over the synthetic corpus."""

    name = "batch_synthetic"

    def __init__(self, spark, seed: int, scratch: str):
        self.spark = spark
        turns, self.planted = corpora.synthetic_corpus(SYN_CONVS, seed)
        self.turns_path = os.path.join(scratch, "turns.parquet")
        _write_parquet(turns, self.turns_path)
        self.n_turns = len(turns)
        self.ref = _oracle_reference(turns)
        self.wh = os.path.join(scratch, "wh")

    def setup(self) -> None:
        shutil.rmtree(self.wh, ignore_errors=True)
        os.makedirs(self.wh)

    def op(self) -> dict:
        pipe = DedupPipeline(self.spark, CFG, self.wh)
        turns = self.spark.read.parquet(self.turns_path)
        t0 = time.monotonic()
        res = pipe.run(turns)
        return {"wall_s": time.monotonic() - t0, "calls": 1, "pipe": pipe, "res": res}

    def check(self, out: dict) -> None:
        res, rows = out["res"], {m.stage: m.rows_out for m in out["pipe"].catalog.metrics}
        pairs = _collect_pairs(res.verified_pairs, PAIR_COLS)
        _expect("batch verified_pairs digest", _digest(pairs), self.ref["pairs"])
        _expect("batch clusters digest", _digest(_collect_clusters(res.clusters)),
                self.ref["clusters"])
        _expect("batch deduped_turns rows", rows["deduped_turns"], self.ref["deduped_turns"])
        found = {(a, b) for a, b, _ in pairs}
        recall = len(self.planted & found) / len(self.planted)
        if recall < 0.99:
            raise CheckFailed(f"planted-pair recall {recall:.4f} < 0.99")
        out["candidate_yield"] = rows["verified_pairs"] / max(1, rows["candidate_pairs"])


class FoldLowOverlap:
    """Restore the epoch-0 snapshot of a warehouse bootstrapped over the
    old low-overlap conversations, then fold in one ``apply``: append the
    new batch and remove a seeded set of old conversations."""

    name = "fold_lowoverlap"

    def __init__(self, spark, seed: int, scratch: str):
        self.spark = spark
        turns, families = corpora.lowoverlap_corpus(LOW_CONVS, LOW_NEW, seed)
        convs = sorted(turns["conv_id"].unique())
        new_ids = set(convs[LOW_CONVS:])
        old = turns[~turns["conv_id"].isin(new_ids)]
        self.removed = set(corpora.removal_set(
            convs[:LOW_CONVS], families, LOW_REMOVE, seed))
        new = turns[turns["conv_id"].isin(new_ids)]
        post = pd.concat([old[~old["conv_id"].isin(self.removed)], new])
        self.n_turns = len(new) + int(old["conv_id"].isin(self.removed).sum())
        old_path = os.path.join(scratch, "old.parquet")
        self.new_path = os.path.join(scratch, "new.parquet")
        self.ids_path = os.path.join(scratch, "remove_ids.parquet")
        _write_parquet(old, old_path)
        _write_parquet(new, self.new_path)
        _write_parquet(pd.DataFrame({"conv_id": sorted(self.removed)}), self.ids_path)
        self.ref = _oracle_reference(post)

        # preparation: the epoch-0 snapshot every run restores
        self.snapshot = os.path.join(scratch, "snapshot")
        t0 = time.monotonic()
        boot = IncrementalDedup(spark, CFG, self.snapshot).bootstrap(
            spark.read.parquet(old_path))
        self.pairs_before = {(a, b) for a, b in _collect_pairs(
            boot.verified_pairs, ("conv_a", "conv_b"))}
        self.bootstrap_s = time.monotonic() - t0
        if not any(a in self.removed or b in self.removed for a, b in self.pairs_before):
            raise RuntimeError("the removal set breaks no verified pair")
        self.wh = os.path.join(scratch, "wh")

    def setup(self) -> None:
        shutil.rmtree(self.wh, ignore_errors=True)
        shutil.copytree(self.snapshot, self.wh)

    def op(self) -> dict:
        inc = IncrementalDedup(self.spark, CFG, self.wh)
        new = self.spark.read.parquet(self.new_path)
        ids = self.spark.read.parquet(self.ids_path)
        t0 = time.monotonic()
        res = inc.apply(new_turns=new, remove_conv_ids=ids)
        return {"wall_s": time.monotonic() - t0, "calls": 1, "apply": res}

    def check(self, out: dict) -> None:
        res = out["apply"]
        pairs = _collect_pairs(res.verified_pairs, PAIR_COLS)
        _expect("fold verified_pairs digest", _digest(pairs), self.ref["pairs"])
        _expect("fold clusters digest", _digest(_collect_clusters(res.clusters)),
                self.ref["clusters"])
        _expect("fold deduped_turns rows", res.deduped_turns.count(),
                self.ref["deduped_turns"])
        _expect("fold n_removed_convs", res.n_removed_convs, len(self.removed))
        # pairs the fold added to the verified set per candidate pair it
        # generated (public outputs only)
        added = {(a, b) for a, b, _ in pairs} - self.pairs_before
        out["candidate_yield"] = len(added) / max(1, res.report["n_candidate_pairs"])


WORKLOADS = {w.name: w for w in (BatchSynthetic, FoldLowOverlap)}


def _anchor(spark) -> float:
    t0 = time.monotonic()
    spark.range(0, ANCHOR_ROWS, 1, 64).selectExpr(
        "sum(xxhash64(id) % 1000000)").collect()
    return time.monotonic() - t0


def _timed_op(work, jvm_pid: int, sc) -> dict:
    """One closed-loop operation with its CPU and Spark job window."""
    first_job = trace.max_job_id(sc)
    cpu0 = procstat.tree_cpu(jvm_pid)
    out = work.op()
    cpu1 = procstat.tree_cpu(jvm_pid)
    out["jobs_window"] = (first_job, trace.max_job_id(sc))
    out["jobs"] = out["jobs_window"][1] - first_job
    out["python_cpu_s"] = cpu1[1] - cpu0[1]
    out["cpu_s"] = (cpu1[0] - cpu0[0]) + out["python_cpu_s"]
    return out


def _history_path() -> str:
    return os.path.join(ROOT, ".bench_build", "perfbench", "untraced.jsonl")


def _read_history(workload: str) -> list[dict]:
    try:
        with open(_history_path()) as f:
            rows = [json.loads(line) for line in f if line.strip()]
    except FileNotFoundError:
        return []
    return [r for r in rows if r.get("workload") == workload]


def _append_history(row: dict) -> None:
    with open(_history_path(), "a") as f:
        f.write(json.dumps(row) + "\n")


def _layer_metrics(sc, tracer, out, work, cores: int) -> tuple[dict, dict]:
    """Per-layer metrics of one traced op, and the detailed trace."""
    spans = tracer.spans
    jobs = trace.fold_status_store(sc, out["jobs_window"][0])
    jobs = [j for j in jobs if j.job_id <= out["jobs_window"][1]]
    owner = trace.attribute(jobs, spans)

    def jobs_under(root: int):
        ids = trace.subtree(spans, root)
        return [j for j in jobs if owner[j.job_id] in ids]

    def total(js, f) -> float:
        return sum(f(st) for j in js for st in j.stages)

    m = dict.fromkeys(PER_LAYER, 0.0)
    named = lambda prefix: [s for s in spans if s.name.startswith(prefix)]  # noqa: E731
    m["catalog.flush_wait_s"] = sum(s.duration for s in named("flush"))
    writes = named("write:")
    m["catalog.write_s"] = sum(s.duration for s in writes)
    m["catalog.written_mb"] = total(
        [j for j in jobs if owner[j.job_id] in {s.id for s in writes}],
        lambda st: st.output_bytes) / MB
    for st in STAGES:
        for s in (s for s in spans if s.name == f"stage:{st}"):
            js = jobs_under(s.id)
            m[f"stage.{st}.s"] += s.duration
            m[f"stage.{st}.exec_s"] += total(js, lambda x: x.exec_ms) / 1000
            m[f"stage.{st}.shuffle_mb"] += total(js, lambda x: x.shuffle_write) / MB
    m["udfs.python_cpu_s"] = out["python_cpu_s"]

    def window(names) -> tuple[float, float] | None:
        sel = [s for s in spans if s.name in {f"stage:{n}" for n in names}]
        return (min(s.start for s in sel), max(s.end for s in sel)) if sel else None

    runs = named("run")
    if runs:
        run = runs[0]
        m["lsh.candidate_yield"] = out["candidate_yield"]
        trunk, a, b, tail = (window(TRUNK), window(BRANCH_A), window(BRANCH_B),
                             window(("trimmed_turns",)))
        m["pipeline.trunk_s"] = trunk[1] - run.start if trunk else 0.0
        m["pipeline.branch_a_s"] = a[1] - a[0] if a else 0.0
        m["pipeline.branch_b_s"] = b[1] - b[0] if b else 0.0
        m["pipeline.tail_s"] = run.end - tail[0] if tail else 0.0
    if "apply" in out:
        res, span = out["apply"], named("apply")[0]
        for ph, sec in res.report["t_phases"].items():
            m[f"incremental.{ph}_s"] = float(sec)
        m["incremental.jobs"] = len(jobs_under(span.id))
        m["incremental.resigned"] = res.n_resigned
        m["incremental.affected_old"] = res.n_affected_old
        m["incremental.candidate_yield"] = out["candidate_yield"]

    all_stages = [st for j in jobs for st in j.stages]
    exec_s = total(jobs, lambda x: x.exec_ms) / 1000
    attributed = total([j for j in jobs if owner[j.job_id] is not None],
                       lambda x: x.exec_ms) / 1000
    skews = [(st.task_max_ms / st.task_median_ms, st.stage_id) for st in all_stages
             if st.num_tasks >= 2 and st.task_median_ms > 0]
    worst = max(skews, default=(1.0, None))
    m.update({
        "spark.jobs": len(jobs),
        "spark.tasks": sum(st.num_tasks for st in all_stages),
        "spark.exec_s": exec_s,
        "spark.exec_cpu_s": total(jobs, lambda x: x.cpu_ns) / 1e9,
        "spark.gc_s": total(jobs, lambda x: x.gc_ms) / 1000,
        "spark.shuffle_mb": total(jobs, lambda x: x.shuffle_write) / MB,
        "spark.spill_mb": total(jobs, lambda x: x.spill) / MB,
        "spark.busy_frac": exec_s / (out["wall_s"] * cores),
        "spark.worst_skew": worst[0],
        "spark.attributed_frac": attributed / exec_s if exec_s else 0.0,
    })
    self_s = trace.self_times(spans)
    detail = {
        "workload": work.name,
        "worst_skew_stage_id": worst[1],
        "spans": [{"id": s.id, "name": s.name, "parent": s.parent,
                   "start": s.start, "end": s.end, "self_s": self_s[s.id],
                   "jobs": sum(1 for j in jobs if owner[j.job_id] == s.id)}
                  for s in spans],
        "jobs": [{"job_id": j.job_id, "span": owner[j.job_id],
                  "description": j.description,
                  "stages": [vars(st) for st in j.stages]} for j in jobs],
    }
    return m, detail


def run(args, scratch: str) -> dict:
    from dedup_spark.session import get_spark

    cores = len(os.sched_getaffinity(0))
    spark = get_spark(
        master=f"local[{cores}]", app_name="perfbench",
        extra_conf={
            "spark.ui.showConsoleProgress": "false",
            # the status store must hold every job of a run for the fold
            "spark.ui.retainedJobs": "100000",
            "spark.ui.retainedStages": "100000",
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={scratch}/tmp",
        },
    )
    try:
        sc = spark.sparkContext
        spark.range(1_000_000).selectExpr("sum(id)").collect()  # warm-up action
        session_s = time.monotonic() - T_PROC
        jvm_pid = sc._gateway.proc.pid
        anchor_before = _anchor(spark)
        t0 = time.monotonic()
        work = WORKLOADS[args.workload](spark, args.seed, scratch)
        prep_s = time.monotonic() - t0

        setups = []

        def setup() -> None:
            t = time.monotonic()
            work.setup()
            setups.append(time.monotonic() - t)

        for _ in range(SETUP_REPEATS):
            setup()

        attempted = failed = 0
        ops = []
        tracer = trace.Tracer(sc) if args.trace else None
        loop_start = time.monotonic()
        while not ops or time.monotonic() - loop_start < args.seconds:
            if ops:
                setup()
            try:
                if tracer is not None:
                    with tracer.patched(), tracer.span("op"):
                        out = _timed_op(work, jvm_pid, sc)
                else:
                    out = _timed_op(work, jvm_pid, sc)
            except Exception:  # noqa: BLE001 - counted, reported, fails the run
                traceback.print_exc()
                attempted, failed = attempted + 1, failed + 1
                break
            attempted += out["calls"]
            try:
                work.check(out)
            except Exception:  # noqa: BLE001 - counted, reported, fails the run
                traceback.print_exc()
                failed += 1
            ops.append(out)
            if failed:
                break
            if tracer is not None:
                break  # one traced op: the trace describes exactly it
        anchor_after = _anchor(spark)
        if failed:
            print(f"# {work.name} error_rate = {failed / attempted:.4f}", file=sys.stderr)
            return {"correct": False, "attempted": attempted, "failed": failed,
                    "metrics": {}}

        wall = statistics.median(o["wall_s"] for o in ops)
        e2e = {
            "setup_s": session_s + statistics.median(setups),
            "wall_s": wall,
            "turns_per_s": work.n_turns / wall,
            "cpu_s": statistics.median(o["cpu_s"] for o in ops),
        }
        peak_rss = procstat.peak_rss_mb(jvm_pid)
        record = {
            "workload": work.name, "seed": args.seed, "trace": args.trace,
            "cores": cores, "ops": len(ops), "prep_s": prep_s,
            "bootstrap_s": getattr(work, "bootstrap_s", None),
            "anchor_before_s": anchor_before, "anchor_after_s": anchor_after,
            "end_to_end": e2e, "peak_rss_mb": peak_rss,
            "wall_s_each": [o["wall_s"] for o in ops],
            "jobs_each": [o["jobs"] for o in ops],
        }
        if tracer is None:
            _append_history({"workload": work.name, "seed": args.seed,
                             "wall_s": ops[0]["wall_s"], "jobs": ops[0]["jobs"]})
            metrics = {k: (e2e[k], u) for k, u in END_TO_END.items()}
        else:
            layer, detail = _layer_metrics(sc, tracer, ops[0], work, cores)
            layer["session.start_s"] = session_s
            layer["spark.peak_rss_mb"] = peak_rss
            # against the untraced runs this checkout has made (cold
            # processes like this one); 0 while there are none
            history = _read_history(work.name)
            if history:
                layer["trace.overhead_s"] = ops[0]["wall_s"] - statistics.median(
                    h["wall_s"] for h in history)
                same_seed = [h["jobs"] for h in history if h["seed"] == args.seed]
                layer["trace.job_delta"] = ops[0]["jobs"] - (
                    same_seed[-1] if same_seed
                    else statistics.median(h["jobs"] for h in history))
            else:
                print("# no untraced run of this workload in the checkout: "
                      "trace.overhead_s and trace.job_delta read 0", file=sys.stderr)
            layer["calib.anchor_before_s"] = anchor_before
            layer["calib.anchor_after_s"] = anchor_after
            layer["calib.anchor_mean_s"] = (anchor_before + anchor_after) / 2
            record["per_layer"] = layer
            record["detail"] = detail
            metrics = {k: (layer[k], u) for k, u in PER_LAYER.items()}
        path = os.path.join(ROOT, ".bench_build", "perfbench",
                            f"{work.name}-seed{args.seed}-trace{args.trace}.json")
        with open(path, "w") as f:
            json.dump(record, f, indent=1, default=str)
        summary = dict(e2e, peak_rss_mb=peak_rss, error_rate=failed / attempted,
                       anchor_before_s=anchor_before, anchor_after_s=anchor_after)
        for k, v in summary.items():
            print(f"# {work.name} {k} = {v:.4f}", file=sys.stderr)
        return {
            "correct": True,
            "attempted": attempted,
            "failed": failed,
            "metrics": {k: {"value": float(v), "unit": u} for k, (v, u) in metrics.items()},
        }
    finally:
        spark.stop()


def _stop_jvm() -> None:
    """End the gateway JVM and everything under it (pyspark daemon,
    Python workers) and wait for them: a JVM left to notice the closed
    pipe on its own outlives this process by a second or two."""
    from pyspark import SparkContext

    proc = getattr(SparkContext._gateway, "proc", None)
    if proc is not None:
        procstat.stop_tree(proc)


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(prog="perfbench")
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    base = os.path.join(ROOT, ".bench_build", "perfbench")
    scratch = os.path.join(base, f"run-{os.getpid()}")
    os.makedirs(os.path.join(scratch, "tmp"))
    os.environ["TMPDIR"] = tempfile.tempdir = os.path.join(scratch, "tmp")
    os.environ["SPARK_GRAFT_LOCAL_DIR"] = os.path.join(scratch, "local")
    # Python workers import the product from the checkout
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    try:
        result = run(args, scratch)
    finally:
        _stop_jvm()
        shutil.rmtree(scratch, ignore_errors=True)
    print(json.dumps(result))
    return 0 if result["correct"] else 1


if __name__ == "__main__":
    sys.exit(main())
