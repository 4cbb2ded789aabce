"""Tests of the benchmark's own helpers (not of the product).

    python -m pytest perfbench/tests -q
"""

import json
import os
import subprocess
import threading

from perfbench import corpora, procstat, trace
from perfbench.trace import Span


def test_self_times_on_hand_built_tree():
    spans = [
        Span(0, "root", None, 0.0, 10.0),
        Span(1, "a", 0, 1.0, 4.0),
        Span(2, "b", 0, 3.0, 6.0),    # overlaps a (another thread)
        Span(3, "c", 0, 8.0, 12.0),   # outlives its parent (background write)
        Span(4, "a.x", 1, 2.0, 3.0),
    ]
    got = trace.self_times(spans)
    # root: 10 − |[1,6] ∪ [8,10]| = 10 − 7
    assert got == {0: 3.0, 1: 2.0, 2: 3.0, 3: 4.0, 4: 1.0}
    assert trace.subtree(spans, 1) == {1, 4}
    assert trace.subtree(spans, 0) == {0, 1, 2, 3, 4}


def test_same_seed_gives_identical_corpora():
    a, pa = corpora.synthetic_corpus(30, 5)
    b, pb = corpora.synthetic_corpus(30, 5)
    assert a.equals(b) and pa == pb
    c, _ = corpora.synthetic_corpus(30, 6)
    assert not a["text"].equals(c["text"])

    lo1, fam1 = corpora.lowoverlap_corpus(40, 5, 7)
    lo2, fam2 = corpora.lowoverlap_corpus(40, 5, 7)
    assert lo1.equals(lo2) and fam1 == fam2
    ids = sorted(lo1["conv_id"].unique())[:40]
    r1 = corpora.removal_set(ids, fam1, 6, 7)
    assert r1 == corpora.removal_set(ids, fam2, 6, 7)

    # another seed: other text, same structure
    lo3, fam3 = corpora.lowoverlap_corpus(40, 5, 8)
    assert not lo1["text"].equals(lo3["text"])
    assert len(lo1) == len(lo3)
    assert sorted(map(len, fam1)) == sorted(map(len, fam3))
    r3 = corpora.removal_set(sorted(lo3["conv_id"].unique())[:40], fam3, 6, 8)
    members = lambda fam, r: sum(c in r for f in fam for c in f)  # noqa: E731
    assert len(r1) == len(r3) == 6
    assert members(fam1, r1) == members(fam3, r3) >= 1


def test_status_store_fold_submits_no_job(spark):
    sc = spark.sparkContext
    spark.range(1000).selectExpr("sum(id)").collect()
    before = trace.max_job_id(sc)
    jobs = trace.fold_status_store(sc, -1)
    assert trace.max_job_id(sc) == before
    assert jobs and jobs[-1].job_id == before
    assert sum(st.num_tasks for j in jobs for st in j.stages) > 0


def test_concurrent_threads_tag_their_own_spans(spark):
    sc = spark.sparkContext
    tracer = trace.Tracer(sc)
    before = trace.max_job_id(sc)
    barrier = threading.Barrier(2)
    errors = []

    def work(i: int) -> None:
        try:
            with tracer.span(f"t{i}"):
                sc.setJobDescription(f"t{i}")
                barrier.wait(timeout=60)
                for _ in range(3):
                    spark.range(20000 * (i + 1)).selectExpr("sum(id)").collect()
        except Exception as e:  # noqa: BLE001 - reported by the assert below
            errors.append(e)

    threads = [threading.Thread(target=work, args=(i,)) for i in range(2)]
    for t in threads:
        t.start()
    for t in threads:
        t.join(timeout=120)
    assert not errors and not any(t.is_alive() for t in threads)

    jobs = trace.fold_status_store(sc, before)
    owner = trace.attribute(jobs, tracer.spans)
    names = {s.id: s.name for s in tracer.spans}
    assert len(jobs) >= 6
    for j in jobs:
        assert owner[j.job_id] is not None
        assert names[owner[j.job_id]] == j.description


def test_benchmark_json_declares_the_printed_metrics():
    from perfbench import run

    root = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    with open(os.path.join(root, "BENCHMARK.json")) as f:
        spec = json.load(f)
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == run.END_TO_END
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == run.PER_LAYER
    assert {w["name"] for w in spec["workloads"]} == set(run.WORKLOADS)


def test_stop_tree_ends_the_process_and_its_orphans():
    # the shell's background child outlives the shell unless stopped too
    proc = subprocess.Popen(["sh", "-c", "sleep 60 & exec sleep 60"],
                            stdin=subprocess.PIPE)
    deadline = 50
    while not procstat.descendants(proc.pid) and deadline:
        threading.Event().wait(0.1)
        deadline -= 1
    kids = procstat.descendants(proc.pid)
    assert kids
    procstat.stop_tree(proc, grace_s=1.0)
    assert proc.returncode is not None
    assert not any(procstat._alive(p) for p in kids)
