"""Unit tests for the benchmark's own arithmetic (no Spark needed).

    python3 -m pytest perfbench -q
"""

import hashlib
import threading

import pandas as pd
import pytest

from perfbench import eventlog, gate, host
from perfbench.stats import highest_percentile, percentile, tail_count
from perfbench.trace import Recorder, Span, self_time, union_length


# ------------------------------------------------------------- percentiles
@pytest.mark.parametrize("n,q", [
    (19, None), (20, 0.5), (39, 0.5), (40, 0.75), (99, 0.75), (100, 0.9),
    (200, 0.95), (1000, 0.99),
])
def test_highest_percentile_keeps_ten_samples_beyond(n, q):
    assert highest_percentile(n) == q
    if q is not None:
        assert tail_count(n, q) >= 10


def test_percentile_is_nearest_rank():
    xs = list(range(1, 41))
    assert percentile(xs, 0.75) == 30
    assert sum(x > percentile(xs, 0.75) for x in xs) == tail_count(40, 0.75) == 10
    assert percentile([5.0], 0.5) == 5.0


# ------------------------------------------------------------------ spans
def _span(i, start, end, parent=None, thread=1):
    return Span(i, f"s{i}", start, end, parent, thread)


def test_union_length_merges_overlaps():
    assert union_length([]) == 0
    assert union_length([(0, 1), (2, 3)]) == 2
    assert union_length([(0, 2), (1, 3), (3, 4), (10, 11)]) == 5


def test_self_time_subtracts_union_of_children():
    root = _span(0, 0.0, 10.0)
    spans = [
        root,
        _span(1, 1.0, 4.0, parent=0),
        _span(2, 3.0, 5.0, parent=0),  # overlaps child 1: counted once
        _span(3, 9.0, 12.0, parent=0),  # clipped to the root's end
        _span(4, 2.0, 8.0, parent=1),  # grandchild: not a direct child
        _span(5, 0.0, 10.0, parent=None, thread=2),  # other thread, not a child
    ]
    assert self_time(root, spans) == pytest.approx(10 - (4 + 1))


def test_recorder_nests_per_thread_and_inherits_batch():
    rec = Recorder()
    with rec.span("outer", batch="b1"):
        with rec.span("inner"):
            pass
        with rec.span("inner2", batch="b2"):
            pass
    by = {s.name: s for s in rec.spans}
    assert by["inner"].parent == by["outer"].id
    assert by["inner"].batch == "b1"
    assert by["inner2"].batch == "b2"
    assert by["outer"].parent is None

    def worker():
        with rec.span("on_thread"):
            pass

    with rec.span("main"):
        th = threading.Thread(target=worker)
        th.start()
        th.join()
    by = {s.name: s for s in rec.spans}
    assert by["on_thread"].parent is None  # thread stacks are independent
    assert by["on_thread"].thread != by["main"].thread


# -------------------------------------------------------------- event log
def _job(jid, stages, group, t):
    props = {"spark.jobGroup.id": group} if group else {}
    return {"Event": "SparkListenerJobStart", "Job ID": jid, "Stage IDs": stages,
            "Submission Time": t, "Properties": props}


def _task(stage, run, gc=0, read=0, shuffle=0):
    return {"Event": "SparkListenerTaskEnd", "Stage ID": stage, "Task Metrics": {
        "Executor Run Time": run, "JVM GC Time": gc,
        "Input Metrics": {"Bytes Read": read, "Records Read": read // 100},
        "Shuffle Write Metrics": {"Shuffle Bytes Written": shuffle},
    }}


EVENTS = [
    _job(0, [0, 1], "lake.write_delta_files", 1000),
    _job(1, [1, 2], "engine.apply_batch", 2000),  # stage 1 already owned by job 0
    _job(2, [3], None, 3000),
    _job(3, [4], "lake.write_delta_files", 9000),
    _task(0, 100, gc=10, read=1000),
    _task(1, 50, shuffle=500),
    _task(2, 20),
    _task(3, 7, read=3),
    _task(4, 1000, read=10**6),
    {"Event": "SparkListenerJobEnd", "Job ID": 0},
]


def test_attribute_charges_tasks_to_the_submitting_job_group():
    g = eventlog.attribute(EVENTS)
    w = g["lake.write_delta_files"]
    assert (w["jobs"], w["tasks"], w["run_ms"], w["gc_ms"]) == (2, 3, 1150, 10)
    assert (w["input_bytes"], w["shuffle_write_bytes"]) == (1000 + 10**6, 500)
    assert w["input_records"] == 10 + 10**4
    a = g["engine.apply_batch"]
    assert (a["jobs"], a["tasks"], a["run_ms"]) == (1, 1, 20)
    assert g[eventlog.UNGROUPED]["input_bytes"] == 3
    assert eventlog.totals(g)["jobs"] == 4


def test_attribute_keeps_only_jobs_inside_windows():
    g = eventlog.attribute(EVENTS, windows=[(0, 2500)])
    assert set(g) == {"lake.write_delta_files", "engine.apply_batch"}
    assert g["lake.write_delta_files"]["run_ms"] == 150
    assert eventlog.totals(g)["tasks"] == 3


# ------------------------------------------------------------------- host
@pytest.mark.parametrize("avail,heap", [
    (15479, 3072), (12000, 3072), (6000, 1536), (5120, 1536), (5119, 1024), (1000, 1024),
])
def test_heap_from_mem_available(avail, heap):
    assert host.heap_mb(avail) == heap


# ------------------------------------------------------------------- gate
def test_oracle_digest_matches_the_row_hash_definition(tmp_path):
    rows = [  # seq, commit_seq, event_offset, op, repo, path, commit, lang, content
        (0, 0, 0, "I", "r1", "a", "c0", "py", "x"),
        (1, 0, 1, "I", "r1", "b", "c0", "py", "y"),
        (2, 1, 0, "U", "r1", "a", "c1", "py", "x2"),
        (3, 1, 1, "D", "r1", "b", "c1", None, None),
        (4, 2, 0, "I", "r2", "c", "c2", "go", "z"),
    ]
    cols = ["seq", "commit_seq", "event_offset", "op", "repo", "path",
            "commit", "lang", "content"]
    d = tmp_path / "log"
    d.mkdir()
    pd.DataFrame(rows, columns=cols).to_parquet(d / "part-0.parquet")

    def h(*fields):
        s = gate.SEP.join(fields[:-1] + (hashlib.sha256(fields[-1].encode()).hexdigest(),))
        return int(hashlib.sha256(s.encode()).hexdigest()[:15], 16)

    live = [("r1", "a", "c1", "py", "x2"), ("r2", "c", "c2", "go", "z")]
    got = gate.oracle_digest(str(d), 0, 5, threads=1, temp_dir=str(tmp_path / "t"))
    assert got == (2, sum(h(*r) for r in live))
    # a truncated changelog (the gate self-test) gives a different state
    assert gate.oracle_digest(str(d), 0, 3, threads=1, temp_dir=str(tmp_path / "t")) != got
