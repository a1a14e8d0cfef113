"""Fast tests of the benchmark's own parts at toy size (no Spark needed).

    python3 -m pytest perfbench/test_perfbench.py -q
"""

from __future__ import annotations

import os
import types

import numpy as np
import pyarrow.parquet as pq
import pytest

import checks
import cohort
import gen
from tracing import Tracer, parse_event_log, self_times


def _files(path):
    out = {}
    for fn in sorted(os.listdir(path)):
        with open(os.path.join(path, fn), "rb") as f:
            out[fn] = f.read()
    return out


def test_cohort_generator_is_deterministic_per_seed(tmp_path):
    a = gen.write_cohort(str(tmp_path / "a"), seed=7, participants=60)
    b = gen.write_cohort(str(tmp_path / "b"), seed=7, participants=60)
    c = gen.write_cohort(str(tmp_path / "c"), seed=8, participants=60)
    assert a == b and gen.write_cohort(str(tmp_path / "a"), seed=7, participants=60) == a
    assert sorted(os.listdir(tmp_path / "a")) == [f"{t}.csv" for t in ("cognition", "demographics", "mri",
                                                                        "questionnaire")]
    assert _files(tmp_path / "a") == _files(tmp_path / "b")
    assert _files(tmp_path / "a") != _files(tmp_path / "c")
    # dropout: subjects with id divisible by 7 attend only the first session
    assert a["rows"]["demographics"] == 60 + 3 * (60 - 60 // 7)


def test_corpus_generator_is_deterministic_per_seed(tmp_path):
    a = gen.write_corpus(str(tmp_path / "a"), seed=7, docs=50)
    b = gen.write_corpus(str(tmp_path / "b"), seed=7, docs=50)
    c = gen.write_corpus(str(tmp_path / "c"), seed=8, docs=50)
    ta = pq.read_table(str(tmp_path / "a" / "corpus.parquet"))
    assert a == b and ta.equals(pq.read_table(str(tmp_path / "b" / "corpus.parquet")))
    assert not ta.equals(pq.read_table(str(tmp_path / "c" / "corpus.parquet")))
    assert len(a["exact_pairs"]) == 5 and len(a["near_pairs"]) == 5
    texts = ta.column("text").to_pylist()
    for src, dup in a["exact_pairs"]:
        assert texts[src] == texts[dup]
    for src, dup in a["near_pairs"]:
        x, y = texts[src].split(" "), texts[dup].split(" ")
        assert len(x) == len(y) and 0 < sum(u != v for u, v in zip(x, y)) <= max(1, 0.03 * len(x))
    canon = checks.exact_canon_ids(str(tmp_path / "a" / "corpus.parquet"))
    for src, dup in a["exact_pairs"]:
        assert canon[dup] == canon[src] == min(canon[src], src, dup)
    assert len(set(canon.values())) == 50 - len(a["exact_pairs"])


def test_cohort_session_follows_the_apps_callback_order():
    ops = cohort.draw_session(np.random.default_rng(0), position=1)
    counts = [spec for kind, spec in ops if kind == "count"]
    final, preview, report, export = counts[-1], ops[-3][1], ops[-2][1], ops[-1][1]
    n_sess, n_sub = len(final["sessions"]), len(final["substudies"])
    assert [k for k, _ in ops] == ["count"] * (1 + n_sess + n_sub + 2) + ["preview", "report", "export"]
    # one live count per filter change, each over the filters set so far
    assert counts[0] == {"age": final["age"]}
    assert [s.get("sessions") for s in counts[1:1 + n_sess]] == [final["sessions"][:k]
                                                                 for k in range(1, n_sess + 1)]
    assert [len(s.get("substudies", [])) for s in counts] == (
        [0] * (1 + n_sess) + list(range(1, n_sub + 1)) + [n_sub] * 2)
    assert [len(s.get("ranges", [])) for s in counts[-2:]] == [1, 2]
    assert report == final and preview == export == dict(final, select=cohort.EXPORT_SELECT)


@pytest.fixture
def toy_cohort(tmp_path):
    env = types.SimpleNamespace(data=str(tmp_path / "data"), out=str(tmp_path / "out"))
    wl = cohort.CohortExplore(env, seed=3, tracer=Tracer(False))
    wl.data_dir = str(tmp_path / "data" / "toy")
    gen.write_cohort(wl.data_dir, seed=3, participants=80)
    return wl


def test_duckdb_check_rejects_a_planted_wrong_count(toy_cohort):
    spec = {"age": [10.0, 70.0], "sessions": ["BAS1", "BAS2"], "substudies": ["Discovery", "NFB3"],
            "ranges": [["cognition", "cog_01", 35.0, 70.0]]}
    oracle = checks.CohortOracle(toy_cohort.data_dir)
    want = oracle.count(spec)
    oracle.close()
    assert want > 0
    records = [{"kind": "count", "spec": spec, "result": want, "error": False, "ok": False},
               {"kind": "count", "spec": spec, "result": want + 1, "error": False, "ok": False}]
    toy_cohort.check(records)
    assert [r["ok"] for r in records] == [True, False]


def test_duckdb_check_rejects_a_planted_wrong_report_row(toy_cohort):
    spec = cohort.draw_spec(np.random.default_rng(0), position=1)
    oracle = checks.CohortOracle(toy_cohort.data_dir)
    want = oracle.impact(spec)
    oracle.close()
    bad = list(want)
    bad[-1] = (bad[-1][0], bad[-1][1] + 1) + tuple(bad[-1][2:])
    records = [{"kind": "report", "spec": spec, "result": want, "error": False, "ok": False},
               {"kind": "report", "spec": spec, "result": bad, "error": False, "ok": False}]
    toy_cohort.check(records)
    assert [r["ok"] for r in records] == [True, False]


def _span(name, start, end, parent=None):
    return {"name": name, "op": "op0", "parent": parent, "start": start, "end": end, "py4j": 0}


def test_span_self_time_subtracts_the_union_of_children():
    spans = [_span("op", 0.0, 10.0),
             _span("a", 1.0, 3.0, parent=0),
             _span("b", 2.0, 5.0, parent=0),   # overlaps a: counted once
             _span("c", 8.0, 12.0, parent=0),  # clipped to the parent's end
             _span("d", 2.5, 2.75, parent=2)]  # grandchild: only b loses it
    assert self_times(spans) == pytest.approx([10.0 - 4.0 - 2.0, 2.0, 3.0 - 0.25, 4.0, 0.25])


def test_tracer_records_parents_and_is_silent_when_off():
    tr = Tracer(True)
    tr.op = "op1"
    with tr.span("outer"):
        with tr.span("inner"):
            pass
    assert [(s["name"], s["parent"], s["op"]) for s in tr.spans] == [("outer", None, "op1"),
                                                                      ("inner", 0, "op1")]
    off = Tracer(False)
    with off.span("outer"):
        pass
    assert off.spans == []


def test_event_log_attributes_tasks_to_job_groups(tmp_path):
    import json

    events = [
        {"Event": "SparkListenerJobStart", "Job ID": 0, "Stage IDs": [0, 1],
         "Properties": {"spark.jobGroup.id": "op0"}},
        {"Event": "SparkListenerJobStart", "Job ID": 1, "Stage IDs": [1, 2],
         "Properties": {"spark.jobGroup.id": "op1"}},
        {"Event": "SparkListenerTaskEnd", "Stage ID": 1, "Task Metrics": {
            "Executor Run Time": 7, "Executor CPU Time": 5_000_000, "JVM GC Time": 1,
            "Input Metrics": {"Bytes Read": 100},
            "Shuffle Write Metrics": {"Shuffle Bytes Written": 30},
            "Shuffle Read Metrics": {"Local Bytes Read": 4, "Remote Bytes Read": 6},
            "Memory Bytes Spilled": 2, "Disk Bytes Spilled": 3}},
        {"Event": "SparkListenerTaskEnd", "Stage ID": 2, "Task Metrics": {"Executor Run Time": 5}},
    ]
    path = tmp_path / "log"
    path.write_text("\n".join(json.dumps(e) for e in events) + "\n")
    groups = parse_event_log([str(path)])
    assert groups["op0"] == {"jobs": 1, "stages": 1, "tasks": 1, "run_ms": 7, "cpu_ms": 5.0, "gc_ms": 1,
                             "input_bytes": 100, "shuffle_write_bytes": 30, "shuffle_read_bytes": 10,
                             "spill_bytes": 5}
    assert groups["op1"]["jobs"] == 1 and groups["op1"]["tasks"] == 1 and groups["op1"]["run_ms"] == 5


def test_tail_percentile_keeps_ten_samples_beyond():
    assert cohort.tail_percentile(100) == 90
    assert cohort.tail_percentile(40) == 75
    assert cohort.tail_percentile(30) == 66
    assert cohort.tail_percentile(12) is None
