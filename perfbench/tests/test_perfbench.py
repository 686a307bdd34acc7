"""Tests of the benchmark itself: generator determinism, the per-op
checks catching planted faults, and event-log parsing.

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import os
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
sys.path[:0] = [BENCH, os.path.dirname(BENCH)]

import eventlog  # noqa: E402
import gen  # noqa: E402


def _tree(root: str) -> dict[str, bytes]:
    out = {}
    for d, _, files in os.walk(root):
        for f in files:
            p = os.path.join(d, f)
            with open(p, "rb") as fh:
                out[os.path.relpath(p, root)] = fh.read()
    return out


def test_same_seed_writes_byte_identical_inputs(tmp_path):
    for run in ("a", "b", "c"):
        seed = 7 if run != "c" else 8
        gen.write_daily(str(tmp_path / run / "daily"), seed, files=4, rows_per_file=15)
        gen.write_corpus(str(tmp_path / run / "corpus"), seed, docs=2000)
    a, b, c = (_tree(str(tmp_path / r)) for r in "abc")
    assert a == b
    assert a.keys() == c.keys() and a != c


def test_expected_outputs_follow_the_planted_structure(tmp_path):
    daily = gen.write_daily(str(tmp_path / "d"), 3, files=5, rows_per_file=10)
    assert daily.expected.documents == 50 == len(daily.expected.references)
    assert sorted(os.listdir(daily.drop_dir)) == [f"DD {i:02d}.xlsx" for i in range(5)] + ["notes.xlsx"]

    corpus = gen.write_corpus(str(tmp_path / "c"), 3, docs=3000)
    exp = corpus.expected
    for a, b in exp.planted:
        inter, union = gen.token_set(corpus.texts[a]), gen.token_set(corpus.texts[b])
        assert 10 * len(inter & union) >= 9 * len(inter | union)
    boiler = {t for t in corpus.texts.values() if t.lower() != t}
    assert len({gen.token_set(t) for t in boiler}) == 1 and len(boiler) > 500
    assert len(exp.survivors) == exp.quality_pass - exp.exact_dups - len(exp.planted)


def test_delivery_check_catches_a_dropped_reference(tmp_path):
    import workloads as W

    exp = gen.write_daily(str(tmp_path), 1, files=2, rows_per_file=8).expected
    refs = sorted(exp.references)
    assert W.check_delivery(refs, exp) == []
    assert "missing" in W.check_delivery(refs[1:], exp)[0]
    assert "duplicate" in W.check_delivery(refs + refs[:1], exp)[0]
    assert "unexpected" in W.check_delivery(refs + ["T99/0001"], exp)[0]


def test_corpus_check_catches_each_fault(tmp_path):
    import workloads as W

    corpus = gen.write_corpus(str(tmp_path), 2, docs=2000)
    exp = corpus.expected
    pairs = [
        (a, b, *W.exact_jaccard(corpus.texts[a], corpus.texts[b])) for a, b in sorted(exp.planted)
    ]
    survivors = set(exp.survivors)
    assert W.check_corpus(pairs, survivors, corpus, 0) == []
    assert "not verified" in W.check_corpus(pairs[1:], survivors, corpus, 0)[0]
    assert "survivors" in W.check_corpus(pairs, survivors - {min(survivors)}, corpus, 0)[0]
    a, b, inter, union = pairs[0]
    wrong = [(a, b, inter - 1, union)] + pairs[1:]
    assert any("exact" in e for e in W.check_corpus(wrong, survivors, corpus, 0))


@pytest.fixture(scope="module")
def spark(tmp_path_factory):
    import run

    work = str(tmp_path_factory.mktemp("work"))
    run.setup_env(work)
    s = run.start_session(work, traced=False)
    yield s
    run.stop_session(s)


def test_daily_op_passes_then_a_removed_charge_row_trips_the_gate(spark, tmp_path):
    import workloads as W
    from xero_api_etl_utilities_spark.operators.quality import QualityGateError

    inputs = gen.write_daily(str(tmp_path / "in"), 4, files=3, rows_per_file=6)
    wl = W.DailyWorkload(spark, inputs, str(tmp_path), fault="none")
    tr = W.Tracer(spark, "m0", traced=False)
    res = wl.run(tr)
    assert wl.check(res, tr) == []
    # each document delivered once and acknowledged SKIPPED once
    assert res.items == 2 * inputs.expected.documents
    # a replay that wrote a payload instead of skipping it is caught
    with open(os.path.join(res.state["root"], f"{W.RESOURCE}.out.jsonl"), "ab") as f:
        f.write(b'{"reference": "T000/0001"}\n')
    assert any("changed on replay" in e for e in wl.check(res, tr))
    wl.cleanup(res)
    assert not os.path.exists(res.state["root"])

    gen.drop_charge_row(inputs)
    with pytest.raises(QualityGateError, match="unverified"):
        wl.run(W.Tracer(spark, "m1", traced=False))
    W.release_caches(spark)


def _ev(kind, **kw):
    return {"Event": f"SparkListener{kind}", **kw}


def test_event_log_parsing(tmp_path):
    group = eventlog.GROUP_KEY
    scan_scope = json.dumps({"id": "1", "name": "Scan binaryFile "})
    lines = [
        _ev("JobStart", **{"Job ID": 0, "Properties": {group: "t1:excel_grid"}}),
        _ev("StageSubmitted", **{"Stage Info": {"Stage ID": 0}, "Properties": {group: "t1:excel_grid"}}),
        _ev("StageCompleted", **{"Stage Info": {"Stage ID": 0, "RDD Info": [{"Scope": scan_scope}]}}),
        _ev("JobStart", **{"Job ID": 1, "Properties": {group: "t1:excel_grid:trace"}}),
        _ev("StageSubmitted", **{"Stage Info": {"Stage ID": 1}, "Properties": {group: "t1:excel_grid:trace"}}),
        _ev("StageCompleted", **{"Stage Info": {"Stage ID": 1, "RDD Info": [{"Scope": scan_scope}]}}),
        _ev("JobStart", **{"Job ID": 2, "Properties": {group: "m0:excel_grid"}}),
    ]
    task = {
        "Executor Run Time": 1500,
        "JVM GC Time": 250,
        "Memory Bytes Spilled": 1_000_000,
        "Disk Bytes Spilled": 0,
        "Shuffle Write Metrics": {"Shuffle Bytes Written": 2_000_000},
        "Input Metrics": {"Records Read": 50},
    }
    for stage, failed in ((0, False), (0, True), (1, False)):
        lines.append(
            _ev("TaskEnd", **{"Stage ID": stage, "Task Info": {"Failed": failed}, "Task Metrics": task})
        )
    path = tmp_path / "app-1"
    path.write_text("\n".join(json.dumps(x) for x in lines) + "\n")

    events = eventlog.read_events(str(path))
    stats = eventlog.layer_stats(events, ["t1"], ("jobs", "tasks", "busy_s", "gc_s",
                                                  "shuffle_mb", "spill_mb", "failed_tasks"))
    assert stats == {
        "excel_grid.jobs": 2,  # program + trace job; m0 is not a traced op
        "excel_grid.tasks": 3,
        "excel_grid.failed_tasks": 1,
        "excel_grid.busy_s": 4.5,
        "excel_grid.gc_s": 0.75,
        "excel_grid.shuffle_mb": 6.0,
        "excel_grid.spill_mb": 3.0,
    }
    # program jobs only: the trace's own materialization is excluded
    assert eventlog.binary_file_passes(events, ["t1"]) == 100
