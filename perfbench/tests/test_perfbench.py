"""Self-tests of the benchmark at toy scale (no Spark session).

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import os
import re
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
sys.path.insert(0, BENCH)
sys.path.insert(0, os.path.dirname(BENCH))

import gen  # noqa: E402
import run  # noqa: E402
import tracing  # noqa: E402

NAME = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")


@pytest.fixture
def toy_sizes(monkeypatch):
    monkeypatch.setattr(gen, "SIZES", {w: {t: max(3, n // 100) for t, n in sz.items()} for w, sz in gen.SIZES.items()})
    monkeypatch.setattr(gen, "INGEST_UPLOADS", 4)
    monkeypatch.setattr(gen, "INGEST_ROWS", 300)


@pytest.mark.parametrize("workload", ["dashboard", "replay", "ingest"])
def test_same_seed_same_bytes_other_seed_other_bytes(tmp_path, toy_sizes, workload):
    a = gen.make_inputs(workload, 7, str(tmp_path / "a"))
    b = gen.make_inputs(workload, 7, str(tmp_path / "b"))
    c = gen.make_inputs(workload, 8, str(tmp_path / "c"))
    assert a["digests"] == b["digests"]
    assert a["rows"] == b["rows"]
    assert all(a["digests"][k] != c["digests"][k] for k in a["digests"])


def test_uploads_carry_duplicates_and_late_rows():
    ups = gen.ingest_uploads(3, 3, 1000)
    day = lambda row: row[1][:10]  # noqa: E731
    for i, body in enumerate(ups):
        keys = [(r[0], r[1]) for r in body]
        dup_rows = len(keys) - len(set(keys))
        assert dup_rows == int(1000 * gen.INGEST_DUP_FRAC)
        # a repeated key inside one upload is an exact copy, so dedup is
        # deterministic whichever copy it keeps
        by_key: dict = {}
        for r in body:
            assert by_key.setdefault((r[0], r[1]), r) == r
        days = {day(r) for r in body}
        assert len(days) == (1 if i == 0 else min(i, 2) + 1)
    # half the late rows of upload 2 re-send a key an earlier upload wrote
    earlier = {(r[0], r[1]) for body in ups[:2] for r in body}
    resent = {(r[0], r[1]) for r in ups[2]} & earlier
    assert len(resent) == int(1000 * gen.INGEST_LATE_FRAC) // 2


def test_metric_names_match_benchmark_json():
    with open(os.path.join(os.path.dirname(BENCH), "BENCHMARK.json")) as f:
        spec = json.load(f)
    assert [(m["name"], m["unit"]) for m in spec["end_to_end"]] == run.END_TO_END
    assert [(m["name"], m["unit"]) for m in spec["per_layer"]] == tracing.PER_LAYER
    for name, _ in run.END_TO_END + tracing.PER_LAYER:
        assert NAME.match(name), name
    assert {w["name"] for w in spec["workloads"]} == set(run.ROUNDS)


def test_dashboard_takes_the_first_entry_of_every_family():
    from w4h_integrated_toolkit_spark.plans import QUERIES

    entries = [e for family in run.DASHBOARD_FAMILIES.values() for e in family]
    assert len(entries) == len(set(entries)) == 21
    assert all(QUERIES[e][1] for e in entries)  # each has a DuckDB oracle
    assert run.DASHBOARD_OPS == [family[0] for family in run.DASHBOARD_FAMILIES.values()]
    assert all(d in QUERIES for drains in run.REPLAY_KINDS.values() for d in drains)
    assert [sum(op in drains for op in run.REPLAY_OPS) for drains in run.REPLAY_KINDS.values()] == [1, 1]


def test_a_wrong_registry_result_fails_every_execution_of_it(tmp_path):
    wl = run.Workload("dashboard", {"files": {}}, tracing.Tracer(False), str(tmp_path))
    wl._fail("cohort_kpi", "values differ from the oracle")
    assert wl.failed_executions({"cohort_kpi": 4, "like_filter": 4}) == 4
    ingest = run.Workload("ingest", {"files": {}}, tracing.Tracer(False), str(tmp_path))
    ingest._fail("upload", "read-back after upload 1")
    assert ingest.failed_executions({"upload": 5}) == 1


def test_an_ingest_round_is_every_upload_into_fresh_tables(tmp_path, toy_sizes):
    inputs = gen.make_inputs("ingest", 7, str(tmp_path))
    wl = run.Workload("ingest", inputs, tracing.Tracer(False), str(tmp_path / "tables"))
    assert wl.round() == ["upload"] * gen.INGEST_UPLOADS
    assert wl.uploads == sorted(inputs["files"])
    wl.uploaded = 3
    wl.new_table_set("round2")
    assert (wl.table_set, wl.uploaded) == ("round2", 0)


def _span(i, name, start, end, parent=None, **kw):
    return {"id": i, "name": name, "parent": parent, "op": "q", "start": start, "end": end, **kw}


def test_self_time_subtracts_the_union_of_children():
    spans = [
        _span(0, "op", 0.0, 10.0, phase="timed"),
        _span(1, "a", 1.0, 4.0, 0),
        _span(2, "b", 3.0, 6.0, 0),  # overlaps a: union of children is 1..6
        _span(3, "c", 9.0, 12.0, 0),  # runs past its parent: clipped to 9..10
        _span(4, "d", 2.0, 3.0, 1),
    ]
    st = tracing.self_times(spans)
    assert st[0] == pytest.approx(10.0 - 5.0 - 1.0)
    assert st[1] == pytest.approx(3.0 - 1.0)
    assert st[2] == pytest.approx(3.0)
    assert st[4] == pytest.approx(1.0)
    assert tracing.covered([], 0, 1) == 0.0
    assert tracing.covered([(0.0, 1.0), (1.0, 2.0)], 0.0, 2.0) == pytest.approx(2.0)


def test_tracer_disabled_records_nothing_and_enabled_nests():
    off = tracing.Tracer(False)
    with off.span("x") as s:
        assert s is None
    assert off.spans == []
    on = tracing.Tracer(True)
    with on.span("op", op="q1", phase="timed"):
        with on.span("plans.build"):
            pass
    assert [s["name"] for s in on.spans] == ["op", "plans.build"]
    assert on.spans[1]["parent"] == 0 and on.spans[1]["op"] == "q1"
    assert all(s["end"] >= s["start"] for s in on.spans)


# the recorded log: cohort_kpi (build, then a noop write) and then
# stream_window_kpis (a bounded availableNow drain inside its builder) on
# local[2]; span times are the ones the recording printed
LOG = os.path.join(HERE, "data", "eventlog_small.jsonl")
RECORDED = [
    ("cohort_kpi", "plans.build", 1792206902.428052, 1792206906.0734174, 1792206909.2473125),
    ("stream_window_kpis", "streaming.replay", 1792206909.2475164, 1792206913.3400931, 1792206913.4485013),
]


def test_event_log_parser_on_recorded_log():
    log = tracing.parse_event_logs([LOG])
    assert len(log["jobs"]) == 10
    assert sum(len(t) for t in log["stage_tasks"].values()) == 20
    assert len(log["sql_starts"]) == 6
    (q,) = log["streams"].values()
    assert len(q["progress"]) == 1
    assert q["progress"][0]["durationMs"]["addBatch"] == 1933

    spans = []
    for op, build, a, b, c in RECORDED:
        root = len(spans)
        spans.append(_span(root, "op", a, c, op=op, phase="timed"))
        spans[-1]["op"] = op
        spans.append(dict(_span(root + 1, build, a, b, root), op=op))
        spans.append(dict(_span(root + 2, "operators.exec", b, c, root), op=op))
    extra = {"rows_out": {"cohort_kpi": 5, "stream_window_kpis": 400}, "state_kind": {"stream_window_kpis": "jvm"}}
    m = tracing.layer_metrics(spans, log, 2, extra)
    assert set(m) == {n for n, _ in tracing.PER_LAYER}
    # cohort_kpi's builder fires jobs of its own (file listing and schema)
    assert m["plans.build_jobs"] >= 1
    assert m["plans.build_s"] == pytest.approx(1792206906.0734174 - 1792206902.428052)
    assert 0 < m["operators.plan_s"] < m["operators.exec_s"]
    assert m["operators.jobs"] >= 1 and m["operators.tasks"] >= m["operators.stages"] >= 1
    assert 0 < m["operators.cpu_frac"] <= 1.5
    # the drain: one micro-batch over the sf0.001 events table
    assert m["streaming.batches"] == 1
    assert m["streaming.input_rows"] == 1000
    assert m["streaming.add_batch_ms"] == 1933
    assert 0 < m["streaming.drain_s"] < 1792206913.3400931 - 1792206909.2475164
    assert m["streaming.drain_jvm_s"] == m["streaming.drain_s"] and m["streaming.drain_python_s"] == 0.0
    assert m["streaming.overhead_s"] > 0
    assert m["streaming.state_rows"] == 889
    assert m["sources.read_csv_s"] == 0.0


def test_end_session_stops_what_outlives_its_parent():
    import subprocess

    run._become_subreaper()
    # like the driver JVM, a process that outlives the one that started it
    child = subprocess.Popen(["sh", "-c", "sleep 60 & echo $!"], stdout=subprocess.PIPE, start_new_session=True, text=True)
    orphan = int(child.stdout.readline())
    child.wait()
    assert run._session_pids(child.pid) == [orphan]
    assert run._end_session(child.pid, grace=0.2) == 1
    assert run._session_pids(child.pid) == []
