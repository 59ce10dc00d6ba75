"""Tracing for the benchmark's traced run: spans recorded around each call
into a layer of the engine, plus Spark's own event log, folded into the
per-layer metrics.

Spans carry name, start, end, parent and op id and live in memory until the
run ends. Jobs, stages and tasks from the event log are attributed to the
innermost span whose interval holds the job's submission time, which is
unambiguous with one client issuing one op at a time.
"""

from __future__ import annotations

import glob
import json
import statistics
import time
from contextlib import contextmanager
from datetime import datetime, timezone

# every per-layer metric the traced run prints, in BENCHMARK.json order
PER_LAYER = [
    ("session.start_s", "s"),
    ("plans.build_s", "s"),
    ("plans.build_jobs", "count"),
    ("plans.build_stages", "count"),
    ("plans.build_task_s", "s"),
    ("plans.build_busy_frac", "ratio"),
    ("operators.plan_s", "s"),
    ("operators.exec_s", "s"),
    ("operators.jobs", "count"),
    ("operators.stages", "count"),
    ("operators.tasks", "count"),
    ("operators.task_run_s", "s"),
    ("operators.task_cpu_s", "s"),
    ("operators.cpu_frac", "ratio"),
    ("operators.shuffle_read_bytes", "bytes"),
    ("operators.shuffle_write_bytes", "bytes"),
    ("operators.spill_bytes", "bytes"),
    ("operators.gc_s", "s"),
    ("operators.stage_skew", "ratio"),
    ("operators.rows_read_per_row_out", "ratio"),
    ("streaming.drain_s", "s"),
    ("streaming.drain_jvm_s", "s"),
    ("streaming.drain_python_s", "s"),
    ("streaming.overhead_s", "s"),
    ("streaming.batches", "count"),
    ("streaming.input_rows", "rows"),
    ("streaming.add_batch_ms", "ms"),
    ("streaming.get_batch_ms", "ms"),
    ("streaming.query_planning_ms", "ms"),
    ("streaming.wal_commit_ms", "ms"),
    ("streaming.commit_offsets_ms", "ms"),
    ("streaming.latest_offset_ms", "ms"),
    ("streaming.state_rows", "rows"),
    ("streaming.state_mem_bytes", "bytes"),
    ("streaming.state_commit_ms", "ms"),
    ("sources.read_csv_s", "s"),
    ("operators.etl_build_s", "s"),
    ("operators.merge_upsert_s", "s"),
    ("catalog.bytes_written", "bytes"),
    ("catalog.files_written", "count"),
    ("catalog.write_amp", "ratio"),
    ("catalog.bytes_per_row", "bytes"),
    ("plans.readback_s", "s"),
    ("trace.op_gmean_s", "s"),
    ("trace.ops_per_s", "1/s"),
]


class Tracer:
    """In-memory span recorder. Disabled, ``span`` records nothing."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[dict] = []

    @contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield None
            return
        parent = self._stack[-1] if self._stack else None
        s = {
            "id": len(self.spans),
            "name": name,
            "parent": parent["id"] if parent else None,
            "op": attrs.pop("op", parent["op"] if parent else None),
            "start": time.time(),
            "end": None,
            **attrs,
        }
        self.spans.append(s)
        self._stack.append(s)
        try:
            yield s
        finally:
            s["end"] = time.time()
            self._stack.pop()


def covered(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to ``[lo, hi]``."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted((max(s, lo), min(e, hi)) for s, e in intervals):
        if e <= s:
            continue
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def self_times(spans: list[dict]) -> dict[int, float]:
    """Span id -> duration minus the part of its interval its children cover."""
    kids: dict[int, list[tuple[float, float]]] = {}
    for s in spans:
        if s["parent"] is not None:
            kids.setdefault(s["parent"], []).append((s["start"], s["end"]))
    return {
        s["id"]: (s["end"] - s["start"]) - covered(kids.get(s["id"], []), s["start"], s["end"])
        for s in spans
    }


def _iso_s(ts: str) -> float:
    return datetime.strptime(ts, "%Y-%m-%dT%H:%M:%S.%fZ").replace(tzinfo=timezone.utc).timestamp()


def parse_event_logs(paths: list[str]) -> dict:
    """Read uncompressed Spark event logs into jobs, task metrics per stage,
    SQL execution starts and streaming queries (times in epoch seconds)."""
    jobs: dict[tuple[str, int], dict] = {}
    stage_tasks: dict[tuple[str, int], list[dict]] = {}
    sql_starts: list[float] = []
    streams: dict[str, dict] = {}
    for i, path in enumerate(sorted(paths)):
        app = str(i)  # job and stage ids restart with every SparkContext
        with open(path) as f:
            for line in f:
                e = json.loads(line)
                ev = e["Event"]
                if ev == "SparkListenerJobStart":
                    jobs[(app, e["Job ID"])] = {"submit": e["Submission Time"] / 1000.0, "stages": [(app, s) for s in e["Stage IDs"]]}
                elif ev == "SparkListenerTaskEnd":
                    m = e.get("Task Metrics") or {}
                    if not m:
                        continue
                    sr, sw = m["Shuffle Read Metrics"], m["Shuffle Write Metrics"]
                    stage_tasks.setdefault((app, e["Stage ID"]), []).append(
                        {
                            "run_s": m["Executor Run Time"] / 1000.0,
                            "cpu_s": m["Executor CPU Time"] / 1e9,
                            "gc_s": m["JVM GC Time"] / 1000.0,
                            "shuffle_read": sr["Remote Bytes Read"] + sr["Local Bytes Read"],
                            "shuffle_write": sw["Shuffle Bytes Written"],
                            "spill": m["Memory Bytes Spilled"] + m["Disk Bytes Spilled"],
                            "records_read": m["Input Metrics"]["Records Read"],
                            "bytes_written": m["Output Metrics"]["Bytes Written"],
                        }
                    )
                elif ev.endswith("SparkListenerSQLExecutionStart"):
                    sql_starts.append(e["time"] / 1000.0)
                elif ev.endswith("StreamingQueryListener$QueryStartedEvent"):
                    streams[e["runId"]] = {"start": _iso_s(e["timestamp"]), "progress": []}
                elif ev.endswith("StreamingQueryListener$QueryProgressEvent"):
                    p = e["progress"]
                    streams.setdefault(p["runId"], {"start": _iso_s(p["timestamp"]), "progress": []})["progress"].append(p)
    return {"jobs": jobs, "stage_tasks": stage_tasks, "sql_starts": sorted(sql_starts), "streams": streams}


def event_log_files(directory: str) -> list[str]:
    return [p for p in glob.glob(f"{directory}/*") if not p.endswith(".inprogress")]


def _innermost(spans: list[dict], t: float) -> dict | None:
    best = None
    for s in spans:
        if s["start"] <= t <= s["end"] and (best is None or s["start"] >= best["start"]):
            best = s
    return best


def _med(xs: list[float]) -> float:
    return statistics.median(xs) if xs else 0.0


def _mean(total: float, n: int) -> float:
    return total / n if n else 0.0


def layer_metrics(spans: list[dict], log: dict, cores: int, extra: dict) -> dict[str, float]:
    """Fold spans and the parsed event log into the per-layer metrics.

    Op-level figures cover the timed region only (spans with
    ``phase == "timed"`` and their descendants); ``session.start_s`` is the
    median over the run's set-ups. ``extra`` carries what neither source
    holds: rows out per op, the kind of state each drain keeps, catalog file
    counts and sizes, and the traced run's own end-to-end figures. Merge
    spans carry the bytes of the CSV they merge and the number of files
    they wrote."""
    by_id = {s["id"]: s for s in spans}

    def phase(s):
        while s["parent"] is not None:
            s = by_id[s["parent"]]
        return s.get("phase")

    timed = [s for s in spans if phase(s) == "timed"]
    selft = self_times(spans)
    named = lambda n: [s for s in timed if s["name"] == n]  # noqa: E731

    # attribute every job, and through it its stages and tasks, to a span
    per_span: dict[int, dict] = {}
    seen_stages: set = set()
    for _, job in sorted(log["jobs"].items()):
        s = _innermost(timed, job["submit"])
        if s is None:
            continue
        acc = per_span.setdefault(s["id"], {"jobs": 0, "stages": [], "tasks": []})
        acc["jobs"] += 1
        for st in job["stages"]:
            # a job also lists stages it skipped because an earlier job
            # already ran them: count each stage once, where it ran
            tasks = log["stage_tasks"].get(st)
            if tasks and st not in seen_stages:
                seen_stages.add(st)
                acc["stages"].append(tasks)
                acc["tasks"].extend(tasks)

    def acc_of(ss):
        out = {"jobs": 0, "stages": [], "tasks": []}
        for s in ss:
            a = per_span.get(s["id"])
            if a:
                out["jobs"] += a["jobs"]
                out["stages"] += a["stages"]
                out["tasks"] += a["tasks"]
        return out

    tsum = lambda tasks, k: sum(t[k] for t in tasks)  # noqa: E731
    dur = lambda s: s["end"] - s["start"]  # noqa: E731
    m: dict[str, float] = {}

    m["session.start_s"] = _med([dur(s) for s in spans if s["name"] == "session.start"])

    build = named("plans.build")
    ba = acc_of(build)
    m["plans.build_s"] = _med([selft[s["id"]] for s in build])
    m["plans.build_jobs"] = _mean(ba["jobs"], len(build))
    m["plans.build_stages"] = _mean(len(ba["stages"]), len(build))
    m["plans.build_task_s"] = _mean(tsum(ba["tasks"], "run_s"), len(build))
    build_wall = sum(dur(s) for s in build)
    m["plans.build_busy_frac"] = _mean(tsum(ba["tasks"], "run_s"), build_wall * cores)

    execs = named("operators.exec")
    ea = acc_of(execs)
    plan_s = []
    for s in execs:
        first = next((t for t in log["sql_starts"] if s["start"] <= t <= s["end"]), None)
        if first is not None:
            plan_s.append(first - s["start"])
    m["operators.plan_s"] = _med(plan_s)
    m["operators.exec_s"] = _med([dur(s) for s in execs])
    n = len(execs)
    m["operators.jobs"] = _mean(ea["jobs"], n)
    m["operators.stages"] = _mean(len(ea["stages"]), n)
    m["operators.tasks"] = _mean(len(ea["tasks"]), n)
    m["operators.task_run_s"] = _mean(tsum(ea["tasks"], "run_s"), n)
    m["operators.task_cpu_s"] = _mean(tsum(ea["tasks"], "cpu_s"), n)
    m["operators.cpu_frac"] = _mean(tsum(ea["tasks"], "cpu_s"), tsum(ea["tasks"], "run_s"))
    m["operators.shuffle_read_bytes"] = _mean(tsum(ea["tasks"], "shuffle_read"), n)
    m["operators.shuffle_write_bytes"] = _mean(tsum(ea["tasks"], "shuffle_write"), n)
    m["operators.spill_bytes"] = _mean(tsum(ea["tasks"], "spill"), n)
    m["operators.gc_s"] = _mean(tsum(ea["tasks"], "gc_s"), n)
    skews = []
    for tasks in ea["stages"]:
        runs = [t["run_s"] for t in tasks]
        if len(runs) >= 2 and statistics.median(runs) > 0:
            skews.append(max(runs) / statistics.median(runs))
    m["operators.stage_skew"] = _med(skews)
    rows_out = sum(extra.get("rows_out", {}).get(s["op"], 0) for s in execs)
    m["operators.rows_read_per_row_out"] = _mean(tsum(ea["tasks"], "records_read"), rows_out)

    replays = named("streaming.replay")
    drains, overheads = [], []
    by_kind: dict[str, list[float]] = {"jvm": [], "python": []}
    tot = {k: 0.0 for k in ("batches", "rows", "addBatch", "getBatch", "queryPlanning", "walCommit", "commitOffsets", "latestOffset", "state_rows", "state_mem", "state_commit")}
    for s in replays:
        for q in log["streams"].values():
            if not (s["start"] <= q["start"] <= s["end"]) or not q["progress"]:
                continue
            last = q["progress"][-1]
            end = _iso_s(last["timestamp"]) + last["durationMs"].get("triggerExecution", 0) / 1000.0
            drains.append(end - q["start"])
            by_kind[extra.get("state_kind", {}).get(s["op"], "jvm")].append(end - q["start"])
            overheads.append(dur(s) - (end - q["start"]))
            tot["batches"] += len(q["progress"])
            for p in q["progress"]:
                tot["rows"] += sum(src.get("numInputRows", 0) for src in p.get("sources", []))
                for k in ("addBatch", "getBatch", "queryPlanning", "walCommit", "commitOffsets", "latestOffset"):
                    tot[k] += p["durationMs"].get(k, 0)
                tot["state_commit"] += sum(o.get("commitTimeMs", 0) for o in p.get("stateOperators", []))
            tot["state_rows"] += sum(o.get("numRowsTotal", 0) for o in last.get("stateOperators", []))
            tot["state_mem"] += sum(o.get("memoryUsedBytes", 0) for o in last.get("stateOperators", []))
    r = len(replays)
    m["streaming.drain_s"] = _med(drains)
    m["streaming.drain_jvm_s"] = _med(by_kind["jvm"])
    m["streaming.drain_python_s"] = _med(by_kind["python"])
    m["streaming.overhead_s"] = _med(overheads)
    m["streaming.batches"] = _mean(tot["batches"], r)
    m["streaming.input_rows"] = _mean(tot["rows"], r)
    for key, name in (("addBatch", "add_batch"), ("getBatch", "get_batch"), ("queryPlanning", "query_planning"),
                      ("walCommit", "wal_commit"), ("commitOffsets", "commit_offsets"), ("latestOffset", "latest_offset")):
        m[f"streaming.{name}_ms"] = _mean(tot[key], r)
    m["streaming.state_rows"] = _mean(tot["state_rows"], r)
    m["streaming.state_mem_bytes"] = _mean(tot["state_mem"], r)
    m["streaming.state_commit_ms"] = _mean(tot["state_commit"], r)

    m["sources.read_csv_s"] = _med([dur(s) for s in named("sources.read_csv")])
    m["operators.etl_build_s"] = _med([dur(s) for s in named("operators.etl_build")])
    merges = named("operators.merge_upsert")
    m["operators.merge_upsert_s"] = _med([dur(s) for s in merges])
    written = tsum(acc_of(merges)["tasks"], "bytes_written")
    m["catalog.bytes_written"] = _mean(written, len(merges))
    m["catalog.files_written"] = _mean(sum(s["files_written"] for s in merges), len(merges))
    m["catalog.write_amp"] = _mean(written, sum(s["input_bytes"] for s in merges))
    m["catalog.bytes_per_row"] = _mean(extra.get("table_bytes", 0), extra.get("table_rows", 0))
    m["plans.readback_s"] = _med([dur(s) for s in named("plans.readback")])

    m["trace.op_gmean_s"] = extra.get("op_gmean_s", 0.0)
    m["trace.ops_per_s"] = extra.get("ops_per_s", 0.0)
    return m
