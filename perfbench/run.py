"""Repo benchmark: seeded GeoMTS workloads on local[nproc], one client in a
closed loop.

    python3 perfbench/run.py --workload dashboard --seed 1 --seconds 3 --trace 0

Workloads (DESIGN.md says why each was chosen):

- ``dashboard``: the W4H cohort and time-series registry entries.
- ``replay``: the stream-replay simulator's bounded ``availableNow`` drains,
  one with JVM state and one with Python ``applyInPandasWithState`` state.
- ``ingest``: ImportHub uploads through ``sources.read_csv`` ->
  ``fuzzy_map_columns`` -> ``melt`` -> ``ingest_fact`` -> ``merge_upsert``
  into date-partitioned fact tables, each followed by a read-after-write
  cohort KPI.

A run generates its inputs from the seed, sets up once (start the Spark
session, then run every distinct op the way the timed region runs it and
keep its result), measures whole rounds of ops until ``--seconds`` have
passed, checks every kept result against its DuckDB oracle, and prints one JSON object as the
last stdout line. ``--trace 1`` adds spans and Spark's event log and
prints the per-layer metrics instead of the end-to-end ones.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import random
import resource
import shutil
import statistics
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")

# (name, unit) of every end-to-end metric, in BENCHMARK.json order
END_TO_END = [
    ("op_gmean_s", "s"),
    ("ops_per_s", "1/s"),
    ("setup_s", "s"),
]

# 21 W4H cohort and time-series registry entries, grouped by the shape of
# their plan. A dashboard round runs the first-listed entry of every family.
DASHBOARD_FAMILIES = {
    "cohort join": ["cohort_kpi", "cohort_compare", "anti_join_new_users"],
    "broadcast lookup": ["mets_broadcast_lookup"],
    "filtered scan": ["like_filter", "range_scan", "safe_band", "trailing_window_kpis", "stream_alerts"],
    "per-user window": ["first_per_user", "calibration", "gap_mask", "trajectories", "time_weighted_avg", "rolling_zscore"],
    "time-bucket aggregate": ["resample_1min", "breach_histogram", "time_of_day_overnight", "sliding_window", "rollup_cascade"],
    "spatial": ["geofence_count"],
}
DASHBOARD_OPS = [entries[0] for entries in DASHBOARD_FAMILIES.values()]
# Nine bounded availableNow drains by the kind of state they keep. A replay
# round runs one drain of each kind, twice: the first listed whose median
# warm drain took at most 2.25 s (DESIGN.md has the timings).
REPLAY_KINDS = {
    "jvm": ["streaming_sessions", "stream_window_kpis", "stream_heavy_hitters", "stream_window_dedup", "stream_stream_join", "stream_distinct_users"],
    "python": ["streaming_debounce", "streaming_ewma", "streaming_anomaly"],  # applyInPandasWithState
}
REPLAY_OPS = ["stream_window_kpis", "streaming_ewma"]
# One round of the timed region; the timed region is whole rounds, and
# every round does the same work, so the mean and the rate do not depend
# on how many rounds fit. A dashboard round runs each entry twice and a
# replay round each drain twice, so one round holds enough samples. An
# ingest round writes the uploads, in day order, into a fresh pair of
# tables: the create path once, then the merge path.
ROUNDS = {
    "dashboard": DASHBOARD_OPS * 2,
    "replay": REPLAY_OPS * 2,
    "ingest": ["upload"],  # times gen.INGEST_UPLOADS
}
# Set-up passes over the distinct registry ops. After one pass, the second
# timed execution of an op was still 10-30% faster than the first.
WARM_PASSES = 2
# set-up uploads: the create path of the sink once, its merge path once
INGEST_WARM_UPLOADS = 2
DRIVER_MEMORY = "2g"

# ImportHub fuzzy-mapping targets (FIXTURES.md section 4)
INGEST_TARGETS = {
    "user_id": "patient email",
    "timestamp": "start time timestamp date",
    "heart_rates": "heart rate bpm",
    "calories": "calorie burn",
}
SIGNALS = ["heart_rates", "calories"]
SIGNAL_COLUMN = {"heart_rates": "Heart Rate (bpm)", "calories": "calorie_burn"}
# cohort of the read-after-write KPI: every third subject
COHORT = [f"user{u:04d}@example.org" for u in range(0, 60, 3)]


def _nproc() -> int:
    return len(os.sched_getaffinity(0))


def _cpu_stat() -> tuple[int, int]:
    with open("/proc/stat") as f:
        vals = [int(x) for x in f.readline().split()[1:]]
    return sum(vals), vals[7] if len(vals) > 7 else 0


def _loadavg() -> float:
    with open("/proc/loadavg") as f:
        return float(f.read().split()[0])


def _probe(spark, cpus: int) -> float:
    """Fixed CPU work on every core: min of three timings."""
    best = float("inf")
    for _ in range(3):
        t = time.perf_counter()
        spark.range(0, cpus * 4_000_000, numPartitions=cpus).selectExpr("sum(hash(id))").collect()
        best = min(best, time.perf_counter() - t)
    return best


def _peak_rss_mb(spark) -> tuple[float, float]:
    """Peak RSS in MB of the driver JVM and of this process."""
    pid = spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()
    jvm_kb = 0
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                jvm_kb = int(line.split()[1])
    return jvm_kb / 1024.0, resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024.0


class Workload:
    """Distinct ops of one workload, their execution and their checks."""

    def __init__(self, name: str, inputs: dict, tracer, table_root: str):
        self.name = name
        self.inputs = inputs
        self.tracer = tracer
        self.table_root = table_root  # ingest: one directory per table set
        self.uploads = sorted(inputs["files"]) if name == "ingest" else []
        self.table_set = ""  # ingest: the set the next upload writes into
        self.uploaded = 0  # ingest: uploads written into the current set
        self.sets: dict[str, int] = {}  # ingest: uploads written per set
        self.bad: list[str] = []  # one entry per checked result that was wrong
        self.check_errors: list[str] = []
        self.kept: list[tuple[str, object]] = []  # (op, result) to check
        self.rows_out: dict[str, int] = {}
        self.extra: dict = {}

    def round(self) -> list[str]:
        if self.name == "ingest":
            return ["upload"] * len(self.uploads)
        return list(ROUNDS[self.name])

    def distinct_ops(self) -> list[str]:
        return list(dict.fromkeys(self.round()))

    def new_table_set(self, name: str) -> None:
        """Send the next uploads, from the first one on, into fresh tables."""
        self.table_set, self.uploaded = name, 0

    # -- registry workloads -------------------------------------------------
    def run_registry(self, spark, op: str, keep: bool):
        from w4h_integrated_toolkit_spark.plans import QUERIES

        fn = QUERIES[op][0]
        layer = "streaming.replay" if op in REPLAY_OPS else "plans.build"
        with self.tracer.span(layer):
            df = fn(spark, self.inputs["dir"])
        with self.tracer.span("operators.exec"):
            df.write.format("noop").mode("overwrite").save()
        if keep:  # once more, collected for the checks
            rows = df.collect()
            self.kept.append((op, (df.columns, [tuple(r) for r in rows])))
            self.rows_out[op] = len(rows)

    # -- ingest ---------------------------------------------------------------
    def run_upload(self, spark):
        from pyspark.sql import functions as F

        from w4h_integrated_toolkit_spark.operators.cohort import cohort_semi_join
        from w4h_integrated_toolkit_spark.operators.etl import fuzzy_map_columns, ingest_fact, melt, merge_upsert
        from w4h_integrated_toolkit_spark.operators.kpi import signal_stats
        from w4h_integrated_toolkit_spark.sources import read_csv

        i = self.uploaded
        path = self.inputs["files"][self.uploads[i]]
        tables = os.path.join(self.table_root, self.table_set)
        with self.tracer.span("sources.read_csv"):
            wide = read_csv(spark, path)
        with self.tracer.span("operators.etl_build"):
            mapping = fuzzy_map_columns(wide.columns, INGEST_TARGETS)
            canon = wide.select(
                wide[mapping["user_id"]].alias("user_id"),
                F.to_timestamp(wide[mapping["timestamp"]]).alias("timestamp"),
                *[wide[mapping[s]].alias(s) for s in SIGNALS],
            )
            narrow = melt(canon, ["user_id", "timestamp"], SIGNALS)
            facts = {s: ingest_fact(narrow.filter(F.col("feature") == s).drop("feature")) for s in SIGNALS}
        before = self._table_files(tables) if self.tracer.enabled else set()
        with self.tracer.span("operators.merge_upsert", input_bytes=os.path.getsize(path)) as sp:
            for s, df in facts.items():
                merge_upsert(spark, os.path.join(tables, s), df)
        if sp is not None:
            sp["files_written"] = len(self._table_files(tables) - before)
        with self.tracer.span("plans.readback"):
            cohort = spark.createDataFrame([(u,) for u in COHORT], "user_id string")
            facts_hr = spark.read.parquet(os.path.join(tables, "heart_rates"))
            kpi = signal_stats(cohort_semi_join(facts_hr, cohort)).collect()[0]
        self.uploaded += 1
        self.sets[self.table_set] = self.uploaded
        # every read-back is checked: it is the user-visible result of the op
        self.kept.append(("upload", (i, tuple(kpi))))

    @staticmethod
    def _table_files(root: str) -> set[str]:
        # a rewritten partition gets new part-file names, so new paths are
        # exactly the files a merge wrote
        return {os.path.join(d, f) for d, _, fs in os.walk(root) for f in fs if f.endswith(".parquet")}

    def run(self, spark, op: str, keep: bool):
        if self.name == "ingest":
            self.run_upload(spark)
        else:
            self.run_registry(spark, op, keep)

    # -- checks ---------------------------------------------------------------
    def check(self, spark) -> None:
        import duckdb

        con = duckdb.connect()
        try:
            if self.name == "ingest":
                self._check_ingest(spark, con)
            else:
                self._check_registry(con)
        finally:
            con.close()

    def _fail(self, op: str, msg: str) -> None:
        self.bad.append(op)
        self.check_errors.append(f"{op}: {msg}")

    def failed_executions(self, done: dict[str, int]) -> int:
        """Executions to count as failed by the checks, given the executions
        that did not raise per op. A registry op is a pure function of the
        inputs, so a wrong checked result makes every execution of it wrong
        too; an ingest result is checked per execution."""
        if self.name == "ingest":
            return len(self.bad)
        return sum(done.get(op, 0) for op in set(self.bad))

    def _check_registry(self, con) -> None:
        from tests.test_parity import _canon

        from w4h_integrated_toolkit_spark.plans import QUERIES

        for t, p in self.inputs["files"].items():
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
        oracle = {}
        for op, (cols, rows) in self.kept:
            if op not in oracle:
                rel = con.sql(QUERIES[op][1])
                oracle[op] = (list(rel.columns), rel.fetchall())
            d_cols, d_rows = oracle[op]
            if sorted(cols) != sorted(d_cols):
                self._fail(op, f"columns {sorted(cols)} != oracle {sorted(d_cols)}")
            elif len(rows) != len(d_rows):
                self._fail(op, f"{len(rows)} rows != oracle {len(d_rows)}")
            elif _canon(rows, cols) != _canon(d_rows, d_cols):
                self._fail(op, "values differ from the oracle")

    def _load_uploads(self, con) -> None:
        """Every upload of a round into one DuckDB table, tagged with its index."""
        paths = [self.inputs["files"][n] for n in self.uploads]
        files = ", ".join(f"('{p}', {i})" for i, p in enumerate(paths))
        cols = ", ".join(f'CAST(r."{c}" AS DOUBLE) AS {s}' for s, c in SIGNAL_COLUMN.items())
        con.execute(
            f"""CREATE TABLE raw AS
                SELECT r."Patient Email" AS user_id,
                       strptime(r."Start_Time", '%Y-%m-%d %H:%M:%S') AS ts, {cols}, f.idx
                FROM read_csv([{", ".join(f"'{p}'" for p in paths)}],
                              header = true, all_varchar = true, filename = true) r
                JOIN (VALUES {files}) f(fname, idx) ON r.filename = f.fname"""
        )

    @staticmethod
    def _latest_wins_sql(signal: str, last: int) -> str:
        return f"""
            SELECT user_id, ts, {signal} AS value FROM raw WHERE idx <= {last}
            QUALIFY row_number() OVER (PARTITION BY user_id, ts ORDER BY idx DESC) = 1"""

    def _check_ingest(self, spark, con) -> None:
        import math

        if not self.sets:
            return
        self._load_uploads(con)
        cohort = ", ".join(f"'{u}'" for u in COHORT)
        want_kpi: dict[int, tuple] = {}  # every table set gets the same uploads
        for op, (i, got) in self.kept:
            if i not in want_kpi:
                want_kpi[i] = con.sql(
                    f"""SELECT max(value), min(value), avg(value), stddev_samp(value), count(value)
                        FROM ({self._latest_wins_sql("heart_rates", i)}) WHERE user_id IN ({cohort})"""
                ).fetchone()
            want = want_kpi[i]
            exact = got[0] == want[0] and got[1] == want[1] and got[4] == want[4]
            close = all(math.isclose(a, b, rel_tol=1e-9) for a, b in zip(got[2:4], want[2:4]))
            if not (exact and close):
                self._fail(op, f"read-back after upload {i}: {got} != {want}")
        # the final fact tables of every set against latest-wins dedup over
        # the uploads it got
        for name, n in self.sets.items():
            tables = os.path.join(self.table_root, name)
            rows = 0
            for s in SIGNALS:
                got = (
                    spark.read.parquet(os.path.join(tables, s))
                    .selectExpr("user_id", "CAST(timestamp AS STRING) AS ts", "value")
                    .toPandas()
                    .sort_values(["user_id", "ts"])
                    .reset_index(drop=True)
                )
                want = (
                    con.sql(f"SELECT user_id, strftime(ts, '%Y-%m-%d %H:%M:%S') AS ts, value FROM ({self._latest_wins_sql(s, n - 1)})")
                    .df()
                    .sort_values(["user_id", "ts"])
                    .reset_index(drop=True)
                )
                if not got.equals(want):
                    self._fail("upload", f"final {s} table of {name} ({len(got)} rows) != latest-wins oracle ({len(want)} rows)")
                rows += len(got)
            # table bytes per live row, of the last set written
            self.extra["table_rows"] = rows
            self.extra["table_bytes"] = sum(os.path.getsize(f) for f in self._table_files(tables))


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(ROUNDS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args(argv)

    if not os.path.isdir(os.path.join(ROOT, "w4h_integrated_toolkit_spark")):
        print(f"perfbench: the engine package is not in {ROOT}; run from a full checkout", file=sys.stderr)
        return 2

    run_dir = os.environ.get(RUN_DIR_ENV)
    if run_dir is None:
        return _supervise(sys.argv[1:] if argv is None else argv)
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    # keep every scratch file of the engine inside the checkout
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(run_dir, "local")
    os.environ["W4H_EPHEMERAL_CKPT"] = tmp
    sys.path.insert(0, ROOT)
    sys.path.insert(0, HERE)
    return _run(args, run_dir)


# -- process supervision --------------------------------------------------
# The measuring process starts the driver JVM (spark-submit), which starts
# the pyspark daemon and its Python workers. None of them is stopped by
# spark.stop(): the JVM exits only once it sees its gateway's stdin close,
# after the measuring process has gone. So the run happens in a child in a
# session of its own, and this process outlives it until no process of that
# session is left.
RUN_DIR_ENV = "PERFBENCH_RUN_DIR"
CHILD_TIMEOUT_S = 160  # the run, its clean-up included, must end within 180 s
EXIT_GRACE_S = 10  # for the JVM and workers to exit on their own (~0.5 s)
TERM_GRACE_S = 5  # between SIGTERM and SIGKILL
PR_SET_CHILD_SUBREAPER = 36


def _supervise(argv: list[str]) -> int:
    """Run the benchmark in a child session, then stop what it left."""
    import signal
    import subprocess

    _become_subreaper()

    def stop(signum, _frame):
        raise SystemExit(128 + signum)

    signal.signal(signal.SIGTERM, stop)
    signal.signal(signal.SIGHUP, stop)
    run_dir = os.path.join(WORK, f"run-{os.getpid()}")
    env = dict(os.environ, **{RUN_DIR_ENV: run_dir})
    child = subprocess.Popen([sys.executable, os.path.abspath(__file__), *argv], env=env, start_new_session=True)
    grace = 0.0  # stopped early: signal the session at once
    try:
        rc = child.wait(timeout=CHILD_TIMEOUT_S)
        grace = EXIT_GRACE_S
        return rc
    except subprocess.TimeoutExpired:
        print(f"perfbench: the run took more than {CHILD_TIMEOUT_S} s", file=sys.stderr)
        return 1
    finally:
        # a signal now must not cut the clean-up short
        signal.signal(signal.SIGTERM, signal.SIG_IGN)
        signal.signal(signal.SIGHUP, signal.SIG_IGN)
        left = _end_session(child.pid, grace)
        if left:
            print(f"perfbench: stopped {left} process(es) still running after the run", file=sys.stderr)
        shutil.rmtree(run_dir, ignore_errors=True)


def _become_subreaper() -> None:
    """Orphans of this process's descendants (the JVM, once the measuring
    process has exited) become its children, so it can wait for them."""
    import ctypes

    ctypes.CDLL(None, use_errno=True).prctl(PR_SET_CHILD_SUBREAPER, 1, 0, 0, 0)


def _session_pids(sid: int) -> list[int]:
    """Processes of session ``sid``, zombies included."""
    pids = []
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                stat = f.read()
        except OSError:  # it ended meanwhile
            continue
        # fields after "(comm)": state ppid pgrp session ...
        if int(stat[stat.rindex(")") + 2 :].split()[3]) == sid:
            pids.append(int(d))
    return pids


def _reap() -> None:
    while True:
        try:
            pid, _ = os.waitpid(-1, os.WNOHANG)
        except ChildProcessError:
            return
        if pid == 0:
            return


def _end_session(sid: int, grace: float) -> int:
    """Wait until no process of session ``sid`` is left: first up to
    ``grace`` seconds for them to exit on their own, then after SIGTERM,
    then after SIGKILL. Returns how many had to be signalled."""
    import signal

    start = time.monotonic()
    signalled: set[int] = set()
    sig = None
    while True:
        _reap()
        pids = _session_pids(sid)
        if not pids:
            return len(signalled)
        waited = time.monotonic() - start
        want = None
        if waited > grace + TERM_GRACE_S:
            want = signal.SIGKILL
        elif waited >= grace:
            want = signal.SIGTERM
        if want is not None and want != sig:
            sig = want
            for pid in pids:
                try:
                    os.kill(pid, sig)
                    signalled.add(pid)
                except ProcessLookupError:
                    pass
        if waited > grace + TERM_GRACE_S + 10:
            # only zombies of a parent outside this process tree are left
            return len(signalled)
        time.sleep(0.05)


def _run(args, run_dir: str) -> int:
    import gen
    from tracing import PER_LAYER, Tracer, event_log_files, layer_metrics, parse_event_logs

    from w4h_integrated_toolkit_spark.session import get_spark

    cpus = _nproc()
    t_begin = time.perf_counter()
    inputs = gen.make_inputs(args.workload, args.seed, os.path.join(WORK, "inputs"))
    print("inputs: " + json.dumps({"dir": os.path.relpath(inputs["dir"], ROOT), "rows": inputs["rows"] if args.workload != "ingest" else sum(inputs["rows"].values()), "sha256": inputs["digests"]}, sort_keys=True))

    tracer = Tracer(bool(args.trace))
    wl = Workload(args.workload, inputs, tracer, os.path.join(run_dir, "tables"))
    evdir = os.path.join(run_dir, "eventlog")
    conf = {
        "spark.sql.warehouse.dir": os.path.join(run_dir, "warehouse"),
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={os.environ['TMPDIR']} -Dderby.system.home={run_dir}",
    }
    if args.trace:
        os.makedirs(evdir, exist_ok=True)
        conf.update(
            {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": "file://" + evdir,
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
            }
        )

    t_inputs = time.perf_counter() - t_begin
    cpu0, steal0 = _cpu_stat()
    load_start = _loadavg()
    attempted = failed = 0
    errors: list[str] = []
    done: dict[str, int] = {}  # executions that did not raise, per op
    ops = wl.distinct_ops()

    def attempt(spark, op: str, keep: bool, **attrs) -> float | None:
        nonlocal attempted, failed
        attempted += 1
        t = time.perf_counter()
        try:
            with tracer.span("op", op=op, **attrs):
                wl.run(spark, op, keep)
        except Exception as e:  # a failing op is counted, and the run goes on
            failed += 1
            errors.append(f"{op}: {type(e).__name__}: {str(e).splitlines()[0][:300]}")
            return None
        d = time.perf_counter() - t
        done[op] = done.get(op, 0) + 1
        return d

    # set-up: start the session, then run every distinct op the way the
    # timed region runs it, keeping its first result for the checks; ingest
    # runs the first uploads into tables of their own, so both the create
    # and the merge path have run
    t = time.perf_counter()
    with tracer.span("setup", phase="setup"):
        with tracer.span("session.start"):
            spark = get_spark(f"perfbench-{args.workload}", cpus=cpus, driver_memory=DRIVER_MEMORY, extra_conf=conf)
        spark.range(1).write.format("noop").mode("overwrite").save()
        wl.new_table_set("setup")
        if wl.name == "ingest":
            setup_lat = [attempt(spark, op, keep=True) for op in ops * INGEST_WARM_UPLOADS]
        else:
            setup_lat = [attempt(spark, op, keep=p == 0) for p in range(WARM_PASSES) for op in ops]
    setup_s = time.perf_counter() - t

    probe_before = _probe(spark, cpus)
    rng = random.Random(args.seed)
    lat: list[float] = []
    rounds = 0
    t0 = time.perf_counter()
    while rounds == 0 or time.perf_counter() - t0 < args.seconds:
        rounds += 1
        wl.new_table_set(f"round{rounds}")
        order = wl.round()
        if wl.name != "ingest":  # uploads go in day order
            rng.shuffle(order)
        for op in order:
            d = attempt(spark, op, keep=False, phase="timed")
            if d is not None:
                lat.append(d)
    wall = time.perf_counter() - t0
    probe_after = _probe(spark, cpus)
    rss_jvm, rss_py = _peak_rss_mb(spark)
    cpu1, steal1 = _cpu_stat()
    load_end = _loadavg()

    t = time.perf_counter()
    wl.check(spark)
    t_check = time.perf_counter() - t
    spark.stop()
    failed += wl.failed_executions(done)
    errors.extend(wl.check_errors)

    context = {
        "nproc": cpus,
        "loadavg_start": load_start,
        "loadavg_end": load_end,
        "steal_frac": (steal1 - steal0) / max(1, cpu1 - cpu0),
        "probe_s_before": probe_before,
        "probe_s_after": probe_after,
        "rounds": rounds,
        "timed_ops": len(lat),
        "op_p50_s": statistics.median(lat) if lat else 0.0,
        "latencies_s": lat,
        "setup_ops_s": setup_lat,
        "timed_wall_s": wall,
        "inputs_s": t_inputs,
        "rss_jvm_mb": rss_jvm,
        "rss_py_mb": rss_py,
        "check_s": t_check,
    }
    print("context: " + json.dumps(context))
    for e in errors:
        print("defect: " + e)

    e2e = {
        "op_gmean_s": math.exp(statistics.fmean(map(math.log, lat))) if lat else 0.0,
        "ops_per_s": len(lat) / wall,
        "setup_s": setup_s,
    }
    if args.trace:
        logs = event_log_files(evdir)
        parsed = parse_event_logs(logs)
        extra = dict(wl.extra, rows_out=wl.rows_out, state_kind={op: k for k, ops in REPLAY_KINDS.items() for op in ops},
                     op_gmean_s=e2e["op_gmean_s"], ops_per_s=e2e["ops_per_s"])
        lm = layer_metrics(tracer.spans, parsed, cpus, extra)
        with open(os.path.join(WORK, f"spans-{args.workload}-{args.seed}.json"), "w") as f:
            json.dump(tracer.spans, f)
        metrics = {n: {"value": lm[n], "unit": u} for n, u in PER_LAYER}
    else:
        metrics = {n: {"value": e2e[n], "unit": u} for n, u in END_TO_END}
    for n, v in metrics.items():
        print(f"metric {n} = {v['value']} {v['unit']}")
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed, "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
