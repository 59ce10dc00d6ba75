"""Summarize saved stdout files of ``run.py`` into a markdown capture.

    python3 perfbench/summarize.py --jsonl perfbench/results/runs.jsonl OUT... > capture.md

Each ``OUT`` is the whole stdout of one run. The workload and seed come from
the run's ``inputs:`` line, and whether it was traced comes from its metric
names. Untraced runs give, per workload, the median and the quartile spread
(IQR / median, as ``statistics.quantiles(values, n=4)`` gives the quartiles)
of every end-to-end metric against its bound. Traced runs give the per-layer
table and the tracing overhead: traced vs untraced median ``op_gmean_s`` and
``ops_per_s``.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import sys

HERE = os.path.dirname(os.path.abspath(__file__))


def load(path: str) -> dict:
    rec: dict = {}
    with open(path) as f:
        lines = f.read().strip().splitlines()
    for line in lines:
        if line.startswith("inputs: "):
            d = json.loads(line[len("inputs: "):])["dir"]
            workload, seed = os.path.basename(d).split("-")[:2]
            rec["workload"], rec["seed"] = workload, int(seed)
        elif line.startswith("context: "):
            rec["context"] = json.loads(line[len("context: "):])
    rec["result"] = json.loads(lines[-1])
    rec["trace"] = int("trace.op_gmean_s" in rec["result"]["metrics"])
    return rec


def spread(xs: list[float]) -> float:
    q = statistics.quantiles(xs, n=4)
    return (q[2] - q[0]) / statistics.median(xs)


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--jsonl", help="also write one JSON record per run here")
    ap.add_argument("outs", nargs="+")
    args = ap.parse_args()
    recs = [load(p) for p in args.outs]
    if args.jsonl:
        with open(args.jsonl, "w") as f:
            for r in sorted(recs, key=lambda r: (r["workload"], r["trace"], r["seed"])):
                f.write(json.dumps(r, sort_keys=True) + "\n")
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
        spec = json.load(f)
    workloads = [w["name"] for w in spec["workloads"] if any(r["workload"] == w["name"] for r in recs)]
    out = sys.stdout.write

    out("## End-to-end (untraced runs)\n\n| workload | metric | unit | n | median | IQR/median | bound | bound/3 |\n|---|---|---|---|---|---|---|---|\n")
    untraced: dict = {}
    for w in workloads:
        runs = [r for r in recs if r["workload"] == w and not r["trace"]]
        bad = [r["seed"] for r in runs if not r["result"]["correct"]]
        for m in spec["end_to_end"]:
            xs = [r["result"]["metrics"][m["name"]]["value"] for r in runs]
            if len(xs) < 2:
                continue
            untraced[(w, m["name"])] = statistics.median(xs)
            s = spread(xs)
            ok = "yes" if s < m["bound"] / 3 else "no"
            out(f"| {w} | {m['name']} | {m['unit']} | {len(xs)} | {statistics.median(xs):.4g} | {s:.3f} | {m['bound']} | {ok} |\n")
        if bad:
            out(f"| {w} | incorrect runs (seeds) | | {len(bad)} | {bad} | | | |\n")

    traced = [r for r in recs if r["trace"]]
    if traced:
        out("\n## Per-layer (traced runs)\n\n| metric | unit | " + " | ".join(workloads) + " |\n|---|---|" + "---|" * len(workloads) + "\n")
        by_w = {w: [r for r in traced if r["workload"] == w] for w in workloads}
        for m in spec["per_layer"]:
            cells = []
            for w in workloads:
                xs = [r["result"]["metrics"][m["name"]]["value"] for r in by_w[w]]
                cells.append(f"{statistics.median(xs):.4g}" if xs else "")
            out(f"| {m['name']} | {m['unit']} | " + " | ".join(cells) + " |\n")
        out("\n## Tracing overhead (traced median vs untraced median)\n\n| workload | metric | untraced | traced | traced / untraced |\n|---|---|---|---|---|\n")
        for w in workloads:
            for e2e, tr in (("op_gmean_s", "trace.op_gmean_s"), ("ops_per_s", "trace.ops_per_s")):
                xs = [r["result"]["metrics"][tr]["value"] for r in by_w[w]]
                if xs and (w, e2e) in untraced:
                    t, u = statistics.median(xs), untraced[(w, e2e)]
                    out(f"| {w} | {e2e} | {u:.4g} | {t:.4g} | {t / u:.3f} |\n")
    return 0


if __name__ == "__main__":
    sys.exit(main())
