#!/usr/bin/env python3
"""Steadiness check: repeat each workload with different seeds and report,
per metric, the median, the quartiles and the spread (the distance between
the first and third quartile, as a share of the median), next to the
metric's bound from BENCHMARK.json.

    python3 perfbench/steady.py --runs 10 [--workloads a,b] [--trace 0|1]
        [--overhead] [--seed0 100] [--out results.json]

Run from the repository root. A spread above a third of the bound is
flagged. With --overhead every seed also runs traced, and the report adds
the tracing overhead (traced against untraced end-to-end figures of the
same seed) and the median of every per-layer figure. --out keeps every
run's full report as JSON.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def run_once(workload, seed, seconds, trace):
    """One run.py run: its printed result, plus its full report and wall time."""
    report = os.path.join(ROOT, ".perfbench-work", f"steady-{os.getpid()}.json")
    t0 = time.time()
    p = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
         "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace),
         "--report", report],
        cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True)
    wall = time.time() - t0
    lines = p.stdout.strip().splitlines()
    try:
        res = json.loads(lines[-1])
        with open(report) as f:
            res["report"] = json.load(f)
    except (IndexError, OSError, json.JSONDecodeError):
        sys.stderr.write(p.stderr[-3000:])
        res = {"correct": False, "attempted": 0, "failed": 0, "metrics": {}, "report": {}}
    for f in (report, report + ".spans.jsonl"):
        if os.path.exists(f):
            os.remove(f)
    res["wall_s"] = wall
    res["exit"] = p.returncode
    return res


def summarize(values):
    q1, med, q3 = statistics.quantiles(values, n=4) if len(values) > 1 else (values[0],) * 3
    return med, q1, q3, (q3 - q1) / med if med else float("inf")


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--workloads")
    ap.add_argument("--trace", type=int, default=0)
    ap.add_argument("--overhead", action="store_true")
    ap.add_argument("--seed0", type=int, default=100)
    ap.add_argument("--out")
    a = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    names = a.workloads.split(",") if a.workloads else [w["name"] for w in spec["workloads"]]
    metrics = spec["per_layer"] if a.trace else spec["end_to_end"]
    report = {}
    for w in names:
        runs, traced = [], []
        for i in range(a.runs):
            r = run_once(w, a.seed0 + i, spec["run_seconds"], a.trace)
            runs.append(r)
            if a.overhead:  # the traced run of the same seed, right after
                traced.append(run_once(w, a.seed0 + i, spec["run_seconds"], 1))
            steal = r["report"].get("info", {}).get("timed.steal_share")
            print(f"{w} seed={a.seed0 + i} wall={r['wall_s']:.1f}s correct={r['correct']} "
                  f"failed={r['failed']}/{r['attempted']} steal={steal} " +
                  " ".join(f"{k}={v['value']:.4g}" for k, v in r["metrics"].items()),
                  flush=True)
        report[w] = {"runs": runs, "metrics": {}}
        if a.overhead:
            report[w]["traced_runs"] = traced
            over = {}
            for m in ("throughput_per_s", "op_ms_p50"):
                ratios = [t["report"]["metrics"][m] / u["report"]["metrics"][m]
                          for t, u in zip(traced, runs) if t["report"] and u["report"]]
                over[m] = statistics.median(ratios) - 1 if ratios else None
            layers = {}
            for t in traced:
                for k, v in t["report"].get("layers", {}).items():
                    layers.setdefault(k, []).append(v)
            report[w]["tracing_overhead"] = over
            report[w]["layers"] = {k: statistics.median(v) for k, v in layers.items()}
            print(f"== {w}: tracing overhead (traced/untraced - 1, median over seeds): " +
                  ", ".join(f"{k} {v:+.3f}" for k, v in over.items() if v is not None))
            for k, v in report[w]["layers"].items():
                print(f"   layer {k:34s} {v:14.3f}")
        print(f"== {w}: wall median {statistics.median(r['wall_s'] for r in runs):.1f} s, "
              f"{sum(r['correct'] for r in runs)}/{len(runs)} correct")
        for m in metrics:
            vals = [r["metrics"][m["name"]]["value"] for r in runs if m["name"] in r["metrics"]]
            if not vals:
                continue
            med, q1, q3, spread = summarize(vals)
            bound = m.get("bound")
            flag = "" if bound is None or spread < bound / 3 else "  <-- above bound/3"
            report[w]["metrics"][m["name"]] = {"median": med, "q1": q1, "q3": q3,
                                               "spread": spread, "bound": bound}
            print(f"   {m['name']:22s} median {med:12.4f} {m['unit']:6s} q1 {q1:12.4f} "
                  f"q3 {q3:12.4f} spread {spread:.4f}"
                  + (f" (bound {bound})" if bound is not None else "") + flag, flush=True)
    if a.out:
        os.makedirs(os.path.dirname(os.path.abspath(a.out)), exist_ok=True)
        with open(a.out, "w") as f:
            json.dump(report, f, indent=1)


if __name__ == "__main__":
    main()
