#!/usr/bin/env python3
"""Spread report: run every workload over a range of seeds, one run at a
time, and report for every metric the median, the quartiles and the spread
(interquartile range as a share of the median), the figure the benchmark's
bounds are set from.

    python3 perfbench/spread.py --seeds 1-10 --sets 2 --out perfbench/results/spread.json

With `--sets 2` the seeds run twice (set 1, then set 2, same code) and the
report also checks that the second set's median of every end-to-end metric
is not worse than the first's by more than the metric's bound.

    python3 perfbench/spread.py --traced --seeds 1 --out perfbench/results/traced.json

runs each workload once untraced and once traced on the same seed and
records the per-layer metrics, the spans and jobs of the traced run, and the
tracing overhead (traced makespan minus untraced makespan).
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


def load_spec():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def seeds_of(text):
    out = []
    for part in text.split(","):
        if "-" in part:
            a, b = part.split("-")
            out.extend(range(int(a), int(b) + 1))
        else:
            out.append(int(part))
    return out


def run(workload, seed, seconds, trace, trace_out=None):
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)]
    if trace_out:
        cmd += ["--trace-out", trace_out]
    t0 = time.time()
    p = subprocess.run(cmd, cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True)
    wall = time.time() - t0
    lines = p.stdout.strip().splitlines()
    if p.returncode != 0 or not lines:
        sys.stderr.write(p.stderr[-4000:])
        raise SystemExit(f"{workload} seed {seed}: run failed (exit {p.returncode})")
    result = json.loads(lines[-1])
    report = {}
    for l in lines[:-1]:
        f = l.split()
        if len(f) >= 4:
            report[f[1]] = float(f[2])
    return {"seed": seed, "wall_s": wall, "result": result, "report": report}


def summarize(values):
    q1, med, q3 = statistics.quantiles(values, n=4) if len(values) > 1 else (values[0],) * 3
    return {"median": med, "q1": q1, "q3": q3,
            "spread": (q3 - q1) / med if med else None, "n": len(values)}


def spread_mode(a, spec):
    seeds = seeds_of(a.seeds)
    workloads = a.workloads.split(",") if a.workloads else [w["name"] for w in spec["workloads"]]
    bounds = {m["name"]: m for m in spec["end_to_end"]}
    sets = []
    for s in range(a.sets):
        runs = {w: [] for w in workloads}
        for seed in seeds:
            for w in workloads:
                r = run(w, seed, spec["run_seconds"], 0)
                runs[w].append(r)
                ok = r["result"]["correct"] and r["result"]["failed"] == 0
                print(f"set {s + 1} {w:12s} seed {seed:3d} wall {r['wall_s']:6.1f}s "
                      f"makespan {r['result']['metrics']['makespan_s']['value']:8.3f}s "
                      f"{'ok' if ok else 'FAILED'}", flush=True)
        sets.append(runs)
    report = {"seeds": seeds, "run_seconds": spec["run_seconds"], "sets": []}
    for runs in sets:
        per = {}
        for w, rs in runs.items():
            metrics = {}
            for name in bounds:
                metrics[name] = summarize([r["result"]["metrics"][name]["value"] for r in rs])
            extra = {}
            for name in rs[0]["report"]:
                if name not in bounds:
                    extra[name] = summarize([r["report"][name] for r in rs])
            per[w] = {"all_correct": all(r["result"]["correct"] and r["result"]["failed"] == 0
                                         for r in rs),
                      "wall_s": summarize([r["wall_s"] for r in rs]),
                      "metrics": metrics, "report": extra,
                      "runs": [{"seed": r["seed"], "wall_s": r["wall_s"],
                                "metrics": {k: v["value"] for k, v in
                                            r["result"]["metrics"].items()}} for r in rs]}
        report["sets"].append(per)
    # bound checks: each spread within its bound, and the second set's median
    # not worse than the first's by more than the bound. The acceptance rule
    # exempts the spread of setup_s (JVM start and cold JIT, paid once per
    # process), so that one check is reported but marked not required.
    checks = []
    for w in sets[0]:
        for name, m in bounds.items():
            first = report["sets"][0][w]["metrics"][name]
            for i, st in enumerate(report["sets"]):
                sp = st[w]["metrics"][name]["spread"]
                checks.append({"workload": w, "metric": name, "set": i + 1, "check": "spread",
                               "value": sp, "bound": m["bound"], "ok": sp <= m["bound"],
                               "required": name != "setup_s",
                               "below_third": sp < m["bound"] / 3})
            if len(report["sets"]) > 1:
                second = report["sets"][1][w]["metrics"][name]
                worse = ((second["median"] - first["median"]) / first["median"]
                         if m["better"] == "lower" else
                         (first["median"] - second["median"]) / first["median"])
                checks.append({"workload": w, "metric": name, "check": "second_vs_first",
                               "value": worse, "bound": m["bound"], "ok": worse <= m["bound"]})
    report["checks"] = checks
    report["all_ok"] = all(c["ok"] for c in checks if c.get("required", True)) and all(
        st[w]["all_correct"] for st in report["sets"] for w in st)
    total = sum(r["wall_s"] for runs in sets for rs in runs.values() for r in rs)
    report["mean_wall_per_run_s"] = total / sum(len(rs) for runs in sets for rs in runs.values())
    return report


def traced_mode(a, spec):
    seed = seeds_of(a.seeds)[0]
    out_dir = os.path.dirname(os.path.abspath(a.out))
    report = {"seed": seed, "workloads": {}}
    workloads = a.workloads.split(",") if a.workloads else [x["name"] for x in spec["workloads"]]
    for w in workloads:
        plain = run(w, seed, spec["run_seconds"], 0)
        trace_file = os.path.join(out_dir, f"trace_{w}.json")
        traced = run(w, seed, spec["run_seconds"], 1, trace_out=trace_file)
        m = traced["result"]["metrics"]
        untraced = plain["result"]["metrics"]["makespan_s"]["value"]
        report["workloads"][w] = {
            "correct": traced["result"]["correct"] and plain["result"]["correct"],
            "untraced_makespan_s": untraced,
            "traced_makespan_s": m["trace.makespan_s"]["value"],
            "tracing_overhead_s": m["trace.makespan_s"]["value"] - untraced,
            "unattributed_s": m["trace.unattributed_s"]["value"],
            "per_layer": traced["report"],
            "trace_file": os.path.basename(trace_file)}
        print(f"{w:12s} untraced {untraced:8.3f}s traced {m['trace.makespan_s']['value']:8.3f}s",
              flush=True)
    return report


def main():
    p = argparse.ArgumentParser()
    p.add_argument("--seeds", default="1-10")
    p.add_argument("--sets", type=int, default=1)
    p.add_argument("--workloads", help="comma-separated workloads (default: those of "
                   "BENCHMARK.json)")
    p.add_argument("--traced", action="store_true")
    p.add_argument("--out", required=True)
    a = p.parse_args()
    spec = load_spec()
    report = traced_mode(a, spec) if a.traced else spread_mode(a, spec)
    with open(a.out, "w") as f:
        json.dump(report, f, indent=1, sort_keys=True)
    if not a.traced:
        for c in report["checks"]:
            flag = "ok " if c["ok"] else "BAD" if c.get("required", True) else "bad (not required)"
            print(f"{flag} {c['workload']:12s} {c['metric']:18s} {c['check']:16s} "
                  f"{c.get('set', '')} {c['value']:.4f} (bound {c['bound']})")
        print(f"mean wall per run {report['mean_wall_per_run_s']:.1f}s; all ok: {report['all_ok']}")


if __name__ == "__main__":
    main()
