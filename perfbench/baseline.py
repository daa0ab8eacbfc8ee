#!/usr/bin/env python3
"""Baseline record: every workload of BENCHMARK.json in two sets of ten
untraced runs (seeds 1-10 and 11-20) and once traced, summarised per set and
metric (median, quartiles, spread = IQR/median), with whether the two sets
agree within each metric's bound, the tracing overhead and the machine.

usage (from the repository root):
  python3 perfbench/baseline.py [--label TEXT]
                                [--out perfbench/baseline/BASELINE.json]
"""
import argparse
import json
import os
import platform
import statistics
import subprocess
import sys
import time

SEED_SETS = (range(1, 11), range(11, 21))


def run(workload, seed, seconds, trace):
    cmd = [sys.executable, "perfbench/run.py", "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)]
    t0 = time.time()
    p = subprocess.run(cmd, stdout=subprocess.PIPE, text=True)
    lines = p.stdout.strip().splitlines()
    result = json.loads(lines[-1]) if lines else None
    rdir = os.path.join(".bench_out", f"{workload}-s{seed}-t{trace}")
    with open(os.path.join(rdir, "report.json")) as f:
        report = json.load(f)
    return p.returncode, result, report, time.time() - t0


def summary(values):
    q1, med, q3 = statistics.quantiles(values, n=4)
    median = statistics.median(values)
    return {"median": median, "q1": q1, "q3": q3,
            "spread": (q3 - q1) / median if median else None,
            "values": values}


def machine():
    model = ""
    with open("/proc/cpuinfo") as f:
        for line in f:
            if line.startswith("model name"):
                model = line.split(":", 1)[1].strip()
                break
    with open("/proc/meminfo") as f:
        mem_kb = int(f.readline().split()[1])
    return {"nproc": len(os.sched_getaffinity(0)), "cpu": model,
            "mem_gb": round(mem_kb / 2**20, 1), "python": platform.python_version()}


def run_set(w, seeds, seconds):
    """Untraced runs of one workload: (all correct, summary of the set)."""
    ok, values, walls = True, {}, []
    for s in seeds:
        rc, result, report, wall = run(w, s, seconds, 0)
        ok &= rc == 0 and bool(result and result["correct"])
        walls.append(wall)
        for k, v in result["metrics"].items():
            values.setdefault(k, []).append(v["value"])
        print(f"{w} seed {s}: " + json.dumps(
            {k: round(v["value"], 3) for k, v in result["metrics"].items()}),
            file=sys.stderr, flush=True)
    return ok, {"seeds": list(seeds), "master": report["master"],
                "heap_max_mb": report["heap_max_mb"], "run_wall_s": summary(walls),
                "end_to_end": {k: summary(v) for k, v in values.items()}}


def agreement(first, second, metrics):
    """Per metric: each set's spread against the bound (setup_s is exempt),
    and how much worse the second set's median is than the first's."""
    out = {}
    for m in metrics:
        a, b = first[m["name"]], second[m["name"]]
        worse = (b["median"] - a["median"]) / a["median"]
        if m["better"] == "higher":
            worse = -worse
        spreads = [a["spread"], b["spread"]]
        out[m["name"]] = {
            "bound": m["bound"], "spreads": spreads, "second_median_worse_by": worse,
            "spreads_within_bound": m["name"] == "setup_s"
            or max(spreads) <= m["bound"],
            "spreads_within_third_of_bound": max(spreads) < m["bound"] / 3,
            "medians_agree": worse <= m["bound"]}
    return out


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--label", default="")
    ap.add_argument("--out", default="perfbench/baseline/BASELINE.json")
    args = ap.parse_args()
    with open("BENCHMARK.json") as f:
        bench = json.load(f)
    seconds = bench["run_seconds"]
    out = {"label": args.label, "machine": machine(), "run_seconds": seconds,
           "workloads": {}}
    ok = True
    for w in (x["name"] for x in bench["workloads"]):
        sets = []
        for seeds in SEED_SETS:
            set_ok, summ = run_set(w, seeds, seconds)
            ok &= set_ok
            sets.append(summ)
        traced_seed = SEED_SETS[0][0]
        rc, traced, treport, twall = run(w, traced_seed, seconds, 1)
        ok &= rc == 0 and bool(traced and traced["correct"])
        out["workloads"][w] = {
            "sets": sets,
            "agreement": agreement(sets[0]["end_to_end"], sets[1]["end_to_end"],
                                   bench["end_to_end"]),
            "traced_seed": traced_seed,
            "per_layer": {k: v["value"] for k, v in traced["metrics"].items()},
            "layers": treport.get("layers"),
            "tracing_overhead": treport.get("tracing_overhead"),
            "traced_run_wall_s": twall}
    os.makedirs(os.path.dirname(args.out), exist_ok=True)
    with open(args.out, "w") as f:
        json.dump(out, f, indent=1, sort_keys=True)
        f.write("\n")
    for w, d in out["workloads"].items():
        for k, g in d["agreement"].items():
            m1, m2 = (s["end_to_end"][k]["median"] for s in d["sets"])
            print(f"{w:16s} {k:18s} medians {m1:10.3f} {m2:10.3f} "
                  f"spreads {g['spreads'][0]:.3f} {g['spreads'][1]:.3f} "
                  f"bound {g['bound']} agree {g['medians_agree']}", file=sys.stderr)
            ok &= g["medians_agree"] and g["spreads_within_bound"]
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
