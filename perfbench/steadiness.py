#!/usr/bin/env python3
"""Steadiness evidence for the benchmark: same code, many seeded runs.

    python3 perfbench/steadiness.py --seeds 1-10 --sets 2 --traced-seeds 1-2 \
        --out perfbench/results/steadiness.json

Runs `perfbench/run.py` once per (set, workload, seed) with `--trace 0`
and records every run's metrics, exit code and canaries (from the
sidecar). For each set and end-to-end metric it reports the median,
the quartiles as `statistics.quantiles(values, n=4)` gives them, and the
quartile distance as a share of the median, next to the metric's bound in
`BENCHMARK.json`; and, from the second set on, how far the median moved
from the first set's. Canaries must be identical for a seed across sets.
With `--traced-seeds 1-2` it also makes `--trace 1` runs per workload for
those seeds, keeps their sidecars beside the output, and reports the
tracing overhead: the traced median minus the untraced median over the
same seeds, as a share of the untraced one. Untraced and traced runs
always come from the same invocation, so from the same code.
"""
import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
OUT_DIR = os.path.join(ROOT, ".bench_build", "perfbench", "out")


def seeds_of(spec):
    lo, _, hi = spec.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def run(workload, seed, seconds, trace):
    t = time.time()
    p = subprocess.run([sys.executable, os.path.join(ROOT, "perfbench", "run.py"),
                        "--workload", workload, "--seed", str(seed),
                        "--seconds", str(seconds), "--trace", str(trace)],
                       cwd=ROOT, capture_output=True, text=True)
    wall = time.time() - t
    lines = p.stdout.strip().splitlines()
    result = json.loads(lines[-1]) if lines else None
    path = os.path.join(OUT_DIR, f"{workload}-seed{seed}-trace{trace}.json")
    sidecar = json.load(open(path)) if p.returncode == 0 and os.path.exists(path) else None
    if p.returncode != 0:
        print(p.stderr[-2000:], file=sys.stderr)
    return {"workload": workload, "seed": seed, "trace": trace, "exit": p.returncode,
            "wall_s": wall, "result": result, "sidecar_path": path,
            "canaries": sidecar and sidecar.get("canaries"),
            "end_to_end": sidecar and sidecar.get("end_to_end")}


def summary(values):
    q1, med, q3 = statistics.quantiles(values, n=4)
    return {"median": statistics.median(values), "q1": q1, "q3": q3,
            "spread": (q3 - q1) / statistics.median(values), "n": len(values)}


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--sets", type=int, default=2)
    ap.add_argument("--traced-seeds", default="")
    ap.add_argument("--out", required=True)
    a = ap.parse_args()
    bench = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
    workloads = [w["name"] for w in bench["workloads"]]
    metrics = {m["name"]: m for m in bench["end_to_end"]}
    runs = []
    for s in range(a.sets):
        for w in workloads:
            for seed in seeds_of(a.seeds):
                r = run(w, seed, bench["run_seconds"], 0)
                r["set"] = s
                runs.append(r)
                vals = {k: v["value"] for k, v in ((r["result"] or {}).get("metrics") or {}).items()}
                print(f"set {s} {w} seed {seed} exit {r['exit']} {r['wall_s']:.0f}s {vals}", flush=True)
    report = {"run_seconds": bench["run_seconds"], "seeds": a.seeds, "runs": runs, "workloads": {}}
    for w in workloads:
        ws = [r for r in runs if r["workload"] == w]
        sets = []
        for s in range(a.sets):
            rs = [r for r in ws if r["set"] == s and r["exit"] == 0]
            sets.append({m: summary([r["result"]["metrics"][m]["value"] for r in rs])
                         for m in metrics if len(rs) >= 2})
        for m in metrics:
            for s in sets:
                if m in s:
                    s[m]["bound"] = metrics[m]["bound"]
                    if m in sets[0] and s is not sets[0]:
                        base = sets[0][m]["median"]
                        worse = (s[m]["median"] - base) / base
                        s[m]["median_worse_than_first"] = \
                            -worse if metrics[m]["better"] == "higher" else worse
        by_seed = {}
        for r in ws:
            by_seed.setdefault(r["seed"], []).append(json.dumps(r["canaries"], sort_keys=True))
        report["workloads"][w] = {
            "sets": sets,
            "all_exit_0": all(r["exit"] == 0 for r in ws),
            "failed_ops": sum((r["result"] or {}).get("failed", 1) for r in ws),
            "canaries_repeat_per_seed": all(len(set(v)) == 1 for v in by_seed.values()),
            "run_wall_s": summary([r["wall_s"] for r in ws]),
        }
    if a.traced_seeds:
        out_dir = os.path.dirname(os.path.abspath(a.out))
        tseeds = seeds_of(a.traced_seeds)
        for w in workloads:
            traced = []
            for seed in tseeds:
                r = run(w, seed, bench["run_seconds"], 1)
                kept = os.path.join(out_dir, f"{w}-traced-seed{seed}.json")
                if r["exit"] == 0:
                    shutil.copyfile(r["sidecar_path"], kept)
                    traced.append(r)
            base = [x for x in runs if x["workload"] == w and x["seed"] in tseeds
                    and x["exit"] == 0]
            overhead = {}
            for m in metrics:
                if traced and base:
                    v = statistics.median(t["end_to_end"][m][0] for t in traced)
                    u = statistics.median(b["result"]["metrics"][m]["value"] for b in base)
                    overhead[m] = {"traced_median": v, "untraced_median": u, "share": (v - u) / u}
            report["workloads"][w]["traced"] = {
                "seeds": a.traced_seeds, "exits": [t["exit"] for t in traced],
                "sidecars": [os.path.relpath(os.path.join(out_dir, f"{w}-traced-seed{t['seed']}.json"),
                                             ROOT) for t in traced],
                "per_layer": [(t["result"] or {}).get("metrics") for t in traced],
                "overhead": overhead}
            print(f"traced {w} exits {[t['exit'] for t in traced]} overhead "
                  f"{ {m: round(o['share'], 4) for m, o in overhead.items()} }", flush=True)
    for r in runs:
        r.pop("sidecar_path", None)
    with open(a.out, "w") as f:
        json.dump(report, f, indent=1, sort_keys=True)
        f.write("\n")
    for w, rep in report["workloads"].items():
        for i, s in enumerate(rep["sets"]):
            for m, v in s.items():
                print(f"{w:16s} set {i} {m:18s} median {v['median']:10.3f} spread {v['spread']:.4f} "
                      f"bound {v['bound']} moved {v.get('median_worse_than_first', 0):+.4f}")
        print(w, "exit0", rep["all_exit_0"], "failed", rep["failed_ops"],
              "canaries repeat", rep["canaries_repeat_per_seed"])


if __name__ == "__main__":
    main()
