#!/usr/bin/env python3
"""Repeated-run capture: the evidence the bounds in BENCHMARK.json rest on.

    python3 perfbench/capture.py --out perfbench/baseline [--sets 2] [--runs 10]
        [--seed0 1] [--workloads commit_cycle,llm_dedup] [--traced]

Runs every workload in --sets sets of --runs runs through perfbench/run.py
with BENCHMARK.json's run_seconds. Within a set each run uses another seed
(seed0, seed0+1, ...), as the acceptance protocol does; every set repeats
the same seeds. Each run's record and result go to
<out>/<workload>.set<k>.jsonl. It then prints, per workload, end-to-end
metric and set, the median and the quartile spread as a share of the median
(statistics.quantiles(values, n=4)), and how much worse each set's median
is than the first set's, next to the metric's bound. With --traced it also
makes one traced run per workload and keeps its per-layer result and spans
as <out>/<workload>.traced.json and <out>/<workload>.spans.jsonl.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def run(workload, seed, seconds, trace, spans=None):
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)]
    if spans:
        cmd += ["--spans", spans]
    p = subprocess.run(cmd, cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL)
    lines = p.stdout.decode().splitlines()
    if p.returncode != 0 or len(lines) < 2:
        raise SystemExit("%s seed %d failed (exit %d): %s" % (workload, seed, p.returncode,
                                                             lines[-1:] or "no output"))
    return json.loads(lines[-2])["run_info"], json.loads(lines[-1])


def spread(values):
    q1, _, q3 = statistics.quantiles(values, n=4)
    return statistics.median(values), (q3 - q1) / statistics.median(values)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--out", required=True)
    ap.add_argument("--sets", type=int, default=2)
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--seed0", type=int, default=1)
    ap.add_argument("--workloads")
    ap.add_argument("--traced", action="store_true")
    a = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    names = a.workloads.split(",") if a.workloads else [w["name"] for w in bench["workloads"]]
    metrics = {m["name"]: m for m in bench["end_to_end"]}
    os.makedirs(a.out, exist_ok=True)
    for w in names:
        if a.traced:
            spans = os.path.join(a.out, w + ".spans.jsonl")
            info, res = run(w, a.seed0, bench["run_seconds"], 1, spans)
            with open(os.path.join(a.out, w + ".traced.json"), "w") as fh:
                json.dump({"run_info": info, "result": res}, fh, indent=1, sort_keys=True)
                fh.write("\n")
        medians = {}
        for k in range(1, a.sets + 1):
            values = {}
            with open(os.path.join(a.out, "%s.set%d.jsonl" % (w, k)), "w") as fh:
                for i in range(a.runs):
                    info, res = run(w, a.seed0 + i, bench["run_seconds"], 0)
                    fh.write(json.dumps({"run_info": info, "result": res}, sort_keys=True) + "\n")
                    fh.flush()
                    for m, v in res["metrics"].items():
                        values.setdefault(m, []).append(v["value"])
            for m, vs in values.items():
                med, sp = spread(vs)
                first = medians.setdefault(m, med)
                worse = (med - first) / first
                if metrics[m]["better"] == "higher":
                    worse = -worse
                bound = metrics[m]["bound"]
                ok = (m == "setup_s" or sp < bound / 3) and worse <= bound
                print("%-13s set %d %-9s median %10.4f  spread %.4f  worse than set 1 %+.4f"
                      "  bound %.2f  %s" % (w, k, m, med, sp, worse, bound,
                                            "ok" if ok else "WIDE"), flush=True)


if __name__ == "__main__":
    main()
