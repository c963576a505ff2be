"""Steadiness check: runs every workload N times with distinct seeds,
twice over (two sets), exactly as the benchmark command is run, and
prints for each end-to-end metric the median, the quartiles and the
spread (inter-quartile distance over the median) of each set against
the metric's bound, plus how far the second set's median moved from the
first's. It prints "steady" only when every spread and every median
shift, in either direction, stays within the metric's bound and the
shares of failed steps match between the sets.

    python3 perfbench/steady.py [--n 10] [--workloads a,b]
"""
import argparse
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
SETS = 2


def one_run(workload, seed, seconds):
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds), "--trace", "0"]
    r = subprocess.run(cmd, cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True)
    if r.returncode != 0:
        sys.exit(f"{workload} seed {seed} failed:\n{r.stderr[-3000:]}")
    return json.loads(r.stdout.strip().splitlines()[-1])


def spread(values):
    q1, q2, q3 = statistics.quantiles(values, n=4)
    return q1, statistics.median(values), q3, (q3 - q1) / statistics.median(values)


def main():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    ap = argparse.ArgumentParser()
    ap.add_argument("--n", type=int, default=10)
    ap.add_argument("--workloads", default=",".join(w["name"] for w in bench["workloads"]))
    a = ap.parse_args()
    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}
    workloads = a.workloads.split(",")
    runs = {}
    for s in range(SETS):
        for w in workloads:
            for i in range(a.n):
                seed = 1000 * (s + 1) + i + 1
                runs.setdefault((w, s), []).append(one_run(w, seed, bench["run_seconds"]))
                print(f"# {w} set {s + 1} seed {seed}: " + json.dumps(runs[(w, s)][-1]),
                      file=sys.stderr, flush=True)
    ok = True
    print(f"{a.n} runs per set, {SETS} sets, run_seconds {bench['run_seconds']}")
    print("| workload | metric | set | q1 | median | q3 | spread | bound | median shift |")
    print("|---|---|---|---|---|---|---|---|---|")
    for w in workloads:
        shares = {s: sum(r["failed"] for r in runs[(w, s)]) / sum(r["attempted"] for r in runs[(w, s)])
                  for s in range(SETS)}
        if len(set(shares.values())) > 1:
            ok = False
        for m, bound in bounds.items():
            first = None
            for s in range(SETS):
                q1, med, q3, sp = spread([r["metrics"][m]["value"] for r in runs[(w, s)]])
                shift = "" if first is None else f"{(med - first) / first:+.3f}"
                if sp > bound or (first is not None and abs(med - first) / first > bound):
                    ok = False
                first = med if first is None else first
                print(f"| {w} | {m} | {s + 1} | {q1:.4g} | {med:.4g} | {q3:.4g} | {sp:.3f} | {bound} | {shift} |")
            q1, med, q3, sp = spread([r["metrics"][m]["value"] for s in range(SETS) for r in runs[(w, s)]])
            print(f"| {w} | {m} | all | {q1:.4g} | {med:.4g} | {q3:.4g} | {sp:.3f} | {bound} | |")
        print(f"| {w} | failed share | | | {shares} | | | | |")
    print("steady" if ok else "NOT steady")
    sys.exit(0 if ok else 1)


if __name__ == "__main__":
    main()
