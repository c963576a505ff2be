"""The benchmark's one command.

    python3 perfbench/run.py --workload W --seed N --seconds S --trace 0|1

Builds the program from source (cached per source hash), generates the
workload's inputs from the seed (cached per seed), runs the workload in
one JVM launched directly on the compiled classes, checks every output
of the untimed warm-up pass against an independent reference, and
prints one JSON object as the last line of stdout. See README.md.
"""
import argparse
import json
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import build  # noqa: E402
import check  # noqa: E402
import gen  # noqa: E402

WORKLOADS = ("raster_tiles", "loops_dedup")
HEAP = "2g"
JVM_TIMEOUT_S = 150

ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]

# Per-workload harness parameters taken from the generated inputs, plus
# the untimed noop passes that follow the check pass: the tile kernels
# are still being compiled by the JIT during the first pass after it.
PARAMS = {
    "raster_tiles": lambda p: {"grid": p["grid"], "tile": p["tile"], "warmup": 1,
                               "polys": ";".join(",".join(str(v) for v in d) for d in p["polys"]),
                               "query": ",".join(str(v) for v in p["query"])},
    "loops_dedup": lambda p: {"grid": p["grid"], "tile": p["tile"], "max_cost": p["max_cost"],
                              "oracles": ",".join(check.TEXT_ORACLES)},
}


def jvm(classpath, tmp, args):
    # every file the JVM writes stays in the run directory: scratch via
    # java.io.tmpdir and spark.local.dir, no hsperfdata file in /tmp
    cmd = ["java", f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:+UseG1GC", "-XX:-UsePerfData",
           f"-Djava.io.tmpdir={tmp}", f"-Dspark.local.dir={tmp}",
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    return cmd + ["-cp", classpath, "perfbench.Harness"] + args


def launch(cmd, log):
    """Run one JVM to completion; return (launch time, ready time, rc)."""
    t0 = time.time()
    with open(log, "w") as fh:
        proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, stderr=fh, text=True)
        ready = None
        try:
            out, _ = proc.communicate(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            return t0, None, "timeout"
    for line in out.splitlines():
        if line.startswith("PERFBENCH_READY "):
            ready = int(line.split()[1]) / 1000.0
    return t0, ready, proc.returncode


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--keep", action="store_true", help="keep the run directory")
    a = ap.parse_args()

    classpath = build.ensure_built()
    data, params = gen.ensure(a.workload, a.seed)
    run_dir = os.path.join(HERE, "out", f"{a.workload}-s{a.seed}-t{a.trace}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp)
    args = ["--workload", a.workload, "--data", data, "--out", run_dir,
            "--seconds", str(a.seconds), "--trace", str(a.trace)]
    for k, v in PARAMS[a.workload](params).items():
        args += ["--param", f"{k}={v}"]

    t0, ready, rc = launch(jvm(classpath, tmp, args), os.path.join(run_dir, "jvm.log"))
    if rc != 0 or ready is None:
        sys.stderr.write(open(os.path.join(run_dir, "jvm.log")).read()[-5000:])
        sys.exit(f"perfbench: the workload JVM failed ({rc})")

    with open(os.path.join(run_dir, "result.json")) as fh:
        res = json.load(fh)
    bad = check.run(a.workload, data, params, os.path.join(run_dir, "check"), run_dir)
    for f in res["failures"] + bad:
        sys.stderr.write(f"perfbench: {f}\n")
    med = res["median"]
    if a.trace:
        metrics = {m["name"]: {"value": med.get(m["name"], 0.0), "unit": m["unit"]}
                   for m in bench_json()["per_layer"]}
        metrics["traced.pass_s"]["value"] = med["pass_s"]
        metrics["traced.pass_ref_s"]["value"] = med["pass_ref_s"]
    else:
        metrics = {
            "pass_ref_s": {"value": med["pass_ref_s"], "unit": "s"},
            "setup_s": {"value": ready - t0, "unit": "s"},
            "heap_live_peak_mb": {"value": res["heap_live_peak_mb"], "unit": "MB"},
            "shuffle_mb": {"value": med["shuffle_mb"], "unit": "MB"},
        }
    if a.trace:
        # the spans outlive the run directory: one file per workload and seed
        shutil.copyfile(os.path.join(run_dir, "spans.jsonl"),
                        os.path.join(HERE, "out", f"spans-{a.workload}-s{a.seed}.jsonl"))
    if not a.keep:
        shutil.rmtree(run_dir, ignore_errors=True)
    print(json.dumps({"correct": not bad, "attempted": res["attempted"],
                      "failed": res["failed"] + len(bad), "metrics": metrics}))


def bench_json():
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as fh:
        return json.load(fh)




if __name__ == "__main__":
    main()
