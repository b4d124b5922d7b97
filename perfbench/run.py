"""Pipeline benchmark: runs one workload of the graft CLI/library pipeline,
checks its outputs, and prints one JSON result line.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run from the repository root. The first run builds the program and the
benchmark (perfbench/build.py) into .bench_build/; inputs are generated
once per (workload, seed) into .bench_build/inputs/. See README.md.
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
import checks  # noqa: E402
import gen  # noqa: E402

ROOT = build.ROOT
BUILD_DIR = os.path.join(ROOT, ".bench_build")
TIME_LIMIT_S = 170  # a run (after any build) must end within this

WORKLOADS = ("tabular_ml", "corpus_curate", "corpus_incremental", "lm_kn")

# units of the per-layer metrics, by metric suffix
LAYER_UNITS = {"wall_s": "s", "jobs": "count", "tasks": "count", "driver_gap_s": "s",
               "exec_cpu_s": "s", "core_util": "ratio", "source_rescans": "ratio",
               "shuffle_write_mb": "MB", "task_skew": "ratio", "us_per_doc": "us/doc"}

# JDK 17 module opens Spark needs outside spark-submit (as in build.sbt)
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar"]


def cores():
    return len(os.sched_getaffinity(0))


def steal_s():
    """Host CPU time stolen from this machine so far (0 where unknown)."""
    try:
        with open("/proc/stat") as f:
            return int(f.readline().split()[8]) / os.sysconf("SC_CLK_TCK")
    except (OSError, IndexError, ValueError):
        return 0.0


def run_jvm(classes, args, work, deadline):
    cp = os.pathsep.join([classes, os.path.join(build.spark_jars(), "*")])
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = [build.java(), "-Xmx3g", f"-Djava.io.tmpdir={tmp}",
           "-Dspark.callstack.depth=200"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", cp, "perfbench.Main"] + args
    log_path = os.path.join(work, "jvm.log")
    with open(log_path, "w") as log:
        proc = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT, cwd=work)
        try:
            rc = proc.wait(timeout=max(1.0, deadline - time.time()))
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            rc = "timeout"
    if rc != 0:
        sys.stderr.write(open(log_path, errors="replace").read()[-6000:])
        raise SystemExit(f"benchmark JVM failed ({rc})")


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--keep", action="store_true", help="keep the run's work dir")
    a = ap.parse_args()

    classes = build.ensure_built(BUILD_DIR)
    deadline = time.time() + TIME_LIMIT_S
    inputs = gen.ensure_inputs(os.path.join(BUILD_DIR, "inputs"), a.workload, a.seed)
    manifest = json.load(open(os.path.join(inputs, "manifest.json")))

    work = os.path.join(BUILD_DIR, "work", f"{a.workload}-{a.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    out = os.path.join(work, "result.json")
    label = [gen.LABEL_WEIGHTS[f] for f in checks.FEATURES] + [gen.LABEL_BIAS]
    steal0 = steal_s()
    run_jvm(classes, ["--workload", a.workload, "--seed", str(a.seed), "--inputs", inputs,
                      "--work", work, "--seconds", str(a.seconds), "--trace", str(a.trace),
                      "--cores", str(cores()), "--out", out,
                      "--label-model", ",".join(map(str, label))], work, deadline)
    res = json.load(open(out))
    stolen = steal_s() - steal0

    problems = [] if res["error"] is None else [res["error"]]
    if res["failed"] == 0:
        problems += checks.check(a.workload, inputs, manifest, res["last_round"],
                                 res["artifacts"])
    for p in problems:
        print(f"CHECK FAILED: {p}", file=sys.stderr)

    if a.trace:
        metrics = {k: {"value": v if v is not None else 0.0,
                       "unit": LAYER_UNITS[k.rsplit(".", 1)[1]]}
                   for k, v in sorted(res["per_layer"].items())}
    else:
        # the first round is the one a CLI job pays for: a fresh JVM
        first = res["rounds"][0]
        metrics = {
            "setup_s": {"value": res["setup_s"], "unit": "s"},
            "wall_s": {"value": first["wall_s"], "unit": "s"},
            "rows_per_s": {"value": manifest["input_rows"] / first["wall_s"], "unit": "rows/s"},
            "cpu_s": {"value": first["cpu_s"], "unit": "s"},
            "heap_retained_mb": {"value": first["heap_mb"], "unit": "MB"},
        }
    print(f"rounds: {len(res['rounds'])}, walls: "
          f"{[round(r['wall_s'], 3) for r in res['rounds']]}, "
          f"cpu stolen by the host: {stolen:.1f} s")
    if not a.keep:
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps({"correct": not problems, "attempted": res["attempted"],
                      "failed": res["failed"], "metrics": metrics}))


if __name__ == "__main__":
    main()
