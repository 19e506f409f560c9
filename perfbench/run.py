"""graft benchmark: one run of one workload.

    python3 perfbench/run.py --workload retrain --seed 1 --seconds 10 --trace 0

Run from the repository root. Builds graft and the harness from source on
first use (see build.py), runs the workload in one JVM with a closed loop
and one client, checks the program's outputs, and prints every metric by
name with its unit. The last line of stdout is one JSON object:
{"correct", "attempted", "failed", "metrics"}; with --trace 0 the metrics
are the end-to-end ones, with --trace 1 the per-layer ones from a traced
run. The exit code is non-zero when a check or an op failed. See README.md
in this directory for the workloads, metrics and layers.
"""

import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402
import report  # noqa: E402

# the JVM options build.sbt gives `run`: module opens Spark needs on JDK 17,
# the Vector API module MLlib's BLAS uses, no UI, UTC
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]
HEAP = "3g"
JVM_TIMEOUT_S = 165


def jvm_options(work):
    opts = []
    for p in ADD_OPENS:
        opts += ["--add-opens", f"{p}=ALL-UNNAMED"]
    return opts + [
        "--add-modules=jdk.incubator.vector",
        "-Dspark.ui.enabled=false",
        "-Dspark.sql.session.timeZone=UTC",
        f"-Xmx{HEAP}",
        f"-Djava.io.tmpdir={work}/tmp",
        "-XX:-UsePerfData",
    ]


def cores():
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


def git_commit(root):
    """HEAD of the checkout, when the checkout is itself a git repository."""
    if not os.path.exists(os.path.join(root, ".git")):
        return None
    try:
        res = subprocess.run(["git", "-C", root, "rev-parse", "HEAD"], capture_output=True,
                             text=True, timeout=10)
        return (res.stdout.strip() or None) if res.returncode == 0 else None
    except (OSError, subprocess.SubprocessError):
        return None


def run_jvm(cmd, log_path, timeout):
    with open(log_path, "w") as log:
        proc = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT,
                                start_new_session=True)
        try:
            return proc.wait(timeout=timeout)
        except subprocess.TimeoutExpired:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
            raise SystemExit(f"run: workload exceeded {timeout}s; log at {log_path}")
        except BaseException:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
            raise


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=report.WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=float)
    ap.add_argument("--trace", required=True, choices=("0", "1"))
    a = ap.parse_args()

    root = os.getcwd()
    load_start = os.getloadavg()
    classpath, source_sha = build.ensure_built(root)

    build_dir = os.path.join(root, ".bench_build")
    # one run at a time: whatever an earlier, failed run left here is stale
    shutil.rmtree(os.path.join(build_dir, "run"), ignore_errors=True)
    work = os.path.join(build_dir, "run", f"{a.workload}-{a.seed}")
    os.makedirs(os.path.join(work, "tmp"))
    raw_path = os.path.join(work, "record.json")
    n_cores = cores()
    cmd = ["java"] + jvm_options(work) + ["-cp", classpath, "graft.perfbench.Main",
           "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
           "--trace", a.trace, "--cores", str(n_cores), "--work", work, "--out", raw_path]
    results = os.path.join(build_dir, "results")
    os.makedirs(results, exist_ok=True)
    log_path = os.path.join(results, f"{a.workload}-{a.seed}-trace{a.trace}.log")
    t0 = time.time()
    code = run_jvm(cmd, log_path, JVM_TIMEOUT_S)
    if code != 0 or not os.path.exists(raw_path):
        raise SystemExit(f"run: harness exited with {code}; log at {log_path}")
    with open(raw_path) as fh:
        raw = json.load(fh)
    shutil.rmtree(work, ignore_errors=True)

    host = {
        "nproc": n_cores,
        "loadavg_start": load_start,
        "loadavg_end": os.getloadavg(),
        "max_heap_mb": raw["jvm"]["max_heap_mb"],
        "jdk": raw["jvm"]["java_version"],
        "spark": raw["jvm"]["spark_version"],
        "blas": raw["jvm"]["blas"],
        "vector_blas_loaded": raw["jvm"]["blas"] == "VectorBLAS",
        "git_commit": git_commit(root),
        "source_sha256": source_sha,
        "seed": a.seed,
        "workload": a.workload,
        "run_wall_s": round(time.time() - t0, 3),
    }
    checks = [(c["name"], None if c["ok"] else c["detail"]) for c in raw["checks"]]
    if a.trace == "1":
        checks += report.trace_checks(raw)
        metrics, units = report.per_layer(raw), report.LAYER_UNITS
    else:
        metrics, units = report.end_to_end(raw), report.E2E_UNITS
    attempted, failed = raw["attempted"], raw["failed"]
    correct = failed == 0 and all(err is None for _, err in checks)

    print("host " + json.dumps(host))
    for f in raw["failures"]:
        print(f"failure: {f}")
    for name, err in checks:
        print(f"check {name}: {'ok' if err is None else 'FAILED ' + err}")
    tail = report.tail_percentile(len(raw["ops"]))
    print(f"ops {attempted} attempted, {failed} failed "
          f"(failed_frac {failed / attempted:.3f}), {len(raw['ops'])} timed, "
          f"measured {raw['measure_s']:.1f}s; "
          + (f"p{tail:.1f} is the highest tail with 10 samples beyond it" if tail is not None
             else "too few ops for a tail percentile"))
    for name in units:
        print(f"{name} {metrics[name]:.6g} {units[name]}")
    record = {"host": host, "metrics": metrics, "raw": raw}
    with open(os.path.join(results, f"{a.workload}-{a.seed}-trace{a.trace}.json"), "w") as fh:
        json.dump(record, fh)
    if a.trace == "1":
        # tracing overhead: this traced run's op median against the untraced
        # run of the same workload and seed, when one was made in this checkout
        other = os.path.join(results, f"{a.workload}-{a.seed}-trace0.json")
        if os.path.exists(other):
            with open(other) as fh:
                untraced = json.load(fh)["metrics"]["op_p50_s"]
            print(f"tracing overhead: op_p50_s {metrics['trace.op_p50_s']:.4f} s traced vs "
                  f"{untraced:.4f} s untraced ({metrics['trace.op_p50_s'] / untraced - 1:+.1%})")
    print(json.dumps({
        "correct": correct, "attempted": attempted, "failed": failed,
        "metrics": {name: {"value": metrics[name], "unit": units[name]} for name in units},
    }))
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
