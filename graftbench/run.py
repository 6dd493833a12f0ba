"""graft benchmark: one workload, one process, one result line.

    python3 graftbench/run.py --workload pipeline|query_mix \
        --seed N --seconds S --trace 0|1

Run from the repository root. Builds the program from source (build.py),
starts one JVM on a local[nproc/2] Spark session, measures the workload for
S seconds, checks its outputs, and prints a full result record (host
context, every metric) and then, as the last line, the summary object
{"correct", "attempted", "failed", "metrics"}. --trace 0 reports the
end-to-end metrics; --trace 1 runs with the timing decorators, spans and
the Spark listener installed and reports the per-layer metrics. The exit
code is 0 only when every operation succeeded and every output matched.
See graftbench/README.md.
"""
import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time

import build

WORKLOADS = ("pipeline", "query_mix")
# the heap is fixed and pre-touched, so peak RSS reads the same heap plus
# whatever native memory the run grows
HEAP = ["-Xms2g", "-Xmx2g", "-XX:+AlwaysPreTouch"]
# the JVM sees half the machine's cores: the session is local[CORES] and
# the JIT and GC size their thread pools to match, so the process keeps
# its runnable threads below the machine's core count and the other half
# absorbs the OS and other tenants (on 4 cores a warm batch and a pass
# run as fast as with all four, on less CPU time)
CORES = max(1, (os.cpu_count() or 2) // 2)
JVM_TIMEOUT_S = 165

END_TO_END = {
    "setup_s": "s", "unit_s": "s", "step_p50_s": "s", "step_p90_s": "s",
    "cpu_s": "core-s", "peak_rss_mb": "MB",
}

ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic", "java.base/sun.nio.ch",
    "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def layer_unit(name):
    if name == "error_rate":
        return "ratio"
    if name.endswith("_mb"):
        return "MB"
    if name.endswith("bytes_per_row"):
        return "B/row"
    if name.endswith("bytes"):
        return "B"
    if name.endswith("_s") or name.endswith(".s"):
        return "s"
    return "count"


def load1():
    try:
        return os.getloadavg()[0]
    except OSError:
        return -1.0


def cpu_ticks():
    """(steal, total) jiffies of the machine, from /proc/stat."""
    try:
        with open("/proc/stat") as fh:
            f = [int(x) for x in fh.readline().split()[1:]]
        return f[7] if len(f) > 7 else 0, sum(f)
    except OSError:
        return 0, 0


def fail(msg):
    print(f"graftbench: {msg}", file=sys.stderr)
    sys.exit(1)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=float)
    ap.add_argument("--trace", required=True, choices=("0", "1"))
    ap.add_argument("--write-expected", action="store_true",
                    help="record query_mix's outputs as the new expectations")
    a = ap.parse_args()

    classes, jars = build.ensure_built()
    root = build.ROOT
    bench_dir = build.BENCH_DIR
    state = os.path.join(root, ".bench_run")
    run_dir = os.path.join(state, f"{a.workload}-{a.seed}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    for d in ("tmp", "spark-local"):
        os.makedirs(os.path.join(run_dir, d))
    log_path = os.path.join(state, f"last-{a.workload}.log")
    load_before = load1()
    ticks_before = cpu_ticks()
    # one token per process: any per-user state the program keeps starts
    # cold in every run, so a build it needs lands in set-up
    token = f"graftbench{os.getpid()}"
    cmd = ["java", *HEAP, f"-XX:ActiveProcessorCount={CORES}",
           "-Xss16m", "-XX:-UsePerfData",
           *[f"--add-opens={p}=ALL-UNNAMED" for p in ADD_OPENS],
           f"-Djava.io.tmpdir={run_dir}/tmp",
           f"-Dspark.local.dir={run_dir}/spark-local",
           f"-Dspark.sql.warehouse.dir={run_dir}/warehouse",
           "-Dspark.ui.enabled=false", f"-Duser.name={token}",
           "-cp", f"{classes}{os.pathsep}{os.path.join(jars, '*')}",
           "graftbench.Main", "--workload", a.workload, "--seed", str(a.seed),
           "--seconds", str(a.seconds), "--trace", a.trace, "--run-dir", run_dir,
           "--expected", os.path.join(bench_dir, "expected.tsv"),
           "--write-expected", "1" if a.write_expected else "0"]
    launch_ns = time.time_ns()
    cmd += ["--launch-ns", str(launch_ns)]
    with open(log_path, "w") as log:
        env = dict(os.environ, SPARK_LOCAL_DIRS=os.path.join(run_dir, "spark-local"))
        proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, stderr=log, cwd=run_dir,
                                env=env, text=True)

        def stop(signum, _frame):
            proc.kill()
            proc.wait()
            shutil.rmtree(run_dir, ignore_errors=True)
            fail(f"interrupted by signal {signum}")
        signal.signal(signal.SIGTERM, stop)
        signal.signal(signal.SIGINT, stop)
        try:
            out, _ = proc.communicate(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            shutil.rmtree(run_dir, ignore_errors=True)
            fail(f"JVM exceeded {JVM_TIMEOUT_S}s; log in {log_path}")
        finally:
            if proc.poll() is None:
                proc.kill()
                proc.wait()
    ticks_after = cpu_ticks()
    steal = (ticks_after[0] - ticks_before[0]) / max(1, ticks_after[1] - ticks_before[1])
    spans = os.path.join(run_dir, "spans.jsonl")
    if os.path.exists(spans):
        shutil.move(spans, os.path.join(state, f"spans-{a.workload}.jsonl"))
    shutil.rmtree(run_dir, ignore_errors=True)
    lines = [l for l in out.splitlines() if l.startswith("{")]
    if proc.returncode != 0 or not lines:
        fail(f"JVM exited {proc.returncode} without a result; log in {log_path}")
    res = json.loads(lines[-1])

    e2e, layers = res["e2e"], res["layers"]
    failed = res["failed"]
    wanted = ({k: (e2e.get(k), u) for k, u in END_TO_END.items()} if a.trace == "0"
              else {k: (v, layer_unit(k)) for k, v in layers.items()})
    correct = failed == 0 and bool(wanted) and all(v is not None for v, _ in wanted.values())
    metrics = {k: {"value": v, "unit": u} for k, (v, u) in wanted.items() if v is not None}
    record = {
        "workload": a.workload, "seed": a.seed, "seconds": a.seconds,
        "trace": int(a.trace), "correct": correct, "attempted": res["attempted"],
        "failed": failed, "errors": res["errors"], "units": res["units"],
        "steps": res["steps"], "reports": res["reports"],
        "samples": res["samples"], "error_rate": failed / max(1, res["attempted"]),
        "context": {"nproc": os.cpu_count(), "jvm_cores": CORES,
                    "load1_before": load_before, "load1_after": load1(),
                    "steal_share": steal, "heap": " ".join(HEAP),
                    "data": "generated, scale factor 0.01", "seed": a.seed},
        "end_to_end": e2e, "per_layer": layers,
    }
    print(json.dumps(record, sort_keys=True))
    with open(os.path.join(state, "results.jsonl"), "a") as fh:
        fh.write(json.dumps(record, sort_keys=True) + "\n")
    print(json.dumps({"correct": correct, "attempted": res["attempted"],
                      "failed": failed, "metrics": metrics}))
    sys.exit(0 if correct else 1)


if __name__ == "__main__":
    main()
