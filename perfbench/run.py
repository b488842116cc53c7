"""Benchmark entry point.

    python3 perfbench/run.py --workload build-html --seed 1 --seconds 14 --trace 0

Run from the repository root. Prints the workload's own named figures on
one line, then, as the last line, the result object: every end-to-end
metric of BENCHMARK.json (--trace 0) or every per-layer metric
(--trace 1). Exits 1 if any answer was wrong, 2 if the program is
missing. `--workload all` runs the three workloads in turn, each in a
fresh process.

Everything the run writes stays under the checkout: generated inputs in
.bench_cache/, the run's Spark dirs, indexes, event log and spans in
.bench_work/.
"""

from __future__ import annotations

import argparse
import ctypes
import json
import os
import shlex
import shutil
import signal
import subprocess
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK = os.path.join(ROOT, ".bench_work")
WORKLOADS = ("build-html", "serve-point", "ingest-serve")
_PR_SET_CHILD_SUBREAPER = 36
STOP_GRACE_S = 30.0


def _spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return json.load(fh)


def _configure(work: str, event_dir: str | None) -> None:
    """Environment the JVM and its Python workers inherit; must be set
    before pyspark starts the JVM."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    os.environ["SPARK_GRAFT_CPUS"] = str(os.cpu_count() or 1)
    os.environ["PEARS_DRIVER_MEM"] = "1g"
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    os.environ["TMPDIR"] = tmp
    args = ["--conf", "spark.ui.showConsoleProgress=false",
            "--conf", f"spark.sql.warehouse.dir={os.path.join(work, 'warehouse')}",
            "--driver-java-options", f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"]
    if event_dir:
        os.makedirs(event_dir)
        args += ["--conf", "spark.eventLog.enabled=true",
                 "--conf", f"spark.eventLog.dir=file://{event_dir}",
                 "--conf", "spark.eventLog.compress=false",
                 # Spark 4 rolls event logs into directories by default;
                 # one plain file per application is what EventLog reads
                 "--conf", "spark.eventLog.rolling.enabled=false"]
    os.environ["PYSPARK_SUBMIT_ARGS"] = shlex.join(args + ["pyspark-shell"])


def _adopt_orphans() -> None:
    """Become the reaper of every process this one starts, so that the
    Python workers the JVM forks are ours to wait for once it has ended."""
    ctypes.CDLL(None, use_errno=True).prctl(_PR_SET_CHILD_SUBREAPER, 1, 0, 0, 0)


def _stop_processes() -> None:
    """Stop the JVM pyspark started and every process under it, and wait
    until each has ended. Closing the JVM's stdin is pyspark's own signal
    for its gateway to exit; whatever is left after STOP_GRACE_S is killed."""
    from tracing import process_tree
    pyspark = sys.modules.get("pyspark")
    gateway = pyspark and pyspark.SparkContext._gateway
    if gateway is not None:
        gateway.proc.stdin.close()
        try:
            gateway.proc.wait(STOP_GRACE_S)
        except subprocess.TimeoutExpired:
            pass
    deadline = time.monotonic() + STOP_GRACE_S
    while True:
        try:
            pid, _ = os.waitpid(-1, os.WNOHANG)
        except ChildProcessError:  # no child left, orphans included
            return
        if pid:
            continue
        if time.monotonic() > deadline:
            for pid in process_tree(os.getpid()):
                if pid != os.getpid():
                    try:
                        os.kill(pid, signal.SIGKILL)
                    except ProcessLookupError:
                        pass
        time.sleep(0.05)


def _untraced_p50_ms(workload: str, seed: int, seconds: int) -> float:
    """op_p50_ms of an untraced child run with the same seed and window."""
    p = subprocess.run([sys.executable, os.path.abspath(__file__),
                        "--workload", workload, "--seed", str(seed),
                        "--seconds", str(seconds), "--trace", "0"],
                       cwd=ROOT, check=True, stdout=subprocess.PIPE, text=True)
    result = json.loads(p.stdout.strip().splitlines()[-1])
    return result["metrics"]["op_p50_ms"]["value"]


def run_one(workload: str, seed: int, seconds: int, trace: bool) -> int:
    spec = _spec()
    work = os.path.join(WORK, f"{workload}-s{seed}-p{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    event_dir = os.path.join(work, "eventlog") if trace else None
    _configure(work, event_dir)
    sys.path.insert(0, ROOT)
    from tracing import PeakMemory
    from workloads import WORKLOADS as RUNNERS, Run

    run = Run(seed, seconds, trace, work, event_dir)
    try:
        with PeakMemory() as mem:
            try:
                e2e = RUNNERS[workload](run)
            finally:
                run.stop()
        e2e.update(run.common(mem.peak_mb))
        if trace:
            run.tracer.write(os.path.join(WORK, f"spans-{workload}-s{seed}.jsonl"))
    finally:
        _stop_processes()
        shutil.rmtree(work, ignore_errors=True)
    if trace:
        run.layer["trace.overhead_ratio"] = (
            e2e["op_p50_ms"] / _untraced_p50_ms(workload, seed, seconds))

    print(json.dumps({"workload": workload, "seed": seed, "detail": run.detail}))
    wanted = spec["per_layer"] if trace else spec["end_to_end"]
    values = run.layer if trace else e2e
    metrics = {m["name"]: {"value": values.get(m["name"], 0), "unit": m["unit"]}
               for m in wanted}
    print(json.dumps({"correct": run.failed == 0, "attempted": run.attempted,
                      "failed": run.failed, "metrics": metrics}), flush=True)
    return 0 if run.failed == 0 else 1


def run_all(seed: int, seconds: int, trace: bool) -> int:
    results, code = {}, 0
    for w in WORKLOADS:
        p = subprocess.run([sys.executable, os.path.abspath(__file__),
                            "--workload", w, "--seed", str(seed),
                            "--seconds", str(seconds), "--trace", str(int(trace))],
                           cwd=ROOT, stdout=subprocess.PIPE, text=True)
        sys.stdout.write(p.stdout)
        lines = p.stdout.strip().splitlines()
        results[w] = json.loads(lines[-1]) if p.returncode in (0, 1) and lines else None
        code = code or p.returncode
    print(json.dumps(results))
    return code


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS + ("all",))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    if not os.path.isdir(os.path.join(ROOT, "pears_lite_spark")):
        print(f"perfbench: no pears_lite_spark package under {ROOT}", file=sys.stderr)
        return 2
    os.chdir(ROOT)
    _adopt_orphans()
    # a terminated run unwinds through its finally blocks and stops its JVM
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    if a.workload == "all":
        return run_all(a.seed, a.seconds, bool(a.trace))
    return run_one(a.workload, a.seed, a.seconds, bool(a.trace))


if __name__ == "__main__":
    sys.exit(main())
