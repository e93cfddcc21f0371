"""Benchmark entry point.

    python3 perfbench/run.py --workload serve_read --seed 1 --seconds 20 --trace 0

Run from the root of a checkout. Starts one workload process
(perfbench/workload.py) in a session of its own, with Spark pointed at a
work directory inside the checkout (`.perfbench/`) and its web UI off;
samples the resident memory of that process tree; after it exits, kills
and reaps anything left in its session and deletes the work directory.
The last line of stdout is one JSON object: `correct`, `attempted`,
`failed`, and `metrics`, which holds every `end_to_end` metric of
BENCHMARK.json with `--trace 0` and every `per_layer` metric with
`--trace 1` (a layer a workload does not exercise reads 0). Exits non-zero
without a result line if the engine is missing or the run fails.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import threading
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from perfbench.procs import session_pids  # noqa: E402

HEAP = "2g"  # the engine's 48g default does not fit a 15 GB host
TIMEOUT_S = 170


def _rss_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith("VmRSS:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def _sweep(sid: int) -> list[int]:
    """Kills what is left in the session and waits until it is gone."""
    left = session_pids(sid)
    for pid in left:
        try:
            os.kill(pid, signal.SIGKILL)
        except ProcessLookupError:
            pass
    deadline = time.time() + 20
    while session_pids(sid) and time.time() < deadline:
        time.sleep(0.1)
    return left


def main() -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args()
    if not os.path.isfile(os.path.join(ROOT, "__spark_entry__.py")):
        print("perfbench: no engine in this checkout", file=sys.stderr)
        return 2
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    if args.workload not in {w["name"] for w in spec["workloads"]}:
        print(f"perfbench: unknown workload {args.workload!r}", file=sys.stderr)
        return 2
    wanted = spec["per_layer" if args.trace else "end_to_end"]

    base = os.path.join(ROOT, ".perfbench")
    work = os.path.join(base, f"run-{os.getpid()}")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    cpus = str(len(os.sched_getaffinity(0)))
    env = dict(
        os.environ,
        PYTHONPATH=ROOT,
        PERFBENCH_T0=repr(time.time()),
        PERFBENCH_WORK=os.path.join(work, "data"),
        PERFBENCH_OUT=os.path.join(base, "traces"),
        SPARK_GRAFT_CPUS=cpus,
        SPARK_GRAFT_DRIVER_MEM=HEAP,
        SPARK_GRAFT_WAREHOUSE=os.path.join(work, "warehouse"),
        SPARK_LOCAL_DIRS=os.path.join(work, "local"),
        TMPDIR=tmp,
        JAVA_TOOL_OPTIONS=f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        PYSPARK_SUBMIT_ARGS=" ".join([
            "--conf spark.ui.enabled=false",
            "--conf spark.ui.showConsoleProgress=false",
            "--conf spark.ui.retainedJobs=1000000",
            "--conf spark.ui.retainedStages=1000000",
            "--conf spark.driver.host=127.0.0.1",
            "--conf spark.driver.bindAddress=127.0.0.1",
            "pyspark-shell",
        ]),
    )
    env.pop("SECRET_TOKEN", None)  # the routes' auth: both absent passes
    env.pop("PYSPARK_GATEWAY_PORT", None)
    cmd = [sys.executable, "-m", "perfbench.workload", "--workload", args.workload,
           "--seed", str(args.seed), "--seconds", str(args.seconds), "--trace", str(args.trace)]
    child = subprocess.Popen(cmd, cwd=ROOT, env=env, stdout=subprocess.PIPE,
                             start_new_session=True, text=True)
    peak = [0]
    done = threading.Event()

    def sample() -> None:
        while not done.wait(0.2):
            peak[0] = max(peak[0], sum(_rss_kb(pid) for pid in session_pids(child.pid)))

    sampler = threading.Thread(target=sample, daemon=True)
    sampler.start()
    timer = threading.Timer(TIMEOUT_S, lambda: os.killpg(child.pid, signal.SIGKILL))
    timer.start()
    try:
        lines = child.stdout.read().splitlines()
        rc = child.wait()
    finally:
        timer.cancel()
        done.set()
        sampler.join()
        left = _sweep(child.pid)
        shutil.rmtree(work, ignore_errors=True)
        if not os.listdir(base):
            os.rmdir(base)
    if left:
        print(f"perfbench: killed {len(left)} leftover processes", file=sys.stderr)
    for line in lines[:-1]:
        print(line, file=sys.stderr)
    if rc != 0 or not lines:
        print(f"perfbench: workload exited with {rc}", file=sys.stderr)
        return 1
    result = json.loads(lines[-1])
    values = result.pop("values")
    values["peak_rss_mb"] = peak[0] / 1024
    metrics = {}
    for m in wanted:
        if m["name"] not in values and not args.trace:
            print(f"perfbench: no value for {m['name']}", file=sys.stderr)
            return 1
        metrics[m["name"]] = {"value": values.get(m["name"], 0.0), "unit": m["unit"]}
    print(json.dumps({**result, "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
