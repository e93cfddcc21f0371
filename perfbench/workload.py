"""One benchmark run in its own process: `python3 -m perfbench.workload`.

Starts one `local[N]` Spark session, runs a workload (serve.py, olap.py),
stops Spark and waits until the JVM and every Python worker it started
have exited, deletes its work directory, and prints one JSON line with
every value it measured. run.py starts it; see run.py for the contract.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import math
import os
import shutil
import statistics
import sys
import time

from . import checks, tracing
from .procs import session_pids

T0 = float(os.environ.get("PERFBENCH_T0") or time.time())  # set by run.py at spawn


def _stat_ticks() -> tuple[int, int]:
    with open("/proc/stat") as fh:
        vals = [int(x) for x in fh.readline().split()[1:]]
    return vals[7] if len(vals) > 7 else 0, sum(vals)


class Run:
    """What a workload sees: inputs, a tally of checked ops, samples of
    timed ops, and (traced runs only) spans and per-op job groups."""

    def __init__(self, spark, seed: int, seconds: float, trace: bool, work: str):
        self.spark, self.seed, self.seconds, self.work = spark, seed, seconds, work
        self.tally = checks.Tally()
        self.samples: list[tuple[str, str, float]] = []  # (kind, slot, s)
        self.pass_walls: list[tuple[bool, float]] = []  # (traced, wall s)
        self.values: dict = {}
        self.first_op: float | None = None
        self.tracer = tracing.Tracer() if trace else None
        self.stats = tracing.SparkStats(spark) if trace else None
        self.traced_ops: set[str] = set()
        self._op = 0
        self._in_traced_pass = False
        tracing.activate(self.tracer)  # set-up is traced too

    def log(self, msg: str) -> None:
        print(f"perfbench: {msg}", file=sys.stderr, flush=True)

    def span(self, name: str):
        tracer = tracing.active()
        return tracer.span(name) if tracer else contextlib.nullcontext()

    def begin_op(self, phase: str) -> None:
        """Starts a timed op; in a traced pass it gets an id and job group."""
        self._op += 1
        if self._in_traced_pass:
            op = f"op{self._op}"
            self.tracer.op = op
            self.traced_ops.add(op)
            self.phase(phase)

    def phase(self, name: str) -> None:
        if self._in_traced_pass:
            self.stats.group(f"{self.tracer.op}:{name}")

    def sample(self, kind: str, seconds: float, slot: str | None = None) -> None:
        """Latency of a timed op. `slot` names the op's place in a pass
        (every pass holds the same slots); ops of traced passes are not
        sampled."""
        if not self._in_traced_pass:
            self.samples.append((kind, slot or kind, seconds))

    def timed_passes(self, passes: list, pass_s: float) -> None:
        """Runs as many passes as fit in `seconds` at `pass_s`, a pass's
        nominal time on a 4-core host, so a run's work does not depend on
        the host's speed: at least one; in a traced run at least three,
        alternating untraced and traced."""
        self.first_op = time.time()
        self.values["load1m"] = os.getloadavg()[0]
        steal0, total0 = _stat_ticks()
        n = max(3 if self.tracer else 1, math.floor(self.seconds / pass_s))
        for i, body in enumerate(passes[:n]):
            traced = self.tracer is not None and i % 2 == 1
            self._in_traced_pass = traced
            tracing.activate(self.tracer if traced else None)
            t0 = time.perf_counter()
            body()
            self.pass_walls.append((traced, time.perf_counter() - t0))
            if traced:
                self.stats.clear()
                self.tracer.op = None
        self._in_traced_pass = False
        tracing.activate(None)
        steal1, total1 = _stat_ticks()
        self.values["steal_pct"] = 100.0 * (steal1 - steal0) / max(total1 - total0, 1)

    def pass_s(self) -> float:
        """The time of one pass, each of its ops at the median latency of
        its slot over the untraced passes: one slow op (a GC pause, a host
        stall) moves it no more than any other op does."""
        passes = sum(not traced for traced, _ in self.pass_walls)
        slots: dict[str, list[float]] = {}
        for _, slot, s in self.samples:
            slots.setdefault(slot, []).append(s)
        return sum(statistics.median(v) * len(v) / passes for v in slots.values())

    def metrics(self) -> dict[str, float]:
        lat = [s for _, _, s in self.samples]
        out = {
            "setup_s": self.first_op - T0,
            "wall_s": self.pass_s(),
            "op_p50_ms": statistics.median(lat) * 1e3,
            "fail_frac": self.tally.fail_frac,
            "host.load1m": self.values["load1m"],
            "host.steal_pct": self.values["steal_pct"],
        }
        for kind in {k for k, _, _ in self.samples}:  # e.g. neighbors_p50_ms
            out[f"{kind}_p50_ms"] = statistics.median(s for k, _, s in self.samples if k == kind) * 1e3
        for key in ("ingest_s", "sources.files_parsed"):
            if key in self.values:
                out[key] = self.values[key]
        if self.tracer:
            out.update(self._layers())
        return out

    def _layers(self) -> dict[str, float]:
        ops = self.traced_ops
        n = max(len(ops), 1)
        per_op = self.tracer.self_ms(ops)
        per_op_calls = self.tracer.calls(ops)
        whole = self.tracer.self_ms()
        out = {f"{name}_ms": ms / n for name, ms in per_op.items()
               if not name.startswith(("sources.", "graph.save"))}
        out.update({
            "graph.load_calls_per_op": per_op_calls.get("graph.load", 0) / n,
            "functions.calls": per_op_calls.get("functions.kernel", 0) / n,
            "operators.kernel_calls": per_op_calls.get("operators.kernel", 0) / n,
            "mutations.ops_replayed": per_op_calls.get("mutations.ops_replayed", 0) / n,
            "service.info_store_calls": per_op_calls.get("service.info_store_get", 0) / n,
            "graph.save_ms": whole.get("graph.save", 0.0),
        })
        for name in ("sources.scan", "sources.parse", "sources.graph_build"):
            out[f"{name}_ms"] = whole.get(name, 0.0)
        spark = self.stats.totals()
        for key in ("jobs", "stages", "tasks", "task_ms", "sched_wait_ms"):
            out[f"spark.{key}_per_op"] = spark[key] / n
        for key in ("shuffle_read_bytes", "shuffle_write_bytes", "gc_ms"):
            out[f"spark.{key}"] = spark[key]
        for part in ("build", "run"):
            jobs = self.stats.totals([g for g in self.stats.groups if g.endswith(":" + part)])
            out[f"registry.{part}_jobs"] = jobs["jobs"] / n
        traced = [w for t, w in self.pass_walls if t]
        out["trace.overhead_frac"] = statistics.median(traced) / statistics.median(
            w for t, w in self.pass_walls if not t) - 1
        return out

    def write_spans(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as fh:
            json.dump({"fields": ["name", "start", "end", "parent", "op"],
                       "spans": self.tracer.spans}, fh)


def stop_spark(spark) -> None:
    """Stops the session, then the gateway JVM, and waits until every
    process this one started has exited (it leads its own session)."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    if gateway is not None:
        gateway.shutdown()
        proc = getattr(gateway, "proc", None)
        if proc is not None:
            proc.stdin.close()
            proc.wait(timeout=60)
    sid, me = os.getsid(0), os.getpid()
    deadline = time.time() + 30
    while time.time() < deadline and any(p != me for p in session_pids(sid)):
        time.sleep(0.1)


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(description=__doc__)
    p.add_argument("--workload", required=True, choices=("serve_read", "olap"))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args(argv)
    work = os.environ["PERFBENCH_WORK"]
    if args.trace:
        tracing.install()  # before __spark_entry__ imports the registry
    from code_graph_backend_spark.session import get_spark

    from . import olap, serve

    spark = get_spark(app_name=f"perfbench-{args.workload}")
    spark.sparkContext.setLogLevel("ERROR")
    try:
        run = Run(spark, args.seed, args.seconds, bool(args.trace), work)
        {"serve_read": serve, "olap": olap}[args.workload].run(run)
        metrics = run.metrics()
    finally:
        tracing.activate(None)
        stop_spark(spark)
        shutil.rmtree(work, ignore_errors=True)
    if run.tracer:
        run.write_spans(os.path.join(os.environ["PERFBENCH_OUT"],
                                     f"spans-{args.workload}-{args.seed}.json"))
    for op in run.tally.failed:
        run.log(f"wrong or failed: {op}")
    print(json.dumps({"correct": not run.tally.failed, "attempted": run.tally.attempted,
                      "failed": len(run.tally.failed), "values": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
