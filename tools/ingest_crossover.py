"""Time one `analyze_folder` of a generated package on either ingest path.

    python tools/ingest_crossover.py MODULES {local,spark,asis} [REPS] [SHARE]

Generates MODULES Python modules (about 131 parse rows each) in packages of
20 under a temporary directory: each module imports from a sibling and
from the next package, defines a class with two methods and 12 annotated
functions, and each function calls four names. A name is defined in SHARE
packages (default 4), so each call has SHARE same-named candidates.

`local` resolves on the driver whatever the size, `spark` runs the Spark
plan (the cap patched to 0), `asis` keeps `graph.model.ROW_CAP`. After a
warm-up ingest of one file, it times REPS ingests (default 1) and prints
one JSON line: parse rows, wall times, the jobs of the last ingest, the
graph's counts, and the peak RSS of this Python process and of the JVM.
Run one mode per process, so the peaks are that mode's. The measurements
behind `ROW_CAP` used ``SPARK_GRAFT_DRIVER_MEM=4g SPARK_GRAFT_CPUS=4``.
"""

from __future__ import annotations

import json
import os
import resource
import sys
import tempfile
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)
# the parse runs in Python workers, which import the package too
os.environ["PYTHONPATH"] = os.pathsep.join(
    p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)

PER_PACKAGE, FUNCTIONS = 20, 12


def write_package(root: str, modules: int, share: int) -> None:
    n_pkg = max(1, modules // PER_PACKAGE)
    for k in range(n_pkg):
        g, g_next = k // share, ((k + 1) % n_pkg) // share  # name scopes
        d = os.path.join(root, f"pkg{k}")
        os.makedirs(d)
        with open(os.path.join(d, "__init__.py"), "w") as f:
            f.write(f"from .m0 import f{g}_0_0\n")
        for i in range(PER_PACKAGE):
            nxt = (i + 1) % PER_PACKAGE
            lines = [f"from .m{nxt} import f{g}_{nxt}_0",
                     f"from pkg{(k + 1) % n_pkg}.m{i} import f{g_next}_{i}_1 as ext{i}",
                     "import os", "",
                     f"class C{g}_{i}:",
                     f"    def get{g}_{i}(self, k: int) -> str:",
                     f"        return self.run{g}_{i}(k)",
                     f"    def run{g}_{i}(self, k):",
                     "        return os.path.join(k)", ""]
            for j in range(FUNCTIONS):
                lines += [f"def f{g}_{i}_{j}(x: int, y: C{g}_{i}) -> str:",
                          f'    """f {j}"""',
                          f"    z = f{g}_{i}_{(j + 1) % FUNCTIONS}(x) + f{g}_{nxt}_0(x)",
                          f"    return ext{i}(C{g}_{i}().get{g}_{i}(z)) or print(x)", ""]
            with open(os.path.join(d, f"m{i}.py"), "w") as f:
                f.write("\n".join(lines))


def jvm_peak_mb() -> int:
    """VmHWM of the JVM this process launched (read from /proc)."""
    peak = 0
    for pid in filter(str.isdigit, os.listdir("/proc")):
        try:
            with open(f"/proc/{pid}/status") as f:
                status = f.read()
            with open(f"/proc/{pid}/cmdline") as f:
                cmd = f.read()
        except OSError:
            continue
        if "java" in cmd and f"\nPPid:\t{os.getpid()}\n" in status:
            peak = max(peak, *(int(line.split()[1]) for line in status.splitlines()
                               if line.startswith("VmHWM:")))
    return peak // 1024


def main() -> None:
    modules, mode = int(sys.argv[1]), sys.argv[2]
    reps = int(sys.argv[3]) if len(sys.argv) > 3 else 1
    share = int(sys.argv[4]) if len(sys.argv) > 4 else 4

    from code_graph_backend_spark.service import CodeGraphService
    from code_graph_backend_spark.session import get_spark
    from code_graph_backend_spark.sources import python_analyzer
    from code_graph_backend_spark.sources.source_scan import scan_source_tree

    if mode == "spark":
        python_analyzer.ROW_CAP = 0
    elif mode == "local":
        python_analyzer.ROW_CAP = 2**31 - 2  # the most `limit(cap + 1)` takes
    elif mode != "asis":
        raise SystemExit(f"unknown mode {mode!r}")

    with tempfile.TemporaryDirectory() as tmp:
        src = os.path.join(tmp, "src")
        write_package(src, modules, share)
        spark = get_spark(app_name="ingest-crossover")
        spark.sparkContext.setLogLevel("ERROR")
        sc = spark.sparkContext
        svc = CodeGraphService(spark, os.path.join(tmp, "store"))
        tiny = os.path.join(tmp, "tiny")
        os.makedirs(tiny)
        with open(os.path.join(tiny, "a.py"), "w") as f:
            f.write("def f(x: int) -> str:\n    return g(x)\n")
        svc.analyze_folder(tiny, "tiny")

        walls = []
        for r in range(reps):
            sc.setJobGroup(f"ingest{r}", "ingest")
            t = time.perf_counter()
            out = svc.analyze_folder(src, f"g{r}")
            walls.append(round(time.perf_counter() - t, 2))
            sc._jsc.sc().listenerBus().waitUntilEmpty()
            jobs = len(sc.statusTracker().getJobIdsForGroup(f"ingest{r}"))
        sc.setLocalProperty("spark.jobGroup.id", None)
        rows = python_analyzer.parse_files(scan_source_tree(spark, [src], exts=(".py",))).count()
        print(json.dumps({
            "modules": modules, "share": share, "parse_rows": rows, "mode": mode,
            "walls": walls, "jobs": jobs, "nodes": out["nodes"], "edges": out["edges"],
            "py_peak_mb": resource.getrusage(resource.RUSAGE_SELF).ru_maxrss // 1024,
            "jvm_peak_mb": jvm_peak_mb(),
        }), flush=True)


if __name__ == "__main__":
    main()
