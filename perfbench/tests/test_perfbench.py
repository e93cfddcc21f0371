"""The benchmark's own tests: `python3 -m pytest perfbench/tests -q`.

The inputs are a function of the seed, a wrong answer is counted as a
failure, and the command leaves no process and no work directory behind.
The last test starts Spark and takes about a minute.
"""

from __future__ import annotations

import glob
import json
import os
import random
import shutil
import subprocess
import sys

import pandas as pd
import pytest

from perfbench import checks, datagen, olap, repogen, serve, tracing

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def _tree_bytes(pkg: repogen.Package, root: str) -> dict[str, bytes]:
    repogen.write_tree(pkg, root)
    out = {}
    for d, _, files in os.walk(root):
        for f in files:
            with open(os.path.join(d, f), "rb") as fh:
                out[os.path.relpath(os.path.join(d, f), root)] = fh.read()
    return out


def test_same_seed_gives_identical_inputs(tmp_path):
    a_repos, a_warm, a_passes = serve.generate(7)
    b_repos, b_warm, b_passes = serve.generate(7)
    assert json.dumps([a_warm, a_passes]) == json.dumps([b_warm, b_passes])
    for name in a_repos:
        assert _tree_bytes(a_repos[name], str(tmp_path / "a" / name)) == \
            _tree_bytes(b_repos[name], str(tmp_path / "b" / name))
    assert olap.generate(7, str(tmp_path / "ta")) == olap.generate(7, str(tmp_path / "tb"))
    for t in olap.TABLES:
        with open(tmp_path / "ta" / f"{t}.parquet", "rb") as fa, \
                open(tmp_path / "tb" / f"{t}.parquet", "rb") as fb:
            assert fa.read() == fb.read(), t


def test_other_seed_gives_other_inputs():
    a_repos, _, a_passes = serve.generate(7)
    b_repos, _, b_passes = serve.generate(8)
    assert a_passes != b_passes
    assert all(a_repos[n].files != b_repos[n].files for n in a_repos)
    a, b = datagen.tables(7, 0.001), datagen.tables(8, 0.001)
    assert not a["lineitem"].equals(b["lineitem"])


def test_early_passes_name_no_target_twice():
    _, warm, passes = serve.generate(7)
    seen = set()
    for req in warm + [r for p in passes[:6] for r in p]:
        kind, repo, *args = req
        names = args[1:] if kind == "chat" else args
        for name in names:
            assert (kind, repo, name) not in seen, req
            seen.add((kind, repo, name))


def test_pass_time_takes_each_slot_at_its_median():
    from perfbench.workload import Run

    run = Run(None, 1, 20.0, False, "")
    run.pass_walls = [(False, 1.0)] * 3
    run.samples = [("a", "a", s) for s in (1.0, 1.0, 9.0)]  # one stall
    run.samples += [("b", "b:x", s) for s in (2.0, 2.0, 2.0, 3.0, 3.0, 3.0)]  # two a pass
    assert run.pass_s() == pytest.approx(1.0 + 2 * 2.5)


@pytest.fixture(scope="module")
def pkg():
    return repogen.make_package(random.Random(3), 4, 6)


def _node(name, **kw):
    return {"name": name, "labels": ["Function"], **kw}


def test_checks_accept_the_true_answer_and_reject_a_corrupted_one(pkg):
    fn = next(f for f in pkg.functions if len(pkg.calls[f]) >= 2)
    good = {"neighbors": [_node(c, edge_type="CALLS") for c in pkg.calls[fn]]}
    assert checks.neighbors(pkg, fn, good)
    assert not checks.neighbors(pkg, fn, {"neighbors": good["neighbors"][1:]})

    n_nodes, n_edges = len(pkg.functions) + len(pkg.file_names), len(pkg.edges())
    assert checks.info(pkg, {"info": {"node_count": n_nodes, "edge_count": n_edges}})
    assert not checks.info(pkg, {"info": {"node_count": n_nodes, "edge_count": n_edges + 1}})

    prefix = pkg.functions[0][:2]
    every = sorted(n for n in pkg.functions + pkg.file_names if n.startswith(prefix))
    good = {"completions": [_node(n) for n in every[:checks.COMPLETE_CAP]]}
    assert checks.complete(pkg, prefix, good)
    assert not checks.complete(pkg, prefix, {"completions": good["completions"] + [_node("zz")]})

    src = fn
    dst = next(d for d in pkg.functions if pkg.paths(src, d, checks.MAX_DEPTH))

    def encode(path):
        seq = []
        for i, n in enumerate(path):
            seq.append(_node(n))
            if i < len(path) - 1:
                seq.append({"src": 0, "dst": 0, "type": "CALLS"})
        return seq

    good = {"paths": [encode(p) for p in pkg.paths(src, dst, checks.MAX_DEPTH)]}
    assert checks.paths(pkg, src, dst, good)
    assert not checks.paths(pkg, src, dst, {"paths": good["paths"] + [encode([src, "nope", dst])]})
    assert not checks.paths(pkg, src, dst, {"paths": good["paths"][1:]})

    ids = {n: i for i, n in enumerate(pkg.functions + pkg.file_names)}
    id_name = {i: n for n, i in ids.items()}
    good = {"entities": {
        "nodes": [{"id": i, "name": n} for n, i in ids.items()],
        "edges": [{"src": ids[a], "dst": ids[b], "type": t} for a, b, t in pkg.edges()]}}
    assert checks.entities(pkg, id_name, good)
    bad = {"entities": {"nodes": good["entities"]["nodes"], "edges": good["entities"]["edges"][1:]}}
    assert not checks.entities(pkg, id_name, bad)

    assert checks.chat(pkg, "count", None, {"response": {"answer": len(pkg.functions)}})
    assert not checks.chat(pkg, "count", None, {"response": {"answer": len(pkg.functions) - 1}})


def test_a_wrong_answer_counts_in_fail_frac(pkg):
    tally = checks.Tally()
    tally.record("right", checks.info(pkg, {"info": {"node_count": 0, "edge_count": 0}}))
    tally.record("also checked", True)
    assert tally.attempted == 2 and tally.failed == ["right"] and tally.fail_frac == 0.5


def test_oracle_comparison_ignores_order_but_not_values():
    a = pd.DataFrame({"k": [1, 2], "v": [0.1, 0.2]})
    assert checks.same_rows(a, a.iloc[::-1][["v", "k"]])
    assert not checks.same_rows(a, a.assign(v=[0.1, 0.3]))
    assert not checks.same_rows(a, a.iloc[:1])


def test_self_time_is_span_minus_its_children():
    t = tracing.Tracer()
    t.spans = [["a", 0.0, 1.0, -1, "op1"], ["b", 0.2, 0.5, 0, "op1"],
               ["c", 0.6, 0.7, 0, "op1"], ["a", 2.0, 2.5, -1, None]]
    ms = t.self_ms({"op1"})
    assert ms["a"] == pytest.approx(600) and ms["b"] == pytest.approx(300)
    assert t.self_ms()["a"] == pytest.approx(1100)


def _run(cwd: str, seconds: str = "1") -> subprocess.CompletedProcess:
    return subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "serve_read", "--seed", "5",
         "--seconds", seconds, "--trace", "0"],
        cwd=cwd, capture_output=True, text=True, timeout=300)


def test_without_the_engine_it_fails_without_a_result(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(os.path.join(ROOT, "perfbench"), tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    proc = _run(str(tmp_path))
    assert proc.returncode != 0
    assert '"correct"' not in proc.stdout


def _spark_tmp() -> set[str]:
    return {d for d in os.listdir("/tmp") if d.startswith(("spark", "blockmgr-", "pyspark"))}


def _spark_processes() -> set[int]:
    out = set()
    for pid in filter(str.isdigit, os.listdir("/proc")):
        try:
            with open(f"/proc/{pid}/cmdline", "rb") as fh:
                cmd = fh.read()
        except OSError:
            continue
        if b"java" in cmd or b"pyspark" in cmd or b"perfbench.workload" in cmd:
            out.add(int(pid))
    return out


def test_command_leaves_no_process_and_no_work_directory():
    procs, tmp = _spark_processes(), _spark_tmp()
    proc = _run(ROOT)
    assert proc.returncode == 0, proc.stderr[-2000:]
    result = json.loads(proc.stdout.splitlines()[-1])
    assert result["correct"] and result["failed"] == 0
    assert _spark_processes() <= procs
    assert _spark_tmp() <= tmp
    assert not glob.glob(os.path.join(ROOT, ".perfbench", "run-*"))
