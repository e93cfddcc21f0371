"""switch_commit equals a fresh analysis of the target commit.

Resolution is whole-graph: a call resolves against every definition in
the tree. So the graph that time travel leaves must equal `analyze_folder`
of the target commit's tracked tree (its `git archive`), whichever commit
it was switched from. Graphs are compared by node (name, labels, path)
multisets and by typed edges as (src name/path, type, dst name/path)."""

from __future__ import annotations

import io
import subprocess
import tarfile
import tempfile
from collections import Counter
from pathlib import Path

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from code_graph_backend_spark.graph.model import PropertyGraph
from code_graph_backend_spark.service import CodeGraphService


def _commit(repo: Path, msg: str, day: int) -> str:
    date = f"2024-01-{day:02d}T10:00:00"
    subprocess.run(["git", "add", "-A"], cwd=repo, check=True)
    subprocess.run(
        ["git", "-c", "user.email=t@t", "-c", "user.name=t", "commit",
         "--allow-empty", "-qm", msg],
        cwd=repo, check=True,
        env={"GIT_AUTHOR_DATE": date, "GIT_COMMITTER_DATE": date,
             "PATH": "/usr/bin:/bin:/usr/local/bin"},
    )
    return subprocess.run(["git", "rev-parse", "HEAD"], cwd=repo, check=True,
                          capture_output=True, text=True).stdout.strip()


def _write_tree(repo: Path, files: dict[str, str]) -> None:
    """Make the working tree hold exactly `files` (path → source)."""
    for p in repo.iterdir():
        if p.name != ".git" and p.name not in files:
            p.unlink()
    for name, src in files.items():
        (repo / name).write_text(src)


def _shape(svc: CodeGraphService, name: str) -> tuple[Counter, Counter]:
    g = PropertyGraph.load(svc.spark, svc.root, name)
    nodes = g.nodes.select("id", "name", "labels", "path").collect()
    at = {r["id"]: (r["name"], r["path"]) for r in nodes}
    return (
        Counter((r["name"], tuple(sorted(r["labels"])), r["path"]) for r in nodes),
        Counter((at.get(r["src"]), r["type"], at.get(r["dst"]))
                for r in g.edges.select("src", "type", "dst").collect()),
    )


def _fresh(svc: CodeGraphService, repo: Path, commit: str) -> tuple[Counter, Counter]:
    """The shape of `analyze_folder` over the commit's `git archive`."""
    archive = subprocess.run(["git", "-C", str(repo), "archive", commit],
                             check=True, capture_output=True).stdout
    with tempfile.TemporaryDirectory() as tree:
        with tarfile.open(fileobj=io.BytesIO(archive)) as tar:
            tar.extractall(tree, filter="data")
        svc.analyze_folder(tree, "fresh")
    return _shape(svc, "fresh")


def _module(i: int, calls, extra: bool = False) -> str:
    """m{i}.py: f{i} calls f{j} for each j in `calls`, imported from m{j};
    `extra` adds a helper that calls f{i}."""
    src = "".join(f"from m{j} import f{j}\n" for j in sorted(calls))
    body = " + ".join(f"f{j}()" for j in sorted(calls)) or "0"
    src += f"\n\ndef f{i}():\n    return {body}\n"
    if extra:
        src += f"\n\ndef helper{i}():\n    return f{i}()\n"
    return src


C_ONE = "int cf(int a) { return a + 1; }\n"
C_TWO = C_ONE + "\nint cg(void) { return cf(1); }\n"


def test_switch_back_equals_fresh_analysis(spark, tmp_path):
    """A five-module call chain plus one C file; c1 modifies m1 and
    deletes x.c. Switching back to c0 must give c0's own analysis: the
    f0→f1 call from the unchanged m0 into the changed m1 stays, f1→f2
    resolves to m2's f2 (no stub), and x.c comes back with cf."""
    repo = tmp_path / "repo"
    repo.mkdir()
    subprocess.run(["git", "init", "-q"], cwd=repo, check=True)
    chain = {f"m{i}.py": _module(i, [i + 1] if i < 4 else []) for i in range(5)}
    _write_tree(repo, {**chain, "x.c": C_ONE})
    c0 = _commit(repo, "c0", 1)
    _write_tree(repo, {**chain, "m1.py": _module(1, [2], extra=True)})
    c1 = _commit(repo, "c1", 2)

    svc = CodeGraphService(spark, str(tmp_path / "graphs"))
    assert svc.analyze_repo(str(repo), "chain")["head"] == c1
    out = svc.switch_commit("chain", c0)
    assert out["commit"] == c0 == svc.repo_info("chain")["commit"]

    nodes, edges = _shape(svc, "chain")
    assert (("f0", "m0.py"), "CALLS", ("f1", "m1.py")) in edges
    assert (("f1", "m1.py"), "CALLS", ("f2", "m2.py")) in edges
    assert [n for n in nodes if n[0] == "f2"] == [("f2", ("Function", "Searchable"), "m2.py")]
    assert {n[0] for n in nodes if n[2] == "x.c"} >= {"x.c", "cf"}
    assert (nodes, edges) == _fresh(svc, repo, c0)
    assert (out["nodes"], out["edges"]) == (sum(nodes.values()), sum(edges.values()))


@st.composite
def histories(draw):
    """2–4 modules with cross-module calls and one C file, over 2–4
    commits; each commit adds, modifies or deletes files (at least one
    module stays), and a switch order over all the commits."""
    n = draw(st.integers(2, 4))
    trees = []
    for _ in range(draw(st.integers(2, 4))):
        present = draw(st.lists(st.booleans(), min_size=n, max_size=n))
        if not any(present):
            present[draw(st.integers(0, n - 1))] = True
        tree = {
            f"m{i}.py": _module(i, draw(st.sets(st.sampled_from(
                [j for j in range(n) if j != i]), max_size=2)), draw(st.booleans()))
            for i in range(n) if present[i]
        }
        c = draw(st.sampled_from([None, C_ONE, C_TWO]))
        trees.append(tree if c is None else {**tree, "x.c": c})
    return trees, draw(st.permutations(range(len(trees))))


@settings(max_examples=4, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture, HealthCheck.too_slow])
@given(case=histories())
def test_switch_commit_equals_fresh_analysis(spark, case):
    trees, order = case
    with tempfile.TemporaryDirectory() as work:
        repo = Path(work) / "repo"
        repo.mkdir()
        subprocess.run(["git", "init", "-q"], cwd=repo, check=True)
        hashes = []
        for day, tree in enumerate(trees, 1):
            _write_tree(repo, tree)
            hashes.append(_commit(repo, f"c{day}", day))
        svc = CodeGraphService(spark, str(Path(work) / "graphs"))
        svc.analyze_repo(str(repo), "gen")
        for k in order:
            svc.switch_commit("gen", hashes[k])
            assert svc.repo_info("gen")["commit"] == hashes[k]
            assert _shape(svc, "gen") == _fresh(svc, repo, hashes[k]), f"commit c{k + 1}"


def test_commit_path_reads_a_malformed_date_as_null(spark):
    """`derive_commit_path` orders commits as `list_commits` does: a date
    that is not a number is NULL and sorts first; equal dates break on
    `seq`, then on the hash."""
    from code_graph_backend_spark.graph.model import NODES_SCHEMA
    from code_graph_backend_spark.sources.git_history import derive_commit_path

    commits = [("a", "x", "3"), ("b", "100", "0"), ("c", "100", "1"),
               ("d", "50", "5"), ("e", "100", "1")]
    nodes = spark.createDataFrame(
        [(k, ["Commit"], h, "", None, None, None, None, {"date": d, "seq": s}, None)
         for k, (h, d, s) in enumerate(commits)], NODES_SCHEMA)
    gg = PropertyGraph(spark, "dates_git", nodes, None)
    assert derive_commit_path(gg, "e", "a") == ["e", "c", "b", "d", "a"]
    assert derive_commit_path(gg, "a", "b") == ["a", "d", "b"]
