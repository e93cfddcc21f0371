"""Tier-4 endpoint tests (reference tests/endpoints/*), on a local fixture
repo instead of a live GitHub clone. Invariant-style assertions mirror the
reference: path odd-length/endpoints (test_find_paths.py:76-80), prefix
property (test_auto_complete.py:49-50), exact repo lists
(test_list_repos.py:29-54)."""

from __future__ import annotations

import subprocess

import pytest

from code_graph_backend_spark.service import CodeGraphService

SRC = '''\
def low(x: int) -> int:
    return x + 1

def mid(x: int) -> int:
    return low(x) * 2

def top(x: int) -> int:
    return mid(low(x))

class Helper:
    def run(self):
        return top(1)
'''


@pytest.fixture(scope="module")
def svc(spark, tmp_path_factory):
    root = tmp_path_factory.mktemp("graphs")
    repo = tmp_path_factory.mktemp("repo")
    (repo / "main.py").write_text(SRC)
    for cmd in (
        ["git", "init", "-q"],
        ["git", "add", "."],
        ["git", "-c", "user.email=t@t", "-c", "user.name=t", "commit", "-qm", "init"],
    ):
        subprocess.run(cmd, cwd=repo, check=True)
    s = CodeGraphService(spark, str(root))
    s.analyze_repo(str(repo), "fixture")
    return s


def test_list_repos_hides_git_graphs(svc):
    assert svc.list_repos() == ["fixture"]


def test_repo_info_counts(svc):
    info = svc.repo_info("fixture")
    assert info["node_count"] > 0 and info["edge_count"] > 0
    assert "commit" in info


def test_graph_entities_capped(svc):
    sub = svc.graph_entities("fixture", limit=3)
    assert 0 < len(sub["nodes"]) and len(sub["edges"]) >= 0


def test_auto_complete_prefix_contract(svc):
    res = svc.auto_complete("fixture", "lo")
    assert res and all(r["name"].startswith("lo") for r in res)
    assert len(res) <= 10


def test_get_neighbors(svc, spark):
    from code_graph_backend_spark.graph.model import PropertyGraph
    from pyspark.sql import functions as F

    g = PropertyGraph.load(spark, svc.root, "fixture")
    mid_id = g.nodes.filter(F.col("name") == "mid").collect()[0]["id"]
    names = {n["name"] for n in svc.get_neighbors("fixture", [mid_id], edge_type="CALLS")}
    assert "low" in names


def test_find_paths_invariants(svc, spark):
    from code_graph_backend_spark.graph.model import PropertyGraph
    from pyspark.sql import functions as F

    g = PropertyGraph.load(spark, svc.root, "fixture")
    ids = {r["name"]: r["id"] for r in g.nodes.collect()}
    paths = svc.find_paths("fixture", ids["top"], ids["low"])
    assert paths, "top -> low is reachable via mid and directly"
    for p in paths:
        assert len(p) % 2 == 1  # interleaved node/edge/node...
        assert p[0]["id"] == ids["top"] and p[-1]["id"] == ids["low"]
    # two distinct call paths: top->low and top->mid->low
    assert {len(p) for p in paths} == {3, 5}


def test_list_commits(svc):
    commits = svc.list_commits("fixture")
    assert len(commits) == 1
    assert commits[0]["doc"] == "init"  # message


def test_chat_templates(svc):
    n = svc.chat("fixture", "how many functions are there?")["answer"]
    assert n >= 4
    unreachable = svc.chat("fixture", "which functions are unreachable?")["answer"]
    assert isinstance(unreachable, list)


def test_switch_commit_forward_and_back(svc, tmp_path):
    """POST /switch_commit both directions (reference api/index.py:419-451 +
    git_utils.py:260-333): the read endpoints serve each commit's state
    right after the switch."""
    repo = tmp_path / "travel"
    repo.mkdir()
    (repo / "main.py").write_text(SRC)
    git = ["git", "-c", "user.email=t@t", "-c", "user.name=t"]
    subprocess.run(["git", "init", "-q"], cwd=repo, check=True)
    subprocess.run(["git", "add", "."], cwd=repo, check=True)
    subprocess.run([*git, "commit", "-qm", "c0"], cwd=repo, check=True)
    c0 = subprocess.run(["git", "rev-parse", "HEAD"], cwd=repo, check=True,
                        capture_output=True, text=True).stdout.strip()
    (repo / "extra.py").write_text("from main import low\n\ndef added():\n    return low(2)\n")
    subprocess.run(["git", "add", "."], cwd=repo, check=True)
    subprocess.run([*git, "commit", "-qm", "c1"], cwd=repo, check=True)
    c1 = svc.analyze_repo(str(repo), "travel")["head"]

    def served():
        names = {n["name"] for n in svc.graph_entities("travel")["nodes"]}
        return names, [n["name"] for n in svc.auto_complete("travel", "add")]

    at_c1 = served()
    assert "added" in at_c1[0] and at_c1[1] == ["added"]
    back = svc.switch_commit("travel", c0)
    assert back["commit"] == c0 == svc.repo_info("travel")["commit"]
    names, completed = served()
    assert "added" not in names and "low" in names and completed == []
    assert svc.repo_info("travel")["node_count"] == back["nodes"]
    # forward through a second service on its own session, as another
    # server process sharing the root would switch: its writes cannot drop
    # svc's cached handles, so svc must see the new stored version
    other = CodeGraphService(svc.spark.newSession(), svc.root)
    fwd = other.switch_commit("travel", c1)
    assert served() == at_c1
    assert svc.repo_info("travel")["node_count"] == fwd["nodes"] > back["nodes"]
    svc.delete_repo("travel")


def test_reads_share_one_graph_handle_per_stored_version(svc, tmp_path):
    from code_graph_backend_spark import memo

    v1, v2 = tmp_path / "v1", tmp_path / "v2"
    for d, extra in ((v1, ""), (v2, "\ndef h():\n    return f()\n")):
        d.mkdir()
        (d / "solo.py").write_text("def f():\n    return g()\n\ndef g():\n    return 1\n" + extra)
    svc.analyze_folder(str(v1), "versioned")
    first = svc._graph("versioned")
    assert svc._graph("versioned") is first
    ids = {r["name"]: r["id"] for r in first.nodes.collect()}
    misses = memo.stats()["misses"]
    for _ in range(2):  # the second request reuses the first's typed edge set
        assert len(svc.find_paths("versioned", ids["f"], ids["g"])) == 1
    assert memo.stats()["misses"] == misses + 1
    svc.analyze_folder(str(v2), "versioned")  # a rewrite is a new version
    second = svc._graph("versioned")
    assert second is not first
    assert "h" in {r["name"] for r in second.nodes.collect()}
    svc.delete_repo("versioned")


def test_reanalysis_serves_the_new_state(svc, tmp_path):
    """A second analyze_folder of a changed path stores and serves the new
    source, not the first parse."""
    (tmp_path / "a.py").write_text("def f():\n    return g()\n\ndef g():\n    return 1\n")
    svc.analyze_folder(str(tmp_path), "again")
    assert svc.auto_complete("again", "h") == []
    with open(tmp_path / "a.py", "a") as fh:
        fh.write("\ndef h():\n    return f()\n")
    (tmp_path / "b.py").write_text("def k():\n    return 1\n")
    svc.analyze_folder(str(tmp_path), "again")
    assert [n["name"] for n in svc.auto_complete("again", "h")] == ["h"]
    ids = {n["name"]: n["id"] for n in svc.auto_complete("again", "")}
    assert set(ids) == {"a.py", "b.py", "f", "g", "h", "k"}
    assert [n["name"] for n in svc.get_neighbors("again", [ids["h"]], "CALLS")] == ["f"]
    svc.delete_repo("again")


def test_repo_info_store_is_shared_through_the_file(svc, spark):
    """The side store's in-process copy follows the file: a fresh service
    over the same root reads what was stored, and each sees the other's
    writes."""
    fresh = CodeGraphService(spark, svc.root)
    assert fresh.repo_info("fixture")["commit"] == svc.repo_info("fixture")["commit"]
    fresh._info.set("fixture", note="from fresh")
    assert svc.repo_info("fixture")["note"] == "from fresh"


def test_repo_info_store_launches_no_spark_job(spark, tmp_path):
    """The side store reads and writes on the driver: `set` and `delete`
    launch no Spark job, and a table written by Spark still reads."""
    import json

    from code_graph_backend_spark.service.api import RepoInfoStore

    (spark.createDataFrame([("old", json.dumps({"commit": "c0"}))], "repo string, info string")
     .coalesce(1).write.parquet(str(tmp_path / "_repo_info.parquet")))
    store, sc = RepoInfoStore(str(tmp_path)), spark.sparkContext
    try:
        sc.setJobGroup("info-store", "info-store")
        assert store.get("old") == {"commit": "c0"}
        store.set("new", commit="c1")
        store.delete("old")
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        assert list(sc.statusTracker().getJobIdsForGroup("info-store")) == []
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    fresh = RepoInfoStore(str(tmp_path))
    assert (fresh.get("new"), fresh.get("old")) == ({"commit": "c1"}, {})


def test_delete_repo_releases_its_cached_state(svc, tmp_path):
    from code_graph_backend_spark import memo
    from code_graph_backend_spark.operators.traversal import _typed_edges

    (tmp_path / "solo.py").write_text("def f():\n    return g()\n\ndef g():\n    return 1\n")
    svc.analyze_folder(str(tmp_path), "gone")
    g = svc._graph("gone")
    assert svc._resident("gone") is not None
    _typed_edges(g.edges, "CALLS")

    def naming():
        return [k for k in memo._CACHE
                if k[2:4] == (svc.root, "gone") or any(p is g.edges for p in k)]

    assert len(naming()) == 3  # handle, resident copy, typed edge set
    svc.delete_repo("gone")
    assert naming() == []


def test_delete_repo(svc, spark, tmp_path):
    (tmp_path / "solo.py").write_text("def f():\n    return 1\n")
    svc.analyze_folder(str(tmp_path), "doomed")
    assert "doomed" in svc.list_repos()
    svc.delete_repo("doomed")
    assert "doomed" not in svc.list_repos()


def test_encode_node_coverage_wire_name():
    """Wire parity: coverage serializes under the reference's (misspelled)
    property name coverage_precentage (api/graph.py:470-476)."""
    from pyspark.sql import Row

    from code_graph_backend_spark.service.api import _encode_node

    out = _encode_node(Row(id=1, labels=["File", "Searchable"], name="a.py",
                           coverage=0.5))
    assert out["coverage_precentage"] == 0.5
    assert "coverage" not in out
    assert out["labels"] == ["File"]
