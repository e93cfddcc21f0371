"""The driver-resident serving tier (service/resident.py): every read
endpoint and every compiled chat intent gives the Spark operators' answer,
on this package's own graph and on generated graphs, and launches no Spark
job once the copy is built."""

from __future__ import annotations

import json
import os
from unittest import mock

import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from code_graph_backend_spark.graph.model import EDGES_SCHEMA, NODES_SCHEMA, PropertyGraph
from code_graph_backend_spark.service import CodeGraphService, api, chat, resident
from code_graph_backend_spark.service.chat import ChatPlan

PKG = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
                   "code_graph_backend_spark")


def _canon(items: list) -> list[str]:
    return sorted(json.dumps(x, sort_keys=True, default=str) for x in items)


# intents whose answer has no defined order
UNORDERED = {"unreachable", "name_contains", "callers", "callees", "defined_in",
             "extends", "implements", "entities_in_file"}


def _chat_asks(name: str | None, other: str | None, file: str | None, text: str,
               prefix: str) -> list[tuple[str, dict]]:
    """One or more plans of every compiled chat intent, about the given names."""
    return [
        ("count_label", {"label": "Function"}), ("count_label", {"label": "Class"}),
        ("count_nodes", {}), ("count_edges", {}), ("count_commits", {}), ("list_commits", {}),
        ("unreachable", {"label": "Function"}), ("unreachable", {}),
        ("most_called", {"k": 3}), ("least_covered", {"k": 3}),
        ("paths", {"src": name, "dest": other}), ("paths", {"src": other, "dest": other}),
        ("callers", {"name": name}), ("callers", {"name": other}),
        ("callees", {"name": name}), ("defined_in", {"name": name}),
        ("extends", {"name": other}), ("implements", {"name": other}),
        ("entities_in_file", {"file": file, "label": "Function"}),
        ("entities_in_file", {"file": file, "label": "Class"}),
        ("prefix_search", {"prefix": prefix}),
        ("name_contains", {"label": "Function", "text": text}),
        ("list_label", {"label": "Function", "k": 3}), ("list_label", {"label": "File", "k": 100}),
    ]


def _ask_chat(svc: CodeGraphService, repo: str, intent: str, args: dict):
    """`svc.chat`'s answer to the plan (intent, args)."""
    with mock.patch.object(chat, "compile_question", lambda q: ChatPlan(intent, args, intent)):
        return svc.chat(repo, "?")["answer"]


def _answers(svc: CodeGraphService, repo: str, cap: int, ask: dict) -> dict:
    """Every read endpoint's answer to `ask`, and chat's to each of its
    plans, with the resident copy allowed (a large cap) or refused (cap
    0), in canonical form."""
    svc._forget(repo)
    svc._forget(f"{repo}_git")
    with mock.patch.object(resident, "ROW_CAP", cap):
        assert (svc._resident(repo) is not None) == (cap > 0)
        ent = {limit: svc.graph_entities(repo, limit) for limit in ask["limits"]}
        return {
            "chat": [(i, a, _canon(ans) if i in UNORDERED else ans)
                     for i, a in ask["chat"] for ans in [_ask_chat(svc, repo, i, a)]],
            "commits": svc.list_commits(repo),
            "info": svc.repo_info(repo),
            "neighbors": [_canon(svc.get_neighbors(repo, seeds, et, label))
                          for seeds, et, label in ask["neighbors"]],
            "paths": [svc.find_paths(repo, s, d, ask["depth"]) for s, d in ask["paths"]],
            "complete": [svc.auto_complete(repo, p) for p in ask["prefixes"]],
            "entities": {k: (_canon(v["nodes"]), _canon(v["edges"])) for k, v in ent.items()},
        }


def _same_both_ways(svc: CodeGraphService, repo: str, ask: dict) -> dict:
    on_spark = _answers(svc, repo, 0, ask)
    resident_ = _answers(svc, repo, 10**9, ask)
    assert resident_ == on_spark
    return resident_


def _commit_graph(spark, name: str, root: str, dates: list) -> None:
    """A stored commit graph: one Commit node per date (a string or None),
    each the PARENT of the one before."""
    rows = [(i, ["Commit"], f"c{i}", None, None, None, None, None,
             None if d is None else {"date": d, "seq": str(i)}, None)
            for i, d in enumerate(dates)]
    edges = [(i, i - 1, "PARENT", None) for i in range(1, len(dates))]
    PropertyGraph(spark, name, spark.createDataFrame(rows, NODES_SCHEMA),
                  spark.createDataFrame(edges, EDGES_SCHEMA), root=root).save()


@pytest.fixture(scope="module")
def self_svc(spark, tmp_path_factory):
    svc = CodeGraphService(spark, str(tmp_path_factory.mktemp("self")))
    svc.analyze_folder(PKG, "self")
    svc._info.set("self", commit="abc")
    # dates out of order, a tie, a missing date, a fraction and a non-number
    _commit_graph(spark, "self_git", svc.root,
                  ["30", "10", None, " 20 ", "10", "7.9", "x", "-5"])
    return svc


def _leafward_names(r: resident.ResidentGraph) -> tuple[str, str]:
    """Names (a, b) whose lowest-id nodes a and b are joined by a CALLS
    edge, where no node a calls calls anything: few paths from a to b."""
    calls = r.csr["CALLS"]
    for a in sorted(set(r.name_keys)):
        s = r.named(a)[0]
        outs = calls.get(s)
        if outs and not any(calls.get(d) for d in outs):
            for d in outs:
                b = r.names[r.pos[d]] if d in r.pos else None
                if b is not None and r.named(b)[0] == d:
                    return a, b
    raise AssertionError("no such pair")


def test_self_graph_answers_match_spark(self_svc):
    r = self_svc._resident("self")
    assert r.node_count > 500  # graph_entities takes a 500-node sample
    ids = r.ids.tolist()
    calls = r.csr["CALLS"]
    hubs = sorted(set(calls.keys.tolist()), key=lambda s: -len(calls.get(s)))[:4]
    most_called = r.most_called(1)[0]["name"]
    a, b = _leafward_names(r)
    # callees that call something, so that each pair is two hops apart
    # whatever order the edges were stored in
    two_hop = [(s, calls.get(d)[0]) for s in hubs
               for d in [d for d in calls.get(s) if calls.get(d)][:2]]
    ask = {
        "limits": [500, 7],
        "neighbors": [(hubs + hubs[:1] + [12345], None, None),  # repeated and missing seeds
                      (ids[:40], "DEFINES", None),
                      (hubs, "CALLS", "Function")],
        "paths": two_hop[:4] + [(hubs[0], hubs[0]), (hubs[0], 12345)],
        "depth": 4,
        "prefixes": ["", "get", "_", "sub_", "é", "zzz"],
        "chat": (_chat_asks(a, b, "api.py", "read", "get")
                 + [("callers", {"name": most_called}), ("callees", {"name": "__init__"}),
                    ("defined_in", {"name": "compile_question"}), ("list_label", {"label": "Class", "k": 5}),
                    ("name_contains", {"label": "Class", "text": ""}), ("most_called", {"k": 10})]),
    }
    got = _same_both_ways(self_svc, "self", ask)
    assert got["info"]["commit"] == "abc"
    assert len(got["entities"][500][0]) > 500  # sources plus their out-neighbours
    assert any(got["paths"]) and all(got["neighbors"])
    answers = {(i, json.dumps(a, sort_keys=True)): ans for i, a, ans in got["chat"]}
    assert all(answers[i, json.dumps(a, sort_keys=True)] for i, a in
               [("callers", {"name": most_called}), ("callees", {"name": "__init__"}),
                ("defined_in", {"name": "compile_question"}), ("paths", {"src": a, "dest": b}),
                ("entities_in_file", {"file": "api.py", "label": "Class"})])
    dates = [c.get("props", {}).get("date") for c in got["commits"]]
    assert dates == [None, "7.9", "x", "-5", "10", "10", " 20 ", "30"]


def test_chat_intents_have_one_dispatch():
    """Every intent the compiler can emit has an entry in the one table, so
    none can fall through to another path; and every read primitive the
    Spark side has, the copy has too."""
    assert set(api.CHAT_INTENTS) == chat.VALID_INTENTS
    assert {i for i, _ in _chat_asks("a", "b", "f", "t", "p")} == chat.VALID_INTENTS
    public = {m for m in vars(api.SparkReads) if not m.startswith("_")}
    assert public <= set(vars(resident.ResidentGraph))


def test_reads_launch_no_spark_job(self_svc, spark):
    sc = spark.sparkContext
    r = self_svc._resident("self")  # builds the handle and the copy
    self_svc._resident("self_git")
    a, b = r.csr["CALLS"].keys[0], r.csr["CALLS"].vals[0]
    reads = {
        "repo_info": lambda: self_svc.repo_info("self"),
        "list_commits": lambda: self_svc.list_commits("self"),
        "graph_entities": lambda: self_svc.graph_entities("self"),
        "get_neighbors": lambda: self_svc.get_neighbors("self", [int(a)]),
        "find_paths": lambda: self_svc.find_paths("self", int(a), int(b), 4),
        "auto_complete": lambda: self_svc.auto_complete("self", "get"),
    }
    name, callee = _leafward_names(r)
    for intent, args in _chat_asks(name, callee, "api.py", "read", "get"):
        reads[f"chat-{intent}-{len(reads)}"] = (
            lambda i=intent, x=args: _ask_chat(self_svc, "self", i, x))
    reads["chat-question"] = lambda: self_svc.chat("self", f"who calls {callee}?")
    try:
        for name, read in reads.items():
            group = f"resident-{name}"
            sc.setJobGroup(group, group)
            read()
            sc._jsc.sc().listenerBus().waitUntilEmpty()
            assert list(sc.statusTracker().getJobIdsForGroup(group)) == [], name
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)


NAMES = st.one_of(st.none(), st.sampled_from(["a", "é", "a_"]),  # repeated, often
                  st.text(alphabet="abé日_", max_size=3))
LABELS = st.sampled_from([["Function", "Searchable"], ["File", "Searchable"], ["Class"],
                          ["Class", "Searchable"], ["Commit"]])
PROPS = st.one_of(st.none(), st.just({"k": "v"}),
                  st.builds(lambda d: {"date": d}, st.sampled_from(["1", "2", "-3", "x"])))
IDS = st.integers(-20, 20)


@st.composite
def call_graphs(draw):
    """Nodes with NULL, repeated and non-ASCII names, some Commit nodes
    with and without dates; CALLS, DEFINES, EXTENDS and IMPLEMENTS edges
    between node ids and ids no node has (dangling), with repeats and
    self-loops; and the requests to ask of them."""
    nodes = draw(st.lists(
        st.tuples(IDS, LABELS, NAMES, st.one_of(st.none(), st.floats(0, 1)), PROPS),
        min_size=1, max_size=10, unique_by=lambda n: n[0]))
    ids = [n[0] for n in nodes]
    some_id = st.one_of(st.sampled_from(ids), IDS)
    edges = draw(st.lists(st.tuples(some_id, some_id, st.sampled_from(
        ["CALLS", "DEFINES", "EXTENDS", "IMPLEMENTS"])), max_size=30))
    names = [n[2] for n in nodes if n[2]]
    some_name = st.sampled_from([n[2] for n in nodes] + ["zz"])
    seeds = [draw(st.lists(some_id, min_size=1, max_size=4)) for _ in range(2)]
    src = draw(some_id)
    ask = {
        "limits": [500, draw(st.integers(1, 4))],
        "neighbors": [(seeds[0] + seeds[0][:1], None, None),  # a seed repeats
                      (seeds[1], "CALLS", "Function")],
        "paths": [(src, draw(some_id)), (src, src)],
        "depth": 12,
        "prefixes": ["", draw(st.sampled_from(["a", "é", "日", "_"]
                                              + [n[:1] for n in names]))],
        "chat": _chat_asks(draw(some_name), draw(some_name), draw(some_name),
                           draw(st.sampled_from(["", "a", "é"])), draw(st.sampled_from(["", "a"]))),
    }
    return nodes, edges, ask


@pytest.fixture(scope="module")
def gen_svc(spark, tmp_path_factory):
    return CodeGraphService(spark, str(tmp_path_factory.mktemp("gen")))


@settings(max_examples=8, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture, HealthCheck.too_slow])
@given(case=call_graphs())
def test_generated_graph_answers_match_spark(gen_svc, spark, case):
    nodes, edges, ask = case
    rows = [(i, labels, name, "m.py", ".py", 1, 2, None, props, cov)
            for i, labels, name, cov, props in nodes]
    for name in ("gen", "gen_git"):  # the commit intents read the `_git` graph
        PropertyGraph(spark, name, spark.createDataFrame(rows, NODES_SCHEMA),
                      spark.createDataFrame([(s, d, t, None) for s, d, t in edges], EDGES_SCHEMA),
                      root=gen_svc.root).save()
    got = _same_both_ways(gen_svc, "gen", ask)
    assert got["info"]["node_count"] == len(nodes)
    assert got["info"]["edge_count"] == len(edges)


def test_repeated_node_ids_stay_on_spark(spark):
    """The operators' joins multiply rows for a repeated node id; the copy
    would not, so such a graph gets no copy."""
    from code_graph_backend_spark.service.api import _encode_node

    row = (1, ["Function", "Searchable"], "f", "m.py", ".py", 1, 2, None, None, None)
    g = PropertyGraph(spark, "dup", spark.createDataFrame([row, row], NODES_SCHEMA),
                      spark.createDataFrame([(1, 1, "CALLS", None)], EDGES_SCHEMA))
    assert resident.ResidentGraph.build(g, _encode_node) is None
    g.nodes = spark.createDataFrame([row], NODES_SCHEMA)
    assert resident.ResidentGraph.build(g, _encode_node).node_count == 1
