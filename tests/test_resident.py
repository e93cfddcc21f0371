"""The driver-resident serving tier (service/resident.py): every branched
read endpoint gives the Spark operators' answer, on this package's own
graph and on generated call graphs, and launches no Spark job once the
copy is built."""

from __future__ import annotations

import json
import os
from unittest import mock

import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from code_graph_backend_spark.graph.model import EDGES_SCHEMA, NODES_SCHEMA, PropertyGraph
from code_graph_backend_spark.service import CodeGraphService, resident

PKG = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
                   "code_graph_backend_spark")


def _canon(items: list) -> list[str]:
    return sorted(json.dumps(x, sort_keys=True, default=str) for x in items)


def _answers(svc: CodeGraphService, repo: str, cap: int, ask: dict) -> dict:
    """Every branched endpoint's answer to `ask`, with the resident copy
    allowed (a large cap) or refused (cap 0), in canonical form."""
    svc._forget(repo)
    with mock.patch.object(resident, "ROW_CAP", cap):
        assert (svc._resident(repo) is not None) == (cap > 0)
        ent = {limit: svc.graph_entities(repo, limit) for limit in ask["limits"]}
        return {
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


@pytest.fixture(scope="module")
def self_svc(spark, tmp_path_factory):
    svc = CodeGraphService(spark, str(tmp_path_factory.mktemp("self")))
    svc.analyze_folder(PKG, "self")
    svc._info.set("self", commit="abc")
    return svc


def test_self_graph_answers_match_spark(self_svc):
    r = self_svc._resident("self")
    assert r.node_count > 500  # graph_entities takes a 500-node sample
    ids = r.ids.tolist()
    calls = r.csr["CALLS"]
    hubs = sorted(set(calls.src.tolist()), key=lambda s: -len(calls.get(s)))[:4]
    two_hop = [(s, d2) for s in hubs for d in calls.get(s)[:2] for d2 in calls.get(d)[:1]]
    ask = {
        "limits": [500, 7],
        "neighbors": [(hubs + hubs[:1] + [12345], None, None),  # repeated and missing seeds
                      (ids[:40], "DEFINES", None),
                      (hubs, "CALLS", "Function")],
        "paths": two_hop[:4] + [(hubs[0], hubs[0]), (hubs[0], 12345)],
        "depth": 4,
        "prefixes": ["", "get", "_", "sub_", "é", "zzz"],
    }
    got = _same_both_ways(self_svc, "self", ask)
    assert got["info"]["commit"] == "abc"
    assert len(got["entities"][500][0]) > 500  # sources plus their out-neighbours
    assert any(got["paths"]) and all(got["neighbors"])


def test_reads_launch_no_spark_job(self_svc, spark):
    sc = spark.sparkContext
    r = self_svc._resident("self")  # builds the handle and the copy
    a, b = r.csr["CALLS"].src[0], r.csr["CALLS"].dst[0]
    reads = {
        "repo_info": lambda: self_svc.repo_info("self"),
        "graph_entities": lambda: self_svc.graph_entities("self"),
        "get_neighbors": lambda: self_svc.get_neighbors("self", [int(a)]),
        "find_paths": lambda: self_svc.find_paths("self", int(a), int(b), 4),
        "auto_complete": lambda: self_svc.auto_complete("self", "get"),
    }
    try:
        for name, read in reads.items():
            group = f"resident-{name}"
            sc.setJobGroup(group, group)
            read()
            sc._jsc.sc().listenerBus().waitUntilEmpty()
            assert list(sc.statusTracker().getJobIdsForGroup(group)) == [], name
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)


NAMES = st.one_of(st.none(), st.text(alphabet="abé日_", max_size=3))
LABELS = st.sampled_from([["Function", "Searchable"], ["File", "Searchable"], ["Class"]])
IDS = st.integers(-20, 20)


@st.composite
def call_graphs(draw):
    """Nodes with NULL and non-ASCII names; edges between node ids and ids
    no node has (dangling), with repeats and self-loops; and the requests
    to ask of them."""
    nodes = draw(st.lists(
        st.tuples(IDS, LABELS, NAMES, st.one_of(st.none(), st.floats(0, 1)),
                  st.one_of(st.none(), st.just({"k": "v"}))),
        min_size=1, max_size=10, unique_by=lambda n: n[0]))
    ids = [n[0] for n in nodes]
    some_id = st.one_of(st.sampled_from(ids), IDS)
    edges = draw(st.lists(st.tuples(some_id, some_id, st.sampled_from(["CALLS", "DEFINES"])),
                          max_size=30))
    names = [n[2] for n in nodes if n[2]]
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
    PropertyGraph(spark, "gen", spark.createDataFrame(rows, NODES_SCHEMA),
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
