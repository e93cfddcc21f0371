"""The one session cache (code_graph_backend_spark/memo.py): its bound,
its LRU order, unpersist on eviction, key scoping, and the wrappers that
serve their results from it."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from code_graph_backend_spark import memo

SF = "/root/testdata/sf0.001"
SF2 = "/root/testdata/sf0.01"


@pytest.fixture()
def small_cache(monkeypatch):
    """An empty cache with a cap of 3. The session's real entries are
    set aside (not evicted) and put back afterwards."""
    saved = memo._CACHE.copy()
    memo._CACHE.clear()
    monkeypatch.setattr(memo, "_CAP", 3)
    yield
    while memo._CACHE:
        memo._release(memo._CACHE.popitem()[1])
    memo._CACHE.update(saved)


def _counting(value):
    calls = []

    def build():
        calls.append(1)
        return value

    return build, calls


def test_cap_is_never_exceeded(spark, small_cache):
    before = memo.stats()["evictions"]
    for i in range(10):
        memo.cached(spark, ("t", i), lambda i=i: i)
        assert memo.stats()["entries"] <= 3
    assert memo.stats()["evictions"] - before == 7


def test_invalidate_drops_matches_and_entries_keyed_on_them(spark, small_cache):
    src = spark.range(3).cache()
    memo.cached(spark, ("src", "a"), lambda: src)
    derived = memo.cached(spark, ("derived", src), lambda: spark.range(2).cache())
    memo.cached(spark, ("src", "b"), lambda: 1)
    assert memo.invalidate(spark, lambda k: k == ("src", "a")) == 2
    assert [k[1:] for k in memo._CACHE] == [("src", "b")]
    assert not src.storageLevel.useMemory and not derived.storageLevel.useMemory


def test_hit_refreshes_recency(spark, small_cache):
    for k in "abc":
        memo.cached(spark, ("t", k), lambda k=k: k)
    hits = memo.stats()["hits"]
    memo.cached(spark, ("t", "a"), lambda: pytest.fail("a must hit"))
    assert memo.stats()["hits"] == hits + 1
    memo.cached(spark, ("t", "d"), lambda: "d")  # evicts b, the least recent
    build_a, calls_a = _counting("a")
    build_b, calls_b = _counting("b")
    memo.cached(spark, ("t", "a"), build_a)
    memo.cached(spark, ("t", "b"), build_b)
    assert calls_a == [] and calls_b == [1]


def test_eviction_unpersists(spark, small_cache):
    from code_graph_backend_spark.graph.model import PropertyGraph

    df = memo.cached(spark, ("t", "df"), lambda: spark.range(10).persist())
    pair = memo.cached(spark, ("t", "pair"), lambda: (
        spark.range(11).persist(), {"x": spark.range(12).persist()}
    ))
    g = memo.cached(spark, ("t", "g"), lambda: PropertyGraph(
        spark, "g", spark.range(13).cache(),
        spark.range(14).selectExpr("id as src", "id as dst").cache(),
    ))
    held = [df, pair[0], pair[1]["x"], g.nodes, g.edges]
    for d in held:
        d.count()
        assert d.storageLevel.useMemory
    for i in range(3):
        memo.cached(spark, ("t", "filler", i), lambda: None)
    for d in held:
        assert not d.storageLevel.useMemory


def test_eviction_keeps_a_live_plan_twin_cached(spark, small_cache):
    # unpersist() uncaches by plan, so evicting `old` must not unpersist
    # the data `new` (same plan, still live) reads from
    old = memo.cached(spark, ("t", "old"), lambda: spark.range(15).persist())
    new = memo.cached(spark, ("t", "new"), lambda: spark.range(15).persist())
    assert old is not new and old.sameSemantics(new)
    new.count()
    for i in range(2):  # the second evicts `old`
        memo.cached(spark, ("t", "filler", i), lambda: None)
    assert memo.stats()["entries"] == 3
    assert new.storageLevel.useMemory
    memo.cached(spark, ("t", "filler", 2), lambda: None)  # evicts `new`
    assert not new.storageLevel.useMemory


def test_new_session_or_sf_dir_misses(spark):
    from code_graph_backend_spark.session import read_table

    a = read_table(spark, SF, "nation")
    assert read_table(spark, SF, "nation") is a
    misses = memo.stats()["misses"]
    assert read_table(spark.newSession(), SF, "nation") is not a
    assert read_table(spark, SF2, "nation") is not a
    assert memo.stats()["misses"] == misses + 2


def test_evicted_dataframe_still_returns_its_rows(spark, small_cache):
    from code_graph_backend_spark.operators.landmarks import landmark_distances

    nodes = spark.createDataFrame([(i,) for i in range(1, 7)], "id long")
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (4, 5), (5, 6)], "src long, dst long"
    )
    held = landmark_distances(nodes, edges, n_landmarks=1, hops=2)
    expected = sorted(map(tuple, held.collect()))
    assert expected == [(1, 1, 0), (1, 2, 1), (1, 3, 2)]
    for i in range(3):
        memo.cached(spark, ("t", "filler", i), lambda: None)
    assert not held.storageLevel.useMemory
    assert sorted(map(tuple, held.collect())) == expected


def test_wrappers_return_the_same_object_on_a_repeat_call(spark):
    from code_graph_backend_spark.functions.bpe import bpe_train
    from code_graph_backend_spark.graph.tpch import build_graph
    from code_graph_backend_spark.operators import undirected as U
    from code_graph_backend_spark.operators.landmarks import landmark_distances
    from code_graph_backend_spark.operators.traversal import _typed_edges
    from code_graph_backend_spark.registry_ext5 import lpa_labels
    from code_graph_backend_spark.session import read_table

    g = build_graph(spark, SF)
    docs = read_table(spark, SF, "documents").filter(F.col("doc_id") < 20)
    calls = {
        "read_table": lambda: read_table(spark, SF, "orders"),
        "build_graph": lambda: build_graph(spark, SF),
        "und_cached": lambda: U.und_cached(spark, g.edges),
        "und_arrays": lambda: U.und_arrays(spark, g.edges),
        "dir_arrays": lambda: U.dir_arrays(spark, g.edges),
        "ids_array": lambda: U.ids_array(spark, g.nodes),
        "dir_cached": lambda: U.dir_cached(spark, g.edges),
        "_typed_edges": lambda: _typed_edges(g.edges, "IN_REGION"),
        "landmark_distances": lambda: landmark_distances(g.nodes, g.edges, 2, 1),
        "bpe_train": lambda: bpe_train(docs, n_merges=2),
        "lpa_labels": lambda: lpa_labels(spark, SF),
    }
    for name, call in calls.items():
        first = call()
        misses = memo.stats()["misses"]
        assert call() is first, name
        assert memo.stats()["misses"] == misses, name
