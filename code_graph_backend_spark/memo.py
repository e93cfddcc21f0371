"""The engine's one session cache.

The reference serves every query from one graph held in server memory;
the analogue here is state derived once per Spark session and reused by
later queries: table handles, the resident graph, typed edge sets,
undirected/directed edge tables and their numpy twins, trained models,
shared curation gates. All of it goes through `cached`.

- Keys hold the objects themselves. `DataFrame` and `SparkSession` hash
  by identity, so a key naming a DataFrame keeps that DataFrame alive
  for as long as the entry lives and can never match a different one.
  Every key starts with the session, so a new session always misses.
- A key must name everything the builder closes over (source tables or
  DataFrames, sf_dir, parameters), plus a tag naming the builder.
- One LRU policy: a hit moves the entry to the most-recent position, so
  the entry a caller just received is the last one evicted.
- Eviction unpersists every DataFrame the entry persisted: the value
  itself, a member of a tuple, list or dict, or a PropertyGraph's nodes
  and edges, unless a live entry holds a DataFrame of the same plan. A
  caller that still holds an evicted DataFrame recomputes it from its
  lineage, with the same rows.
- `invalidate` drops entries whose source is gone (a deleted or rewritten
  stored graph) before LRU would, releasing them as eviction does.
"""

from __future__ import annotations

from collections import OrderedDict
from collections.abc import Callable
from typing import Any

from py4j.protocol import Py4JError
from pyspark.sql import DataFrame, SparkSession

from .graph.model import PropertyGraph

# Entry cap. Measured peaks of live entries (memo.stats()["peak"]), one
# session each: 40 for an oracle pass over all 234 registry queries at
# sf0.01, 15 for a perfbench olap run, 6 for a perfbench serve_read run
# (three served repositories). The cap is about three times the largest.
_CAP = 128

_CACHE: OrderedDict = OrderedDict()
_STATS = {"hits": 0, "misses": 0, "evictions": 0, "invalidations": 0, "peak": 0}


def cached(spark: SparkSession, key: tuple, build: Callable[[], Any]) -> Any:
    """The value for `(spark, *key)`, calling `build()` on a miss.

    `build` persists what it wants resident; the cache only keeps the
    reference and unpersists on eviction."""
    k = (spark, *key)
    if k in _CACHE:
        _CACHE.move_to_end(k)
        _STATS["hits"] += 1
        return _CACHE[k]
    _STATS["misses"] += 1
    value = build()
    _CACHE[k] = value
    while len(_CACHE) > _CAP:
        _release(_CACHE.popitem(last=False)[1])
        _STATS["evictions"] += 1
    _STATS["peak"] = max(_STATS["peak"], len(_CACHE))
    return value


def invalidate(spark: SparkSession, match: Callable[[tuple], bool]) -> int:
    """Drop every entry of `spark` whose key, less the session, satisfies
    `match`, and every entry keyed on a DataFrame a dropped entry held
    (state derived from it, such as a graph handle's typed edge sets).
    Each is released as eviction releases it. Returns the number
    dropped."""
    doomed = {k for k in _CACHE if k[0] is spark and match(k[1:])}
    while True:
        held = [d for k in doomed for d in _frames(_CACHE[k])]
        more = {k for k in _CACHE if k not in doomed and any(p is d for p in k for d in held)}
        if not more:
            break
        doomed |= more
    gone = [_CACHE.pop(k) for k in doomed]
    for value in gone:
        _release(value)
    _STATS["invalidations"] += len(gone)
    return len(gone)


def _frames(value: Any):
    """The DataFrames an entry holds: the value itself, members of a
    tuple, list or dict, or a PropertyGraph's nodes and edges."""
    if isinstance(value, DataFrame):
        yield value
    elif isinstance(value, (tuple, list)):
        for v in value:
            yield from _frames(v)
    elif isinstance(value, dict):
        for v in value.values():
            yield from _frames(v)
    elif isinstance(value, PropertyGraph):
        yield from (value.nodes, value.edges)


def _release(value: Any) -> None:
    """Unpersist what an evicted entry persisted.

    `unpersist()` uncaches by plan: it drops the cached data of every
    DataFrame with the same plan, not only of the one it is called on. So
    a DataFrame is skipped when a live entry holds one with the same plan
    (a table rebuilt over a newer handle of the same source); that entry's
    data stays cached. `is_cached` is set only on the object `persist()`
    was called on, so DataFrames the builder did not persist are skipped."""
    gone = [d for d in _frames(value) if d.is_cached]
    if not gone:
        return
    live = [d for v in _CACHE.values() for d in _frames(v) if d.is_cached]
    for d in gone:
        try:
            if not any(d.sameSemantics(o) for o in live):
                d.unpersist()
        except Py4JError:  # a stopped session's blocks are gone already
            pass


def stats() -> dict:
    """Hit, miss, eviction and invalidation counts, live entries and
    their peak."""
    return {**_STATS, "entries": len(_CACHE)}
