"""Checks of the program's answers against independent oracles.

Serve answers are compared with the generator's own graph (repogen), by
entity name; registry results with DuckDB running the query's
`oracle_sql()` over the same parquet files, after the canonical form of
the engine's correctness tool (column order, NULL/NaN, float precision
and row order do not count).
"""

from __future__ import annotations

import pandas as pd

from tools.check_correctness import canon

from .repogen import Package

MAX_DEPTH = 12  # the service's find_paths default
COMPLETE_CAP = 10  # the reference caps completions at 10


def _names(nodes: list[dict]) -> list[str]:
    return [n.get("name") for n in nodes]


def neighbors(pkg: Package, fn: str, body: dict) -> bool:
    got = body.get("neighbors")
    return (got is not None and sorted(_names(got)) == sorted(pkg.calls[fn])
            and all(n.get("edge_type") == "CALLS" for n in got))


def complete(pkg: Package, prefix: str, body: dict) -> bool:
    got = _names(body.get("completions") or [])
    every = {n for n in pkg.functions + pkg.file_names if n.startswith(prefix)}
    return (len(got) == min(COMPLETE_CAP, len(every)) and len(set(got)) == len(got)
            and all(n.startswith(prefix) for n in got) and set(got) <= every)


def paths(pkg: Package, src: str, dst: str, body: dict) -> bool:
    """The full set of call chains src -> dst (so each one is real)."""
    got = []
    for seq in body.get("paths") or []:
        if any(e.get("type") != "CALLS" for e in seq[1::2]):
            return False
        got.append(tuple(_names(seq[0::2])))
    return sorted(got) == pkg.paths(src, dst, MAX_DEPTH)


def entities(pkg: Package, id_name: dict[int, str], body: dict) -> bool:
    """The whole graph fits under the 500-node cap, so the answer must be
    every node and every edge."""
    ent = body.get("entities") or {}
    nodes = sorted(_names(ent.get("nodes") or []))
    edges = {(id_name.get(e["src"]), id_name.get(e["dst"]), e["type"]) for e in ent.get("edges") or []}
    return (nodes == sorted(pkg.functions + pkg.file_names)
            and len(edges) == len(ent.get("edges") or []) and edges == pkg.edges())


def info(pkg: Package, body: dict) -> bool:
    got = body.get("info") or {}
    return (got.get("node_count") == len(pkg.functions) + len(pkg.file_names)
            and got.get("edge_count") == len(pkg.edges()))


def chat(pkg: Package, kind: str, arg: str | None, body: dict) -> bool:
    ans = (body.get("response") or {}).get("answer")
    if kind == "count":
        return ans == len(pkg.functions)
    if ans is None:
        return False
    if kind == "cypher":
        return sorted(r.get("name") for r in ans) == sorted(pkg.calls[arg])
    if kind == "callees":
        return sorted(_names(ans)) == sorted(pkg.calls[arg])
    if kind == "callers":
        return sorted(_names(ans)) == sorted(pkg.callers(arg))
    if kind == "unreachable":
        return sorted(_names(ans)) == sorted(f for f in pkg.functions if not pkg.callers(f))
    raise ValueError(f"unknown chat check {kind!r}")


def same_rows(engine: pd.DataFrame, oracle: pd.DataFrame) -> bool:
    a, b = canon(engine), canon(oracle)
    return list(a.columns) == list(b.columns) and len(a) == len(b) and a.equals(b)


class Tally:
    """Ops attempted and failed; a wrong answer counts as a failure."""

    def __init__(self) -> None:
        self.attempted = 0
        self.failed: list[str] = []

    def record(self, op: str, ok: bool) -> None:
        self.attempted += 1
        if not ok:
            self.failed.append(op)

    @property
    def fail_frac(self) -> float:
        return len(self.failed) / max(self.attempted, 1)
