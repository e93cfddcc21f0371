"""Driver-resident copy of a small stored graph: the serving tier of the
read endpoints.

The reference answers every endpoint from a graph held in server memory
(FalkorDB). Spark's analogue, a shared DataFrame handle, still plans and
launches jobs for each request, which on a small graph is nearly all of a
request's cost. So while a stored graph has at most `ROW_CAP` rows (nodes
plus edges), the service keeps one `ResidentGraph` per stored version
beside its handle and answers every read endpoint from it without a Spark
job: `get_neighbors`, `find_paths`, `graph_entities`, `auto_complete`,
`repo_info`, `list_commits`, and each compiled `chat` intent. Raw Cypher
through `chat` and the registry queries stay on Spark, and above the cap
`service.api.SparkReads` serves with the operators, as before. Each method
here returns what the `SparkReads` method of the same name returns, row
for row up to order where that has none; tests/test_resident.py runs both
paths on the same graphs.
"""

from __future__ import annotations

import math
import re
from bisect import bisect_left, bisect_right
from collections import Counter
from collections.abc import Callable, Iterable, Iterator

import numpy as np
from pyspark.sql import Row

from ..graph.model import PropertyGraph
from ..operators.traversal import simple_paths

# Row cap (nodes + edges) for a resident copy. Measured on a 4-core host
# (build = two counts, one nodes collect, one edges Arrow transfer; held
# bytes from tracemalloc, steady runs of three). This package's own graph,
# 1,363 nodes + 15,841 edges, builds in 0.6-0.7 s and holds 2.3 MB
# (136 B/row, 4.1 MB peak). A generated graph at the cap, 80,000 nodes +
# 920,000 edges (80% CALLS, 20% DEFINES, 60,000 distinct names), builds in
# 9.9-11.1 s and holds 117 MB (117 B/row, 214 MB peak). The in-edge and
# name indexes cost 19 B/row of that: without them the same graphs held
# 2.0 MB (117 B/row) and 98 MB (98 B/row). The build is paid once per
# stored version; the Spark path costs 0.1-0.8 s per request on the
# smallest of these.
ROW_CAP = 1_000_000

# What Spark's `try_cast(string as long)` accepts: an optional sign and
# ASCII digits inside surrounding whitespace.
_LONG = re.compile(r"\s*([+-]?\d+)\s*", re.ASCII)


def _as_long(s: str | None) -> int | None:
    """`try_cast(s AS LONG)`: None when `s` is not an integer or
    overflows a long."""
    m = _LONG.fullmatch(s) if s is not None else None
    v = int(m.group(1)) if m else None
    return v if v is not None and -2**63 <= v < 2**63 else None


def _nulls_first(s: str | None) -> tuple[bool, str]:
    """Sort key of Spark's ascending string order: NULL first, then by
    code point (the order of UTF-8 bytes)."""
    return s is not None, s or ""


class _CSR:
    """The edges of one type sorted by one end (stable, so parallel edges
    keep their stored order). `get(node)` lists the other end of each of
    node's edges, one entry per edge, the shape `traversal.simple_paths`
    reads."""

    def __init__(self, keys: np.ndarray, vals: np.ndarray):
        order = np.argsort(keys, kind="stable")
        self.keys, self.vals = keys[order], vals[order]

    def get(self, node: int, default=()) -> list[int]:
        lo = np.searchsorted(self.keys, node, "left")
        return self.vals[lo:np.searchsorted(self.keys, node, "right")].tolist()


class ResidentGraph:
    """Id-sorted nodes with their encoded dicts; per edge type a src-sorted
    CSR (out-edges) and a dst-sorted one (in-edges); a (name, id)-sorted
    index of the named nodes and one of the named `Searchable` nodes; and
    the node counts per label."""

    def __init__(self, rows: list[Row], src: np.ndarray, dst: np.ndarray,
                 types: np.ndarray, encode: Callable[[Row], dict]):
        rows = sorted(rows, key=lambda r: r["id"])
        self.ids = np.array([r["id"] for r in rows], dtype=np.int64)
        self.names = [r["name"] for r in rows]
        self.labels = [frozenset(r["labels"]) for r in rows]
        self.encoded = [encode(r) for r in rows]
        self.pos = {int(i): k for k, i in enumerate(self.ids)}
        self.csr, self.csr_in = {}, {}
        for t in np.unique(types):
            s, d = src[types == t], dst[types == t]
            self.csr[str(t)], self.csr_in[str(t)] = _CSR(s, d), _CSR(d, s)
        # positions are in id order, so (name, position) order is (name, id)
        named = sorted((n, k) for k, n in enumerate(self.names) if n is not None)
        self.name_keys = [n for n, _ in named]
        self.name_pos = [k for _, k in named]
        search = [(n, k) for n, k in named if "Searchable" in self.labels[k]]
        self.search_names = [n for n, _ in search]
        self.search_pos = [k for _, k in search]
        self.label_counts = Counter(l for ls in self.labels for l in ls)
        self.node_count, self.edge_count = len(rows), len(src)

    @classmethod
    def build(cls, g: PropertyGraph, encode: Callable[[Row], dict]) -> "ResidentGraph | None":
        """The copy of `g`, or None when `g` is over the cap or its node ids
        repeat (the operators' joins would then multiply rows)."""
        if g.nodes.count() + g.edges.count() > ROW_CAP:
            return None
        rows = g.nodes.collect()
        e = g.edges.select("src", "dst", "type").toPandas()
        if len({r["id"] for r in rows}) != len(rows):
            return None
        return cls(rows, e["src"].to_numpy(np.int64), e["dst"].to_numpy(np.int64),
                   e["type"].to_numpy(str), encode)

    def _far(self, seeds: Iterable[int], index: dict[str, _CSR], edge_type: str | None,
             label: str | None) -> Iterator[tuple[int, str, int]]:
        """(seed, edge type, position of the far end) for each edge of
        `edge_type` (any type when None) at each seed id in `index`
        (`csr`: out-edges, `csr_in`: in-edges) whose far end is a node with
        `label` (any when None); a repeated seed repeats its edges."""
        types = [t for t in index if edge_type in (None, t)]
        for s in seeds:
            for t in types:
                for d in index[t].get(s):
                    k = self.pos.get(d)
                    if k is not None and (label is None or label in self.labels[k]):
                        yield s, t, k

    def _nodes(self, ks: Iterable[int]) -> list[dict]:
        return [dict(self.encoded[k]) for k in ks]

    def counts(self) -> tuple[int, int]:
        """`aggregates.counts`: (nodes, edges)."""
        return self.node_count, self.edge_count

    def count(self, label: str | None = None) -> int:
        """The number of nodes with `label` (all nodes when None)."""
        return self.node_count if label is None else self.label_counts[label]

    def count_edges(self) -> int:
        return self.edge_count

    def nodes_by_id(self, ids: Iterable[int]) -> dict[int, dict]:
        """The encoded node of each id in `ids` that has one."""
        return {i: dict(self.encoded[self.pos[i]]) for i in ids if i in self.pos}

    def out_neighbors(self, ids: Iterable[int], edge_type: str | None = None,
                      dest_label: str | None = None) -> list[dict]:
        """`neighbors.out_neighbors`, encoded: one dict per (seed, edge)
        whose dst is a node (with `dest_label`), carrying `src_id` and
        `edge_type`; a repeated seed repeats its rows."""
        out = []
        for s, t, k in self._far(map(int, ids), self.csr, edge_type, dest_label):
            enc = self.encoded[k]
            out.append({"id": enc["id"], "labels": enc["labels"],
                        "src_id": s, "edge_type": t, **enc})
        return out

    def named(self, name: str, label: str | None = None) -> list[int]:
        """The ids of the nodes called `name` (with `label`), ascending."""
        if name is None:  # NULL equals nothing
            return []
        lo, hi = bisect_left(self.name_keys, name), bisect_right(self.name_keys, name)
        return [int(self.ids[k]) for k in self.name_pos[lo:hi]
                if label is None or label in self.labels[k]]

    def lowest_ids(self, names: Iterable[str]) -> dict[str, int]:
        """The lowest id of a node called each of `names` that names one."""
        return {n: ids[0] for n in names if (ids := self.named(n))}

    def hop(self, seeds: list[int], edge_type: str, direction: str,
            label: str | None = None) -> list[dict]:
        """The encoded far end of each `edge_type` edge leaving (`"out"`)
        or entering (`"in"`) the `seeds` (from `named`), one per edge,
        when it is a node with `label`."""
        index = self.csr if direction == "out" else self.csr_in
        return self._nodes(k for _, _, k in self._far(seeds, index, edge_type, label))

    def scan(self, label: str, text: str | None = None, limit: int | None = None) -> list[dict]:
        """The nodes with `label` whose name contains `text` (any node when
        None), in id order, at most `limit`."""
        ks = [k for k, ls in enumerate(self.labels) if label in ls
              and (text is None or (self.names[k] is not None and text in self.names[k]))]
        return self._nodes(ks[:limit])

    def unreachable(self, label: str | None) -> list[dict]:
        """`neighbors.unreachable` over CALLS: the nodes (with `label`)
        that no CALLS edge enters, counting edges from ids no node has."""
        calls = self.csr_in.get("CALLS")
        called = np.isin(self.ids, calls.keys) if calls is not None else np.zeros(len(self.ids), bool)
        return self._nodes(k for k in np.flatnonzero(~called).tolist()
                           if label is None or label in self.labels[k])

    def most_called(self, k: int) -> list[dict]:
        """The `k` nodes most often a CALLS dst, by (usage desc, name)."""
        calls = self.csr_in.get("CALLS")
        if calls is None:
            return []
        dst, n = np.unique(calls.keys, return_counts=True)
        rows = [(c, self.names[self.pos[d]]) for d, c in zip(dst.tolist(), n.tolist())
                if d in self.pos]
        rows.sort(key=lambda r: (-r[0], _nulls_first(r[1])))
        return [{"name": name, "usage_count": c} for c, name in rows[:k]]

    def least_covered(self, k: int) -> list[dict]:
        """The `k` File nodes of least coverage, by (coverage, name); NaN
        sorts last, as in Spark."""
        rows = [(c, self.names[i]) for i, enc in enumerate(self.encoded)
                if "File" in self.labels[i] and (c := enc.get("coverage_precentage")) is not None]
        rows.sort(key=lambda r: (math.isnan(r[0]), 0.0 if math.isnan(r[0]) else r[0],
                                 _nulls_first(r[1])))
        return [{"name": name, "coverage": c} for c, name in rows[:k]]

    def commits(self) -> list[dict]:
        """The Commit nodes by (`props.date` as a long, NULL first; id)."""
        dated = [(_as_long((self.encoded[k].get("props") or {}).get("date")), k)
                 for k, ls in enumerate(self.labels) if "Commit" in ls]
        dated.sort(key=lambda r: (r[0] is not None, r[0] or 0, r[1]))
        return self._nodes(k for _, k in dated)

    def sub_graph(self, limit: int = 500) -> list[tuple]:
        """`neighbors.sub_graph` rows (src_id, src_name, edge_type, dst_id,
        dst_name): the `limit` lowest-id nodes, each left-outer joined to
        its out-edges and those to their dst nodes (a dangling dst gives
        dst_id and dst_name None)."""
        k = max(0, min(limit, len(self.ids)))
        src = self.ids[:k]
        hit = np.zeros(k, dtype=bool)
        out = []
        for t, csr in self.csr.items():
            # the sources are the k lowest node ids: an edge from one of
            # them lies before the first src above src[-1]
            n = int(np.searchsorted(csr.keys, src[-1], "right")) if k else 0
            at = np.searchsorted(src, csr.keys[:n])
            for j in np.flatnonzero(src[at] == csr.keys[:n]).tolist():
                a, d = int(at[j]), int(csr.vals[j])
                hit[a] = True
                b = self.pos.get(d)
                out.append((int(src[a]), self.names[a], t,
                            None if b is None else d, None if b is None else self.names[b]))
        out.extend((int(src[a]), self.names[a], None, None, None)
                   for a in np.flatnonzero(~hit).tolist())
        return out

    def auto_complete(self, prefix: str, limit: int = 10) -> list[dict]:
        """`search.auto_complete`, encoded: named `Searchable` nodes whose
        name starts with `prefix`, by (name, id), at most `limit`."""
        out = []
        i = bisect_left(self.search_names, prefix)
        while (len(out) < limit and i < len(self.search_names)
               and self.search_names[i].startswith(prefix)):
            out.append(dict(self.encoded[self.search_pos[i]]))
            i += 1
        return out

    def find_paths(self, src: int, dst: int, edge_type: str,
                   max_depth: int) -> list[tuple[list[int], int]]:
        """`traversal.find_paths` rows (path, depth), sorted by (depth, path)."""
        return simple_paths(self.csr.get(edge_type, {}), int(src), int(dst), max_depth)
