"""Driver-resident copy of a small stored graph: the serving tier of the
read endpoints.

The reference answers every endpoint from a graph held in server memory
(FalkorDB). Spark's analogue, a shared DataFrame handle, still plans and
launches jobs for each request, which on a small graph is nearly all of a
request's cost. So while a stored graph has at most `ROW_CAP` rows (nodes
plus edges), the service keeps one `ResidentGraph` per stored version
beside its handle and answers `get_neighbors`, `find_paths`,
`graph_entities`, `auto_complete` and `repo_info` from it without a Spark
job. Above the cap the Spark operators serve, as before. Each method here
returns what the matching operator returns, row for row up to order;
tests/test_resident.py runs both paths on the same graphs.
"""

from __future__ import annotations

from bisect import bisect_left
from collections.abc import Callable, Iterable

import numpy as np
from pyspark.sql import Row

from ..graph.model import PropertyGraph
from ..operators.traversal import simple_paths

# Row cap (nodes + edges) for a resident copy. Measured on a 4-core host
# (build = two counts, one nodes collect, one edges Arrow transfer; held
# bytes from tracemalloc): this package's own graph, 1,320 nodes + 15,763
# edges, builds in 0.54-1.15 s and holds 1.9 MB (113 B/row); a generated
# graph about ten times larger, 13,000 nodes + 156,000 edges, builds in
# 1.23-1.35 s and holds 18.2 MB (108 B/row, 34 MB peak while building);
# one of 80,000 nodes + 920,000 edges, at the cap, builds in 4.5 s and
# holds 111 MB (207 MB peak). The build is paid once per stored version;
# the Spark path costs 0.1-0.8 s per request on the smallest of these.
ROW_CAP = 1_000_000


class _CSR:
    """The edges of one type, sorted by src (stable, so parallel edges
    keep their stored order). `get(node)` lists node's successors, one
    entry per edge, the shape `traversal.simple_paths` reads."""

    def __init__(self, src: np.ndarray, dst: np.ndarray):
        order = np.argsort(src, kind="stable")
        self.src, self.dst = src[order], dst[order]

    def get(self, node: int, default=()) -> list[int]:
        lo = np.searchsorted(self.src, node, "left")
        return self.dst[lo:np.searchsorted(self.src, node, "right")].tolist()


class ResidentGraph:
    """Id-sorted nodes with their encoded dicts, one CSR per edge type, a
    (name, id)-sorted index of the named `Searchable` nodes, and the
    counts."""

    def __init__(self, rows: list[Row], src: np.ndarray, dst: np.ndarray,
                 types: np.ndarray, encode: Callable[[Row], dict]):
        rows = sorted(rows, key=lambda r: r["id"])
        self.ids = np.array([r["id"] for r in rows], dtype=np.int64)
        self.names = [r["name"] for r in rows]
        self.labels = [frozenset(r["labels"]) for r in rows]
        self.encoded = [encode(r) for r in rows]
        self.pos = {int(i): k for k, i in enumerate(self.ids)}
        self.csr = {str(t): _CSR(src[types == t], dst[types == t]) for t in np.unique(types)}
        search = sorted((self.names[k], int(self.ids[k])) for k in range(len(rows))
                        if self.names[k] is not None and "Searchable" in self.labels[k])
        self.search_names = [n for n, _ in search]
        self.search_pos = [self.pos[i] for _, i in search]
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

    def node(self, nid: int) -> dict | None:
        """The encoded node `nid`, or None when no node has that id."""
        k = self.pos.get(nid)
        return None if k is None else dict(self.encoded[k])

    def out_neighbors(self, ids: Iterable[int], edge_type: str | None = None,
                      dest_label: str | None = None) -> list[dict]:
        """`neighbors.out_neighbors`, encoded: one dict per (seed, edge)
        whose dst is a node (with `dest_label`), carrying `src_id` and
        `edge_type`; a repeated seed repeats its rows."""
        out = []
        types = [t for t in self.csr if edge_type in (None, t)]
        for s in ids:
            s = int(s)
            for t in types:
                for d in self.csr[t].get(s):
                    k = self.pos.get(d)
                    if k is None or (dest_label is not None and dest_label not in self.labels[k]):
                        continue
                    enc = self.encoded[k]
                    out.append({"id": enc["id"], "labels": enc["labels"],
                                "src_id": s, "edge_type": t, **enc})
        return out

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
            n = int(np.searchsorted(csr.src, src[-1], "right")) if k else 0
            at = np.searchsorted(src, csr.src[:n])
            for j in np.flatnonzero(src[at] == csr.src[:n]).tolist():
                a, d = int(at[j]), int(csr.dst[j])
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
