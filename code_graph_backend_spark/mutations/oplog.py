"""Op-log: a state-transition redo log (SURVEY.md §1.5, M7).

Reference design (api/graph.py:92-135, api/git_utils/git_graph.py:116-141,
api/git_utils/git_utils.py:260-333): every mutating query whose result
counters show a change is appended (query, params) to a backlog; backlog
entries ride on PARENT/CHILD commit edges and are replayed verbatim to move
the graph between commits, in either direction. The service's
`switch_commit` does not replay: it analyses the target commit's tree
afresh. The log serves the m7/m8 registry queries and the streaming apply
(`streaming.stateful.streaming_oplog_apply`).

Spark design: we log *logical ops* (op name + JSON params), not query text —
rows `(commit_from, commit_to, seq, op, params_json)` in an append-only
table. Replay dispatches each row to the mutation layer (M1-M6). Param
payloads here are request-sized (per-commit file deltas); a bulk ingest
would stage its batch as parquet and log the path instead — the dispatch
indirection supports both.

Determinism contract (FIXTURES.md §2): replaying HEAD→X→HEAD reproduces the
exact file set of each commit, both directions, multi-hop.
"""

from __future__ import annotations

import json
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..graph.model import EDGES_SCHEMA, NODES_SCHEMA, PropertyGraph
from .delete import cascade_delete
from .merge import merge_edges, merge_nodes


OPLOG_SCHEMA = (
    "commit_from string, commit_to string, seq int, op string, params_json string"
)


@dataclass
class OpLogEntry:
    commit_from: str
    commit_to: str
    seq: int
    op: str
    params_json: str


@dataclass
class OpLog:
    """Append-only transition log + replay dispatcher."""

    entries: list[OpLogEntry] = field(default_factory=list)

    def record(self, commit_from: str, commit_to: str, op: str, params: dict) -> None:
        seq = sum(
            1 for e in self.entries if e.commit_from == commit_from and e.commit_to == commit_to
        )
        self.entries.append(
            OpLogEntry(commit_from, commit_to, seq, op, json.dumps(params, sort_keys=True))
        )

    def transitions(self, commit_from: str, commit_to: str) -> list[OpLogEntry]:
        sel = [
            e for e in self.entries if e.commit_from == commit_from and e.commit_to == commit_to
        ]
        return sorted(sel, key=lambda e: e.seq)

    # -- replay (M7, reference api/graph.py:540-545) -----------------------

    def apply(self, graph: PropertyGraph, entry: OpLogEntry) -> PropertyGraph:
        params = json.loads(entry.params_json)
        spark = graph.spark
        if entry.op == "merge_nodes":
            # fold duplicate ids WITHIN the batch first: MERGE's full_outer
            # join emits one output row per duplicate batch key, so un-
            # folded intra-batch duplicates would duplicate node rows
            # (sequential-apply semantics = last write wins per field,
            # props map-merged — same rule _coalesced uses across batches)
            rows = self._dedup_rows("merge_nodes", params["rows"])
            batch = spark.createDataFrame(
                [_node_row(r) for r in rows], NODES_SCHEMA
            )
            graph.nodes = merge_nodes(graph.nodes, batch)
        elif entry.op == "merge_edges":
            rows = self._dedup_rows("merge_edges", params["rows"])
            batch = spark.createDataFrame(
                [(r["src"], r["dst"], r["type"], r.get("props")) for r in rows],
                EDGES_SCHEMA,
            )
            graph.edges = merge_edges(graph.edges, batch)
        elif entry.op == "delete_cascade":
            graph.nodes, graph.edges = cascade_delete(
                spark, graph.nodes, graph.edges, params["ids"], params.get("edge_type", "DEFINES")
            )
        elif entry.op == "delete_files":
            # Reference delete_files (api/graph.py:408-426): UNWIND $files →
            # MATCH (f:File {path}) → cascade over DEFINES. Params carry
            # PATHS, not ids — the id lookup happens against the live graph
            # at replay time, so the op is position-independent.
            file_ids = [
                r["id"]
                for r in graph.nodes.filter(
                    F.array_contains("labels", "File")
                    & F.col("path").isin(params["paths"])
                ).collect()
            ]
            if file_ids:
                graph.nodes, graph.edges = cascade_delete(
                    spark, graph.nodes, graph.edges, file_ids, "DEFINES"
                )
        elif entry.op == "delete_edges":
            doomed = spark.createDataFrame(
                [(r["src"], r["dst"], r["type"]) for r in params["rows"]],
                "src long, dst long, type string",
            )
            graph.edges = graph.edges.join(doomed, ["src", "dst", "type"], "left_anti")
        else:
            raise ValueError(f"unknown op {entry.op!r}")
        return graph

    @staticmethod
    def _dedup_rows(op: str, rows: list[dict]) -> list[dict]:
        """Collapse duplicate-key rows exactly as sequential replay would:
        merge_nodes' full_outer join emits one output row PER batch row with
        a given key, so coalescing two batches that both touch a key must
        first fold those rows into one. Folding mirrors the MERGE column
        rules (merge.py:80-89): later non-null field wins, `props` maps are
        dict-merged with later keys winning. First-occurrence position is
        kept so relative order stays stable."""
        key = (
            (lambda r: r["id"])
            if op == "merge_nodes"
            else (lambda r: (r["src"], r["dst"], r["type"]))
        )
        folded: dict = {}
        for r in rows:
            k = key(r)
            if k not in folded:
                folded[k] = dict(r)
                continue
            acc = folded[k]
            for f, v in r.items():
                if f == "props":
                    if v:
                        acc["props"] = {**(acc.get("props") or {}), **v}
                elif v is not None:
                    acc[f] = v
        return list(folded.values())

    def _coalesced(self, entries: list[OpLogEntry]) -> list[OpLogEntry]:
        """Merge CONSECUTIVE same-op merge_nodes/merge_edges entries into
        one batched entry. Order across different ops is preserved exactly
        (delete→merge sequences keep their position) and duplicate merge
        keys across the coalesced batches are folded by `_dedup_rows` (last
        write wins per field, props merged) so replay semantics are
        unchanged even when two per-file batches touch the same node (e.g.
        a shared external-symbol node) — but a hop that logged N per-file
        merge batches now costs one createDataFrame + one MERGE instead of
        N, which is what keeps replay cost proportional to hops, not to
        files-per-commit."""
        out: list[OpLogEntry] = []
        for e in entries:
            if (
                out
                and e.op in ("merge_nodes", "merge_edges")
                and out[-1].op == e.op
            ):
                prev = json.loads(out[-1].params_json)
                cur = json.loads(e.params_json)
                prev["rows"] = self._dedup_rows(e.op, prev["rows"] + cur["rows"])
                out[-1] = OpLogEntry(
                    e.commit_from, e.commit_to, out[-1].seq, e.op,
                    json.dumps(prev, sort_keys=True),
                )
            else:
                out.append(e)
        return out

    def replay_path(
        self, graph: PropertyGraph, commit_path: list[str]
    ) -> PropertyGraph:
        """Walk commit hashes `[c0, c1, ..., cn]`, applying each hop's ops in
        order — the Spark twin of switch_commit's PARENT*/CHILD* walk
        (reference api/git_utils/git_utils.py:260-333)."""
        for i, (a, b) in enumerate(zip(commit_path, commit_path[1:])):
            for entry in self._coalesced(self.transitions(a, b)):
                graph = self.apply(graph, entry)
            # cut lineage every few hops: replay chains grow plans linearly
            # otherwise. Not every hop — each checkpoint materializes the
            # whole graph, so short replays (the common switch_commit case)
            # shouldn't pay a full-graph write per hop.
            if (i + 1) % 4 == 0:
                graph.nodes = graph.nodes.localCheckpoint(eager=True)
                graph.edges = graph.edges.localCheckpoint(eager=True)
        return graph

    # -- persistence -------------------------------------------------------

    def to_df(self, spark: SparkSession) -> DataFrame:
        return spark.createDataFrame(
            [(e.commit_from, e.commit_to, e.seq, e.op, e.params_json) for e in self.entries],
            OPLOG_SCHEMA,
        )


def _node_row(r: dict) -> tuple:
    return (
        r["id"],
        r["labels"],
        r.get("name"),
        r.get("path"),
        r.get("ext"),
        r.get("src_start"),
        r.get("src_end"),
        r.get("doc"),
        r.get("props"),
        r.get("coverage"),
    )
