"""Service surface: the reference's 11 HTTP endpoints as typed methods
(SURVEY.md §3). Flask/HTTP is a thin shell the reference keeps outside its
query layer too — what matters for parity is request → operator → JSON-able
result, which these methods reproduce 1:1.

Reads come from one cached handle per stored version of a graph
(`CodeGraphService._graph`). While the stored graph is under
`resident.ROW_CAP` rows, every read endpoint (`get_neighbors`,
`find_paths`, `graph_entities`, `auto_complete`, `repo_info`,
`list_commits`, and each compiled `chat` intent) answers from a
driver-resident copy built once per version (`CodeGraphService._resident`,
service/resident.py) and launches no Spark job; above the cap `SparkReads`
serves the same calls with the Spark operators. Both give the same
answers. Raw Cypher through `chat` always runs on Spark, as do the
registry queries. The repo side store (`RepoInfoStore`) is read from
parquet once per file version.

Result encoding mirrors api/entities/entity_encoder.py:3-24: nodes/edges as
dicts, `Searchable` stripped from labels.
"""

from __future__ import annotations

import json
import os
import re
import time

from pyspark.sql import DataFrame, Row, SparkSession
from pyspark.sql import functions as F

from ..graph.model import PropertyGraph
from ..memo import cached, invalidate
from ..operators import lookups, neighbors, search, traversal
from ..operators.aggregates import counts
from .resident import ResidentGraph


class RepoInfoStore:
    """Persistent per-repo key-value side store (commit, repo_url, ...) —
    the Spark twin of the reference's Redis `{repo}_info` hash
    (api/info.py:9-88): a tiny single-file parquet table under the storage
    root (SURVEY §1.6), surviving process restarts. Rows are per-repo and
    request-sized; writes go through temp+rename so a crash never corrupts
    the table. The decoded table is kept in process and re-read only when
    the file's (inode, mtime) changes, the version `_graph` keys on too,
    so a read launches no Spark job while another writer leaves the file
    alone."""

    _SCHEMA = "repo string, info string"  # info = JSON dict

    def __init__(self, spark: SparkSession, root: str):
        self.spark = spark
        self.path = os.path.join(root, "_repo_info.parquet")
        self._version: tuple | None = None
        self._data: dict[str, dict] = {}

    def _stat(self) -> tuple | None:
        try:
            s = os.stat(self.path)
        except FileNotFoundError:
            return None
        return s.st_ino, s.st_mtime_ns

    def _read_all(self) -> dict[str, dict]:
        version = self._stat()
        if version is None:
            return {}
        if version != self._version:
            df = self.spark.read.schema(self._SCHEMA).parquet(self.path)
            self._data = {r["repo"]: json.loads(r["info"]) for r in df.collect()}
            self._version = version
        return self._data

    def _write_all(self, data: dict[str, dict]) -> None:
        rows = [(k, json.dumps(v, sort_keys=True)) for k, v in sorted(data.items())]
        df = self.spark.createDataFrame(rows, self._SCHEMA)
        tmp = self.path + "__tmp"
        df.coalesce(1).write.mode("overwrite").parquet(tmp)
        import shutil

        if os.path.exists(self.path):
            shutil.rmtree(self.path)
        os.rename(tmp, self.path)
        self._version, self._data = self._stat(), data

    def get(self, repo: str) -> dict:
        return dict(self._read_all().get(repo, {}))

    def set(self, repo: str, **kv) -> None:
        data = dict(self._read_all())
        data[repo] = {**data.get(repo, {}), **kv}
        self._write_all(data)

    def delete(self, repo: str) -> None:
        data = dict(self._read_all())
        if data.pop(repo, None) is not None:
            self._write_all(data)


def _encode_node(row: Row) -> dict:
    d = row.asDict(recursive=True)
    labels = [l for l in (d.get("labels") or []) if l != "Searchable"]
    out = {"id": d.get("id"), "labels": labels,
           **{k: v for k, v in d.items() if k not in ("id", "labels") and v is not None}}
    # wire-format parity: the reference exposes coverage under its
    # (misspelled) property name (api/graph.py:470-476 coverage_precentage)
    if "coverage" in out:
        out["coverage_precentage"] = out.pop("coverage")
    return out


class SparkReads:
    """The read primitives over a stored graph's DataFrames, each one Spark
    job or more: what serves a graph over `resident.ROW_CAP` rows.
    `ResidentGraph` has a method of the same name and answer for each."""

    def __init__(self, spark: SparkSession, g: PropertyGraph):
        self.spark, self.nodes, self.edges = spark, g.nodes, g.edges

    def _labelled(self, label: str | None) -> DataFrame:
        return self.nodes if label is None else lookups.by_label(self.nodes, label)

    @staticmethod
    def _encoded(df: DataFrame) -> list[dict]:
        return [_encode_node(r) for r in df.collect()]

    def counts(self) -> tuple[int, int]:
        n, e = counts(self.nodes, self.edges).collect()[0]
        return n, e

    def count(self, label: str | None = None) -> int:
        return self._labelled(label).count()

    def count_edges(self) -> int:
        return self.edges.count()

    def nodes_by_id(self, ids) -> dict[int, dict]:
        # An IN-list of the asked ids only, pushed to the parquet scan: at
        # 100 TB a collect of the whole nodes table is a driver OOM.
        ids = sorted(ids)
        return {r["id"]: _encode_node(r) for r in
                self.nodes.filter(F.col("id").isin(ids)).collect()} if ids else {}

    def out_neighbors(self, ids, edge_type: str | None = None,
                      dest_label: str | None = None) -> list[dict]:
        return self._encoded(neighbors.out_neighbors(
            self.spark, self.nodes, self.edges, ids, edge_type, dest_label))

    def named(self, name: str, label: str | None = None) -> DataFrame:
        return self._labelled(label).filter(F.col("name") == name).select("id")

    def lowest_ids(self, names) -> dict[str, int]:
        return dict(self.nodes.filter(F.col("name").isin(list(names)))
                    .groupBy("name").agg(F.min("id")).collect())

    def hop(self, seeds: DataFrame, edge_type: str, direction: str,
            label: str | None = None) -> list[dict]:
        near, far = ("src", "dst") if direction == "out" else ("dst", "src")
        ends = (self.edges.filter(F.col("type") == edge_type)
                .join(seeds.withColumnRenamed("id", near), near)
                .select(F.col(far).alias("id")))
        return self._encoded(self._labelled(label).join(ends, "id"))

    def scan(self, label: str, text: str | None = None, limit: int | None = None) -> list[dict]:
        n = self._labelled(label)
        if text is not None:
            n = n.filter(F.col("name").contains(text))
        return self._encoded(n if limit is None else n.orderBy("id").limit(limit))

    def unreachable(self, label: str | None) -> list[dict]:
        return self._encoded(neighbors.unreachable(
            self.nodes, self.edges, edge_type="CALLS", label=label))

    def most_called(self, k: int) -> list[dict]:
        rows = (
            self.edges.filter(F.col("type") == "CALLS")
            .groupBy("dst").agg(F.count("*").alias("usage_count"))
            .join(self.nodes, F.col("dst") == self.nodes["id"])
            .orderBy(F.desc("usage_count"), "name")
            .limit(k)
            .select("name", "usage_count")
            .collect()
        )
        return [{"name": r["name"], "usage_count": r["usage_count"]} for r in rows]

    def least_covered(self, k: int) -> list[dict]:
        rows = (
            lookups.by_label(self.nodes, "File")
            .filter(F.col("coverage").isNotNull())
            .orderBy(F.col("coverage").asc(), "name")
            .limit(k)
            .select("name", "coverage")
            .collect()
        )
        return [{"name": r["name"], "coverage": r["coverage"]} for r in rows]

    def commits(self) -> list[dict]:
        return self._encoded(lookups.by_label(self.nodes, "Commit")
                             .orderBy(F.col("props").getItem("date").try_cast("long"), "id"))

    def sub_graph(self, limit: int) -> list[Row]:
        return neighbors.sub_graph(self.nodes, self.edges, limit).collect()

    def auto_complete(self, prefix: str, limit: int = 10) -> list[dict]:
        return self._encoded(search.auto_complete(self.nodes, prefix, limit))

    def find_paths(self, src: int, dst: int, edge_type: str, max_depth: int) -> list[Row]:
        return traversal.find_paths(self.spark, self.edges, src, dst,
                                    edge_type=edge_type, max_depth=max_depth).collect()


def _paths(r: "ResidentGraph | SparkReads", src: int, dest: int,
           max_depth: int = 12) -> list[list]:
    """The CALLS paths from `src` to `dest`, each as interleaved [node,
    edge, node, ...] dicts; a path's node that no node row has is given
    as its id alone."""
    paths = r.find_paths(src, dest, "CALLS", max_depth)
    node = r.nodes_by_id({nid for ids, _ in paths for nid in ids}).get
    out = []
    for ids, _depth in paths:
        seq: list = []
        for i, nid in enumerate(ids):
            seq.append(node(nid) or {"id": nid})
            if i < len(ids) - 1:
                seq.append({"src": nid, "dst": ids[i + 1], "type": "CALLS"})
        out.append(seq)
    return out


def _paths_by_name(r, a: dict) -> list[list]:
    """The `paths` intent: paths between the lowest-id nodes called
    a["src"] and a["dest"] (as `lookups.point_by_name` picks one)."""
    ids = r.lowest_ids([a["src"], a["dest"]])
    if a["src"] not in ids or a["dest"] not in ids:
        return []
    return _paths(r, ids[a["src"]], ids[a["dest"]])


def _hop(edge_type: str, direction: str, label: str | None = None):
    """An intent answered by the far ends of the `edge_type` edges at the
    nodes called a["name"]."""
    return lambda r, a: r.hop(r.named(a["name"]), edge_type, direction, label)


# /chat's one dispatch: each compiled intent (chat.VALID_INTENTS) as its
# answer from a graph's read primitives `r` (a ResidentGraph, or SparkReads
# over the cap) and the plan's args. The intents in _ON_GIT_GRAPH read the
# repo's commit graph, `{repo}_git`.
CHAT_INTENTS = {
    "count_label": lambda r, a: r.count(a["label"]),
    "count_nodes": lambda r, a: r.count(),
    "count_edges": lambda r, a: r.count_edges(),
    "count_commits": lambda r, a: r.count("Commit"),
    "list_commits": lambda r, a: r.commits(),
    "unreachable": lambda r, a: r.unreachable(a.get("label")),
    "most_called": lambda r, a: r.most_called(a["k"]),
    "least_covered": lambda r, a: r.least_covered(a.get("k", 10)),
    "prefix_search": lambda r, a: r.auto_complete(a["prefix"]),
    "name_contains": lambda r, a: r.scan(a["label"], text=a["text"]),
    "list_label": lambda r, a: r.scan(a["label"], limit=a["k"]),
    "paths": _paths_by_name,
    "callers": _hop("CALLS", "in"),
    "callees": _hop("CALLS", "out"),
    "defined_in": _hop("DEFINES", "in", "File"),
    "extends": _hop("EXTENDS", "in"),
    "implements": _hop("IMPLEMENTS", "in"),
    "entities_in_file": lambda r, a: r.hop(r.named(a["file"], "File"), "DEFINES", "out",
                                           a.get("label", "Function")),
}
_ON_GIT_GRAPH = frozenset({"count_commits", "list_commits"})


class CodeGraphService:
    """One instance per storage root; graphs addressed by repo name
    (reference keeps one FalkorDB graph per repo, api/graph.py:35-45)."""

    def __init__(self, spark: SparkSession, root: str):
        self.spark = spark
        self.root = root
        self._info = RepoInfoStore(spark, root)  # persistent side-store

    def _version(self, name: str) -> tuple | None:
        """The (inode, mtime) of the stored graph's nodes and edges
        directories, None when it is not stored. `save()` writes each to a
        new directory and renames it into place, so a rewrite always
        changes it."""
        d = os.path.join(self.root, name)
        try:
            return tuple(
                (s.st_ino, s.st_mtime_ns)
                for s in (os.stat(os.path.join(d, p)) for p in ("nodes", "edges"))
            )
        except OSError:
            return None

    def _graph(self, name: str) -> PropertyGraph:
        """The stored graph `name` as one handle per stored version.

        Reads share the handle, so state keyed on its DataFrames (the
        typed edge sets of `traversal._typed_edges`) is built once per
        version, not once per request. Write paths load their own graph,
        since `save()` re-points the graph it is called on. A graph that
        is not stored falls through to `load`, which raises as before."""
        version = self._version(name)
        if version is None:
            return PropertyGraph.load(self.spark, self.root, name)
        return cached(self.spark, ("stored_graph", self.root, name, version),
                      lambda: PropertyGraph.load(self.spark, self.root, name))

    def _resident(self, name: str) -> ResidentGraph | None:
        """The driver-resident copy of the stored graph `name`, one per
        stored version like `_graph`; None when the graph is over
        `resident.ROW_CAP` rows or not stored, and the Spark path
        serves."""
        version = self._version(name)
        if version is None:
            return None
        return cached(self.spark, ("resident_graph", self.root, name, version),
                      lambda: ResidentGraph.build(self._graph(name), _encode_node))

    def _reads(self, name: str) -> ResidentGraph | SparkReads:
        """The read primitives of the stored graph `name`: its resident
        copy, else the Spark operators over its handle."""
        r = self._resident(name)
        return r if r is not None else SparkReads(self.spark, self._graph(name))

    def _forget(self, name: str) -> None:
        """Release every cached handle and copy of `name`, and what was
        derived from them, as eviction would."""
        invalidate(self.spark, lambda k: k[0] in ("stored_graph", "resident_graph")
                   and k[1:3] == (self.root, name))

    # -- read endpoints ---------------------------------------------------

    def list_repos(self) -> list[str]:
        """GET /list_repos (reference api/index.py:184-203, S13)."""
        return PropertyGraph.list_graphs(self.root)

    def repo_info(self, repo: str) -> dict:
        """POST /repo_info (reference api/index.py:205-248, A1+A2+side-store)."""
        n, e = self._reads(repo).counts()
        return {"repo": repo, "node_count": n, "edge_count": e, **self._info.get(repo)}

    def graph_entities(self, repo: str, limit: int = 500) -> dict:
        """POST /graph_entities (reference api/index.py:53-94, J4+O3)."""
        nodes, edges = {}, []
        for src_id, src_name, edge_type, dst_id, dst_name in self._reads(repo).sub_graph(limit):
            nodes[src_id] = {"id": src_id, "name": src_name}
            if edge_type is not None:
                nodes[dst_id] = {"id": dst_id, "name": dst_name}
                edges.append({"src": src_id, "dst": dst_id, "type": edge_type})
        return {"nodes": list(nodes.values()), "edges": edges}

    def get_neighbors(self, repo: str, node_ids: list[int],
                      edge_type: str | None = None, label: str | None = None) -> list[dict]:
        """POST /get_neighbors (reference api/index.py:97-144, J1)."""
        return self._reads(repo).out_neighbors(node_ids, edge_type, label)

    def auto_complete(self, repo: str, prefix: str) -> list[dict]:
        """POST /auto_complete (reference api/index.py:146-182, X3)."""
        return self._reads(repo).auto_complete(prefix)

    def find_paths(self, repo: str, src: int, dest: int, max_depth: int = 12) -> list[list]:
        """POST /find_paths (reference api/index.py:250-303, J6).

        Returns interleaved [node, edge, node, ...] dicts per path
        (reference api/graph.py:577-591); invariant: odd length, endpoints
        match src/dest (tests/endpoints/test_find_paths.py:76-80).
        """
        return _paths(self._reads(repo), src, dest, max_depth)

    def list_commits(self, repo: str) -> list[dict]:
        """POST /list_commits (reference api/index.py:453-489, O1)."""
        return self._reads(f"{repo}_git").commits()

    def chat(self, repo: str, question: str) -> dict:
        """POST /chat (reference api/index.py:305-328): text → query.

        The reference ships the ontology to an LLM that emits Cypher and
        executes it (api/llm.py:237-267). Here the GENERATION step is the
        deterministic compiler in service/chat.py (same ontology, a
        ChatPlan instead of Cypher text); execution looks the plan's
        intent up in `CHAT_INTENTS`, over the same read primitives every
        endpoint uses. The returned `query` is the Cypher-equivalent
        statement, mirroring the reference's response shape."""
        from .chat import compile_question

        # Raw Cypher passes straight through the read front-end — the
        # reference's chat ultimately executes generated Cypher, so a user
        # pasting a template gets it run verbatim (cypher.py subset).
        stripped = question.strip()
        if stripped.upper().startswith(("MATCH", "OPTIONAL MATCH")):
            from ..cypher import CypherError

            g = self._graph(repo)
            try:
                rows = [r.asDict(recursive=True) for r in
                        g.cypher(stripped).limit(500).collect()]
                return {"answer": rows, "query": stripped}
            except CypherError:
                # Not (subset-)valid Cypher after all — e.g. a natural-
                # language question that happens to start with "match
                # functions defined in ...". Fall through to the
                # deterministic compiler instead of surfacing a parse
                # error for what was never meant as Cypher.
                pass

        plan = compile_question(question)
        if plan is None:
            return {"answer": None, "query": None, "error": "could not compile question"}
        graph = f"{repo}_git" if plan.intent in _ON_GIT_GRAPH else repo
        return {"answer": CHAT_INTENTS[plan.intent](self._reads(graph), plan.args),
                "query": plan.query}

    # -- ingest endpoints ---------------------------------------------------

    def analyze_folder(
        self, path: str, name: str | None = None, ignore: tuple | list = ()
    ) -> dict:
        """POST /analyze_folder (reference api/index.py:330-381, §3.1 pass 1-2).

        `ignore` is the caller's exclude list (reference
        analyzer.analyze_local_folder(path, g, ignore)) — path substrings
        filtered out of the scan alongside the built-in dep containers."""
        from ..sources.python_analyzer import graph_from_parsed, parse_files
        from ..sources.source_scan import scan_source_tree

        from ..sources.dependencies import add_dependency_sources

        name = name or path.rstrip("/").rsplit("/", 1)[-1]
        # S3: dependency sources (declared site-packages, extracted maven
        # sources-jars) join the same scan; the main tree scan ignores the
        # venv/temp_deps containers so only DECLARED deps are analyzed.
        dep_roots = add_dependency_sources(path)
        files = scan_source_tree(
            self.spark, [path], exts=(".py", ".java", ".cs", ".c"),
            ignore=("/venv/", "/temp_deps/", *ignore),
        )
        if dep_roots:
            files = files.unionByName(
                scan_source_tree(self.spark, dep_roots, exts=(".py", ".java", ".cs"))
            )
        # binaryFile paths are file: URIs; store REPO-RELATIVE paths so the
        # graph matches git-diff paths (time travel deletes/re-adds by the
        # same key) and is portable across clones.
        prefix = "file:" + os.path.abspath(path).rstrip("/") + "/"
        files = files.withColumn(
            "path", F.replace(F.col("path"), F.lit(prefix), F.lit(""))
        )
        parsed = parse_files(files)
        nodes, edges = graph_from_parsed(self.spark, parsed)
        g = PropertyGraph(self.spark, name, nodes, edges, root=self.root)
        try:
            g.save()
        finally:
            # graph_from_parsed cached the parse; a later scan of this path
            # has the same plan, so Spark would serve this parse again
            parsed.unpersist()
        self._forget(name)
        n, e = g.counts()
        return {"repo": name, "nodes": n, "edges": e}

    def _materialize_repo(self, url_or_path: str, name: str | None) -> tuple[str, str]:
        """Reference parity for the URL contract (api/project.py:19-61,
        from_git_repository → _clone_source): `file://` URLs and local BARE
        repositories are cloned into <root>/_clones/<name> via `git clone`
        (re-cloned fresh each call, like the reference's rmtree+clone); a
        plain working-tree path passes through unchanged. Network URLs
        (https/ssh) would take the same clone path — this sandbox has no
        network, which is the one documented divergence."""
        import shutil
        import subprocess

        src = url_or_path
        if src.startswith("file://"):
            src = src[len("file://"):]
        is_bare = (
            os.path.isdir(src)
            and os.path.exists(os.path.join(src, "HEAD"))
            and os.path.isdir(os.path.join(src, "objects"))
            and not os.path.isdir(os.path.join(src, ".git"))
        )
        needs_clone = url_or_path.startswith("file://") or is_bare
        name = name or re.sub(
            r"\.git$", "", src.rstrip("/").rsplit("/", 1)[-1]
        )
        if not needs_clone:
            return src, name
        dest = os.path.join(self.root, "_clones", name)
        if os.path.exists(dest):
            shutil.rmtree(dest)
        os.makedirs(os.path.dirname(dest), exist_ok=True)
        subprocess.run(
            ["git", "clone", "--quiet", src, dest],
            check=True, capture_output=True, text=True,
        )
        return dest, name

    def analyze_repo(self, repo_path: str, name: str | None = None) -> dict:
        """POST /analyze_repo (reference api/index.py:383-417): sources +
        the commit graph (PARENT/CHILD edges, reference git_utils.py:73-258)
        + side-store HEAD. Accepts a working-tree path, a `file://` URL, or
        a local bare repository (cloned first — see _materialize_repo)."""
        from ..sources.git_history import build_commit_graph

        repo_path, name = self._materialize_repo(repo_path, name)
        result = self.analyze_folder(repo_path, name)
        gg = build_commit_graph(self.spark, repo_path, name)
        gg.root = self.root
        gg.save()
        # X4: commit point-lookups (switch_commit) hit the hash-range
        # layout — each parquet file covers a disjoint hash range, so the
        # pushed hash predicate prunes to one file.
        gg.save_range_indexed("name")
        self._forget(gg.name)
        head = _git_head(repo_path)
        self._info.set(name, commit=head, repo_url=repo_path,
                       analyzed_at=int(time.time()))
        return {**result, "head": head}

    def switch_commit(self, repo: str, target_commit: str) -> dict:
        """POST /switch_commit (reference api/index.py:419-451 +
        git_utils.py:260-333).

        The graph becomes a fresh analysis of the target commit: its
        tracked tree is exported from the recorded `repo_url` with `git
        archive` (read-only on the repository) into a temporary directory
        under the root and analysed by `analyze_folder`, as ingest is. A
        switched graph therefore equals an ingest of that commit, whichever
        commit it was switched from. A switch to the recorded commit does
        nothing, and an unknown commit is rejected before any work."""
        import io
        import subprocess
        import tarfile
        import tempfile

        info = self._info.get(repo)
        current = info.get("commit")
        if current is None:
            raise ValueError(f"no recorded commit for {repo!r}")
        if current == target_commit:
            n, e = self._graph(repo).counts()
            return {"repo": repo, "commit": current, "nodes": n, "edges": e}
        # X4 read path (reference git_graph.py:69-85 get_commit): point
        # probe through the hash-range layout — the pushed equality prunes
        # to one parquet file, so validation cost is O(1) in history
        # length, not a full commit scan.
        probe = self._graph(f"{repo}_git").range_indexed_nodes("name").filter(
            F.col("name") == target_commit)
        if probe.limit(1).count() == 0:
            raise ValueError(f"unknown commit {target_commit!r}")
        archive = subprocess.run(
            ["git", "-C", info["repo_url"], "archive", target_commit],
            capture_output=True, check=True,
        ).stdout
        # the tree sits one level down, so no stored-graph listing of the
        # root can mistake a top-level `nodes` directory of it for a graph
        with tempfile.TemporaryDirectory(dir=self.root) as tmp:
            tree = os.path.join(tmp, repo)
            with tarfile.open(fileobj=io.BytesIO(archive)) as tar:
                tar.extractall(tree, filter="data")
            result = self.analyze_folder(tree, repo)
        self._info.set(repo, commit=target_commit)
        return {"repo": repo, "commit": target_commit,
                "nodes": result["nodes"], "edges": result["edges"]}

    def delete_repo(self, repo: str) -> dict:
        g = PropertyGraph.load(self.spark, self.root, repo)
        g.drop()
        self._info.delete(repo)
        self._forget(repo)
        return {"deleted": repo}


def _git_head(repo_path: str) -> str:
    from ..sources.git_ingest import _git

    return _git(repo_path, "rev-parse", "HEAD").strip()


def to_json(obj) -> str:
    return json.dumps(obj, default=str)
