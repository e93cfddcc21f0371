"""Property-graph data model on DataFrames.

Reference semantics: one labeled property graph per repository, nodes created
with label + core properties + open props map (reference api/graph.py:243-267),
typed directed edges with optional properties (api/graph.py:482-516).

Spark design (SURVEY.md §1.6): two columnar tables per graph —

    nodes(id long, labels array<string>, name, path, ext string,
          src_start int, src_end int, doc string,
          props map<string,string>, coverage double)
    edges(src long, dst long, type string, props map<string,string>)

IDs are deterministic 64-bit hashes of the business key
(labels[0], name, path, src_start, src_end) — the reference's MERGE key
(api/graph.py:250-251). Hash IDs beat monotonically_increasing_id at scale:
they are stable across re-ingest, require no driver round-trip, and let two
independent batches agree on an id without coordination. (Collision odds at
64 bits stay below 1e-6 up to ~200M distinct entities per graph; a 100 TB
deployment with more entities than that would widen to a 128-bit hash pair —
the layout already isolates the id column.)

Storage: parquet, edges partitioned by `type` so type-filtered hops
(`:CALLS`, `:DEFINES`) prune whole files — the Spark analogue of the
reference's label/type pattern pruning (api/graph.py:214-216).
"""

from __future__ import annotations

import glob
import os
import shutil

import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    DoubleType,
    IntegerType,
    LongType,
    MapType,
    StringType,
    StructField,
    StructType,
)

NODES_SCHEMA = StructType(
    [
        StructField("id", LongType(), False),
        StructField("labels", ArrayType(StringType(), False), False),
        StructField("name", StringType(), True),
        StructField("path", StringType(), True),
        StructField("ext", StringType(), True),
        StructField("src_start", IntegerType(), True),
        StructField("src_end", IntegerType(), True),
        StructField("doc", StringType(), True),
        StructField("props", MapType(StringType(), StringType()), True),
        StructField("coverage", DoubleType(), True),
    ]
)

EDGES_SCHEMA = StructType(
    [
        StructField("src", LongType(), False),
        StructField("dst", LongType(), False),
        StructField("type", StringType(), False),
        StructField("props", MapType(StringType(), StringType()), True),
    ]
)

# Columns forming the MERGE business key for entity nodes
# (reference api/graph.py:250-251).
NODE_KEY = ("name", "path", "src_start", "src_end")

# Row bound of the driver-local tier. A graph of at most this many rows
# (nodes plus edges) is served from a driver copy (service/resident.py),
# and a parse of at most this many rows is resolved into a graph on the
# driver (sources/local_resolver.py); above it both stay on Spark.
# For ingest, one analyze_folder of a generated package
# (tools/ingest_crossover.py, 131 parse rows per module, each name defined
# in 4 files) on a 4-core host with a 4g heap, after a one-file warm-up,
# driver path against the Spark plan: 10,480 parse rows 1.7-2.0 s against
# 4.7-5.1 s; 99,560 rows 6.7 s against 12.3 s; 995,600 rows 54 s against
# 76 s, peak RSS 1.8 GB in Python and 1.8 GB in the JVM against 0.15 GB
# and 4.2 GB. With each name defined in 40 files: 99,560 rows 11.2 s
# against 25.1 s; 995,600 rows 75 s against 109 s, 3.2 GB in Python. So
# the driver path stays ahead up to the cap; its Python memory, outside
# the JVM heap, grows with the parse and with how many files define each
# called name.
ROW_CAP = 1_000_000


def node_id_expr(label_col="labels", name="name", path="path", s="src_start", e="src_end"):
    """Deterministic node id: xxhash64 over the MERGE business key.

    The primary label participates so that a Class and Function with the same
    name/span do not collide (mirrors label-scoped MERGE in the reference).
    A string names a column (`label_col` the labels array); a Column is
    used as it is.
    """
    col = lambda c: F.col(c) if isinstance(c, str) else c  # noqa: E731
    lbl = F.element_at(F.col(label_col), 1) if isinstance(label_col, str) else label_col
    return F.xxhash64(
        lbl,
        F.coalesce(col(name), F.lit("")),
        F.coalesce(col(path), F.lit("")),
        F.coalesce(col(s).cast("string"), F.lit("")),
        F.coalesce(col(e).cast("string"), F.lit("")),
    )


class PropertyGraph:
    """A property graph = (nodes DF, edges DF) + a name + optional storage root.

    Mirrors the reference's ``Graph`` object (api/graph.py:35-62) but holds
    DataFrames instead of a FalkorDB connection.
    """

    def __init__(
        self,
        spark: SparkSession,
        name: str,
        nodes: DataFrame | None = None,
        edges: DataFrame | None = None,
        root: str | None = None,
    ):
        self.spark = spark
        self.name = name
        self.root = root
        self.nodes = nodes if nodes is not None else spark.createDataFrame([], NODES_SCHEMA)
        self.edges = edges if edges is not None else spark.createDataFrame([], EDGES_SCHEMA)

    # -- storage ---------------------------------------------------------

    @property
    def _dir(self) -> str:
        if self.root is None:
            raise ValueError("graph has no storage root")
        return os.path.join(self.root, self.name)

    def save(self) -> "PropertyGraph":
        """Persist nodes + edges as parquet; edges partitioned by type
        (partition pruning for type-filtered hops)."""
        nodes_dir = os.path.join(self._dir, "nodes")
        edges_dir = os.path.join(self._dir, "edges")
        # write to temp then swap, so a failed write never corrupts the graph
        for df, d, part in ((self.nodes, nodes_dir, None), (self.edges, edges_dir, "type")):
            tmp = d + "__tmp"
            w = df.write.mode("overwrite")
            if part:
                w = w.partitionBy(part)
            w.parquet(tmp)
            if os.path.exists(d):
                shutil.rmtree(d)
            os.rename(tmp, d)
        # re-point this graph at the files just written: the in-memory plans
        # may still reference the REPLACED directory (load → mutate → save
        # cycles would otherwise read deleted files), and cached file
        # listings for the path are stale either way
        self.spark.catalog.refreshByPath(self._dir)
        reloaded = PropertyGraph.load(self.spark, self.root, self.name)
        self.nodes, self.edges = reloaded.nodes, reloaded.edges
        return self

    def stored_counts(self) -> tuple[int, int]:
        """(nodes, edges) of the stored graph, summed from the row counts
        in its parquet footers: no Spark job."""
        return tuple(
            sum(pq.read_metadata(f).num_rows for f in glob.glob(
                os.path.join(self._dir, part, "**", "*.parquet"), recursive=True))
            for part in ("nodes", "edges")
        )

    def save_bucketed(self, n_buckets: int = 64) -> tuple[str, str]:
        """Register nodes/edges as BUCKETED tables — the co-located-join
        layout for graphs too big to broadcast.

        Bucket keys are the hop-join keys (nodes.id, edges.src), both sides
        sorted within buckets, so `edges ⋈ nodes ON src = id` plans as a
        sort-merge join with ZERO Exchange: at 100 TB the shuffle of the
        edge table — the dominant cost of every repeated traversal-style
        join — is paid once at write time instead of per query. (Per-type
        partitioning in `save()` prunes; bucketing co-locates. A production
        deployment uses both: partition by type, bucket by src.)

        Returns the (nodes, edges) table names; read back via
        `spark.table(...)`. Requires a catalog (in-session by default;
        a shared metastore on a real cluster).
        """
        nt, et = f"{self.name}_nodes_bkt", f"{self.name}_edges_bkt"
        for t in (nt, et):
            # an in-memory catalog forgets tables across sessions while the
            # warehouse files survive; saveAsTable then refuses the location
            self.spark.sql(f"DROP TABLE IF EXISTS {t}")
            loc = os.path.join(
                self.spark.conf.get("spark.sql.warehouse.dir").removeprefix("file:"), t
            )
            if os.path.exists(loc):
                shutil.rmtree(loc)
        (
            self.nodes.write.mode("overwrite")
            .bucketBy(n_buckets, "id").sortBy("id")
            .saveAsTable(nt)
        )
        (
            self.edges.write.mode("overwrite")
            .bucketBy(n_buckets, "src").sortBy("src")
            .saveAsTable(et)
        )
        return nt, et

    def save_range_indexed(self, col: str = "name", n_files: int = 16) -> str:
        """X4: range-index layout for point/range lookups on `col`
        (reference git_graph.py:29-33, `create_node_range_index("Commit",
        "hash")` — commit hashes are looked up point-wise on every
        switch_commit / list_commits).

        Spark analogue of a range index: write the node table
        `repartitionByRange(col)` + `sortWithinPartitions(col)`, so each
        parquet file covers a DISJOINT range of `col` and its footer
        min/max statistics let a pushed `col = x` predicate skip every
        file but one — the scan does file-count work O(1) in graph size,
        not O(files). At 100 TB the same layout serves hash-prefix range
        scans; re-written only when the graph is re-ingested (commit
        history is append-mostly, so the sort cost amortizes).

        Returns the directory; read back with the nodes schema.
        """
        d = os.path.join(self._dir, f"nodes_by_{col}")
        tmp = d + "__tmp"
        (
            self.nodes.repartitionByRange(n_files, F.col(col))
            .sortWithinPartitions(col)
            .write.mode("overwrite")
            .parquet(tmp)
        )
        if os.path.exists(d):
            shutil.rmtree(d)
        os.rename(tmp, d)
        self.spark.catalog.refreshByPath(d)
        return d

    def range_indexed_nodes(self, col: str = "name") -> DataFrame:
        """Read the `save_range_indexed` layout (falls back to the main
        nodes table when the index was never written)."""
        d = os.path.join(self._dir, f"nodes_by_{col}")
        if not os.path.isdir(d):
            return self.nodes
        return self.spark.read.schema(NODES_SCHEMA).parquet(d)

    @classmethod
    def load(cls, spark: SparkSession, root: str, name: str) -> "PropertyGraph":
        d = os.path.join(root, name)
        nodes = spark.read.schema(NODES_SCHEMA).parquet(os.path.join(d, "nodes"))
        # explicit schema: an empty edges table writes no part files, and
        # the partition column `type` must still be present
        edges = spark.read.schema(EDGES_SCHEMA).parquet(os.path.join(d, "edges")).select(
            "src", "dst", "type", "props"
        )
        return cls(spark, name, nodes, edges, root=root)

    # -- catalog (reference api/graph.py:12-32,64-90) ---------------------

    @staticmethod
    def list_graphs(root: str) -> list[str]:
        """S13: list graphs, hiding `_git`/`_schema` internals
        (reference api/graph.py:20-32)."""
        if not os.path.isdir(root):
            return []
        names = sorted(
            n for n in os.listdir(root) if os.path.isdir(os.path.join(root, n, "nodes"))
        )
        return [n for n in names if not n.endswith(("_git", "_schema"))]

    @staticmethod
    def exists(root: str, name: str) -> bool:
        """S14 existence probe (reference api/graph.py:12-18)."""
        return os.path.isdir(os.path.join(root, name, "nodes"))

    def clone(self, new_name: str) -> "PropertyGraph":
        """S11 graph copy (reference api/graph.py:64-83). Parquet file copy —
        no recompute, no poll loop needed (rename is atomic locally; on object
        stores this becomes a metadata-only Delta SHALLOW CLONE)."""
        if self.root is None:
            return PropertyGraph(self.spark, new_name, self.nodes, self.edges)
        src, dst = self._dir, os.path.join(self.root, new_name)
        if os.path.exists(dst):
            shutil.rmtree(dst)
        shutil.copytree(src, dst)
        return PropertyGraph.load(self.spark, self.root, new_name)

    def drop(self) -> None:
        """S12 graph drop (reference api/graph.py:86-90)."""
        if self.root is not None and os.path.exists(self._dir):
            shutil.rmtree(self._dir)

    # -- convenience -----------------------------------------------------

    def register_views(self) -> tuple[str, str]:
        """Expose the graph to raw Spark SQL as `<name>_nodes` /
        `<name>_edges` temp views — the ANSI-SQL face of the engine (the
        reference's users write Cypher templates; ours can write
        `spark.sql("SELECT ... FROM g_nodes JOIN g_edges ON ...")` and get
        the same Catalyst plans the typed operators produce)."""
        nv, ev = f"{self.name}_nodes", f"{self.name}_edges"
        self.nodes.createOrReplaceTempView(nv)
        self.edges.createOrReplaceTempView(ev)
        return nv, ev

    def cypher(self, query: str, params: dict | None = None) -> DataFrame:
        """Run a read-only Cypher template against this graph — the
        reference user's own template strings work verbatim (the ~35
        templates in api/graph.py / git_graph.py; see cypher.py for the
        supported grammar)."""
        from ..cypher import run_cypher

        return run_cypher(self, query, params)

    def with_label(self, label: str) -> DataFrame:
        return self.nodes.filter(F.array_contains("labels", label))

    def edges_of(self, edge_type: str) -> DataFrame:
        return self.edges.filter(F.col("type") == edge_type)

    def counts(self) -> tuple[int, int]:
        """A1/A2 (reference api/graph.py:603-607)."""
        return self.nodes.count(), self.edges.count()
