"""TPC-H "graph twin": view the driver's star schema as a property graph.

FIXTURES.md §5 prescribes this mapping so every graph operator has an
ANSI-SQL oracle twin: nodes ⇐ customer/supplier/part/orders/nation/region
rows, edges ⇐ orders (Customer-PLACED->Order), lineitem
(Order-CONTAINS->Part, Supplier-SUPPLIES->Part), plus the geographic
dimension hops and a linear NEXT chain over nations (the commit-chain
analogue for variable-length traversal, reference api/git_utils/git_graph.py).

IDs are arithmetic (key + label offset) rather than hashed so the DuckDB
oracle can recompute them with plain SQL. The production ingest path
(mutations.merge) uses xxhash64 business keys instead.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..memo import cached
from ..session import read_table
from .model import PropertyGraph

# Label -> id offset. Same constants are inlined into oracle SQL.
OFF = {
    "Customer": 0,
    "Order": 10_000_000,
    "Part": 20_000_000,
    "Supplier": 30_000_000,
    "Nation": 40_000_000,
    "Region": 50_000_000,
}


def _node(df: DataFrame, key: str, label: str, name_col, path_col=None) -> DataFrame:
    return df.select(
        (F.col(key).cast("long") + F.lit(OFF[label])).alias("id"),
        F.array(F.lit(label), F.lit("Searchable")).alias("labels"),
        F.col(name_col).cast("string").alias("name") if isinstance(name_col, str) else name_col.alias("name"),
        (path_col if path_col is not None else F.lit(label.lower())).alias("path"),
    )


def build_nodes(spark: SparkSession, sf_dir: str) -> DataFrame:
    customer = read_table(spark, sf_dir, "customer")
    supplier = read_table(spark, sf_dir, "supplier")
    part = read_table(spark, sf_dir, "part")
    orders = read_table(spark, sf_dir, "orders")
    nation = read_table(spark, sf_dir, "nation")
    region = read_table(spark, sf_dir, "region")

    return (
        _node(customer, "c_custkey", "Customer", "c_name", F.col("c_mktsegment"))
        .unionByName(_node(supplier, "s_suppkey", "Supplier", "s_name"))
        .unionByName(_node(part, "p_partkey", "Part", "p_name", F.col("p_brand")))
        .unionByName(
            _node(orders, "o_orderkey", "Order", F.concat(F.lit("order-"), F.col("o_orderkey")))
        )
        .unionByName(_node(nation, "n_nationkey", "Nation", "n_name"))
        .unionByName(_node(region, "r_regionkey", "Region", "r_name"))
    )


def build_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    customer = read_table(spark, sf_dir, "customer")
    supplier = read_table(spark, sf_dir, "supplier")
    orders = read_table(spark, sf_dir, "orders")
    lineitem = read_table(spark, sf_dir, "lineitem")
    nation = read_table(spark, sf_dir, "nation")

    placed = orders.select(
        F.col("o_custkey").cast("long").alias("src"),
        (F.col("o_orderkey") + OFF["Order"]).cast("long").alias("dst"),
        F.lit("PLACED").alias("type"),
        F.lit(None).cast("int").alias("pos"),
    )
    contains = lineitem.select(
        (F.col("l_orderkey") + OFF["Order"]).cast("long").alias("src"),
        (F.col("l_partkey") + OFF["Part"]).cast("long").alias("dst"),
        F.lit("CONTAINS").alias("type"),
        F.col("l_linenumber").cast("int").alias("pos"),
    )
    supplies = (
        lineitem.select("l_suppkey", "l_partkey")
        .distinct()
        .select(
            (F.col("l_suppkey") + OFF["Supplier"]).cast("long").alias("src"),
            (F.col("l_partkey") + OFF["Part"]).cast("long").alias("dst"),
            F.lit("SUPPLIES").alias("type"),
            F.lit(None).cast("int").alias("pos"),
        )
    )
    cust_nation = customer.select(
        F.col("c_custkey").cast("long").alias("src"),
        (F.col("c_nationkey") + OFF["Nation"]).cast("long").alias("dst"),
        F.lit("IN_NATION").alias("type"),
        F.lit(None).cast("int").alias("pos"),
    )
    supp_nation = supplier.select(
        (F.col("s_suppkey") + OFF["Supplier"]).cast("long").alias("src"),
        (F.col("s_nationkey") + OFF["Nation"]).cast("long").alias("dst"),
        F.lit("IN_NATION").alias("type"),
        F.lit(None).cast("int").alias("pos"),
    )
    nation_region = nation.select(
        (F.col("n_nationkey") + OFF["Nation"]).cast("long").alias("src"),
        (F.col("n_regionkey") + OFF["Region"]).cast("long").alias("dst"),
        F.lit("IN_REGION").alias("type"),
        F.lit(None).cast("int").alias("pos"),
    )
    # Linear chain over nations ordered by key — the commit-chain analogue
    # (PARENT/CHILD edges, reference api/git_utils/git_graph.py:99-141).
    nxt = nation.select(
        (F.col("n_nationkey") + OFF["Nation"]).cast("long").alias("src"),
        (F.col("n_nationkey") + 1 + OFF["Nation"]).cast("long").alias("dst"),
        F.lit("NEXT").alias("type"),
        F.lit(None).cast("int").alias("pos"),
    ).filter(F.col("dst") < OFF["Nation"] + 25)

    return placed.unionByName(contains).unionByName(supplies).unionByName(
        cust_nation
    ).unionByName(supp_nation).unionByName(nation_region).unionByName(nxt)


def build_graph(spark: SparkSession, sf_dir: str) -> PropertyGraph:
    """The resident graph for (session, sf_dir) — the FalkorDB analogue
    of an in-memory graph, here as cached DataFrames. All read queries
    share the same InMemoryRelation instead of re-scanning parquet per
    query; on a cluster this is `spark.catalog.cacheTable` on the
    nodes/edges tables."""

    def build() -> PropertyGraph:
        g = _build_graph_uncached(spark, sf_dir)
        return PropertyGraph(spark, g.name, g.nodes.cache(), g.edges.cache())

    return cached(spark, ("graph", sf_dir.rstrip("/")), build)


def _build_graph_uncached(spark: SparkSession, sf_dir: str) -> PropertyGraph:
    nodes = build_nodes(spark, sf_dir)
    edges = build_edges(spark, sf_dir).withColumn(
        "props",
        F.when(
            F.col("pos").isNotNull(), F.create_map(F.lit("pos"), F.col("pos").cast("string"))
        ),
    ).drop("pos")
    # Align to the canonical node schema (absent core fields are null).
    nodes = nodes.select(
        "id",
        "labels",
        "name",
        "path",
        F.lit(None).cast("string").alias("ext"),
        F.lit(None).cast("int").alias("src_start"),
        F.lit(None).cast("int").alias("src_end"),
        F.lit(None).cast("string").alias("doc"),
        F.lit(None).cast("map<string,string>").alias("props"),
        F.lit(None).cast("double").alias("coverage"),
    )
    return PropertyGraph(spark, "tpch", nodes, edges)


# SQL fragments the oracle queries reuse: same node/edge construction in
# DuckDB dialect. Kept here so Spark-side and SQL-side stay in one file.
SQL_NODES = """
    SELECT c_custkey AS id, 'Customer' AS label, c_name AS name, c_mktsegment AS path FROM customer
    UNION ALL SELECT s_suppkey + 30000000, 'Supplier', s_name, 'supplier' FROM supplier
    UNION ALL SELECT p_partkey + 20000000, 'Part', p_name, p_brand FROM part
    UNION ALL SELECT o_orderkey + 10000000, 'Order', 'order-' || o_orderkey, 'order' FROM orders
    UNION ALL SELECT n_nationkey + 40000000, 'Nation', n_name, 'nation' FROM nation
    UNION ALL SELECT r_regionkey + 50000000, 'Region', r_name, 'region' FROM region
"""

SQL_EDGES = """
    SELECT o_custkey AS src, o_orderkey + 10000000 AS dst, 'PLACED' AS type FROM orders
    UNION ALL SELECT l_orderkey + 10000000, l_partkey + 20000000, 'CONTAINS' FROM lineitem
    UNION ALL SELECT DISTINCT l_suppkey + 30000000, l_partkey + 20000000, 'SUPPLIES' FROM lineitem
    UNION ALL SELECT c_custkey, c_nationkey + 40000000, 'IN_NATION' FROM customer
    UNION ALL SELECT s_suppkey + 30000000, s_nationkey + 40000000, 'IN_NATION' FROM supplier
    UNION ALL SELECT n_nationkey + 40000000, n_regionkey + 50000000, 'IN_REGION' FROM nation
    UNION ALL SELECT n_nationkey + 40000000, n_nationkey + 40000001, 'NEXT'
              FROM nation WHERE n_nationkey < 24
"""
