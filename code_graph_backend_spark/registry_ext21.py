"""Round-5o extension queries:

- graph_clustering_coeff: per-node local clustering coefficient over
  the support-pruned co-occurrence graph as the exact integer pair
  (2·T_v, d_v·(d_v−1)) — the Watts-Strogatz statistic with zero floats;
- graph_rich_club: the rich-club profile — for each degree threshold
  k, how many edges the >k-degree subgraph keeps out of its possible
  pairs (Colizza et al.); the topology probe read next to the degree
  histogram and assortativity;
- corpus_ks_lengths: two-sample Kolmogorov-Smirnov statistic between
  the length distributions of every source pair, in EXACT integers —
  D = max|ECDF_a − ECDF_b| cross-multiplied to max|c_a·n_b − c_b·n_a|
  over the merged support, so no division ever happens;
- graph_resource_allocation: resource-allocation link prediction
  (Zhou-Lü-Zhang 2009): for non-adjacent pairs at distance 2, RA =
  Σ_z 1/deg(z) over common neighbors — each term floor-quantized to
  nano-units BEFORE summation, so both engines sum identical integers.

Same discipline: integer decisions, a DuckDB oracle per entry, BIGINT
output casts, deterministic final ordering.
"""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from .memo import cached
from .registry import register
from .session import read_table

_COOC_SQL = """
    li AS (SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk FROM lineitem),
    und AS (
        SELECT a.pk AS a, b.pk AS b
        FROM li a JOIN li b ON a.ok = b.ok AND a.pk < b.pk
        GROUP BY 1, 2 HAVING COUNT(*) >= 2
    ),
    sym AS (SELECT a, b FROM und UNION ALL SELECT b, a FROM und),
    deg AS (SELECT a AS v, CAST(COUNT(*) AS BIGINT) AS d FROM sym GROUP BY a)
"""


@register(
    "graph_clustering_coeff",
    f"""
    WITH {_COOC_SQL},
    tri AS (
        SELECT t.v, CAST(COUNT(*) AS BIGINT) AS n_tri FROM (
            SELECT e1.a AS v FROM und e1
            JOIN und e2 ON e2.a = e1.b
            JOIN und e3 ON e3.a = e1.a AND e3.b = e2.b
            UNION ALL
            SELECT e1.b FROM und e1
            JOIN und e2 ON e2.a = e1.b
            JOIN und e3 ON e3.a = e1.a AND e3.b = e2.b
            UNION ALL
            SELECT e2.b FROM und e1
            JOIN und e2 ON e2.a = e1.b
            JOIN und e3 ON e3.a = e1.a AND e3.b = e2.b
        ) t GROUP BY t.v
    )
    SELECT deg.v AS node, deg.d AS degree,
           CAST(COALESCE(tri.n_tri, 0) AS BIGINT) AS n_triangles,
           CAST(2 * COALESCE(tri.n_tri, 0) AS BIGINT) AS coeff_num,
           CAST(deg.d * (deg.d - 1) AS BIGINT) AS coeff_den
    FROM deg LEFT JOIN tri ON tri.v = deg.v
    WHERE deg.d >= 2
    ORDER BY node
    """,
)
def graph_clustering_coeff_q(spark, sf_dir):
    """Local clustering coefficient per node of the support-pruned
    co-occurrence graph, as the exact pair (2·T_v, d(d−1)) — C_v is one
    double division away for the caller, and the keep/rank decisions
    stay integer. Reuses the memoized cooc substrate and the verified
    degree-oriented triangle kernel (operators/triangles.py) — the
    oracle counts the same triangles via the independent a<b<c
    three-way join, two algorithms one answer."""
    from .operators.triangles import triangle_count_per_node
    from .registry_ext5 import _cooc_edges

    cooc = _cooc_edges(spark, sf_dir)
    sym = cooc.select(F.col("src").alias("v")).unionAll(
        cooc.select(F.col("dst").alias("v"))
    )
    deg = sym.groupBy("v").agg(F.count("*").cast("long").alias("degree"))
    tri = triangle_count_per_node(cooc).select(
        F.col("node").alias("v"), F.col("n_triangles")
    )
    return (
        deg.join(tri, "v", "left")
        .filter(F.col("degree") >= 2)
        .select(
            F.col("v").cast("long").alias("node"),
            "degree",
            F.coalesce("n_triangles", F.lit(0)).cast("long").alias("n_triangles"),
            (2 * F.coalesce("n_triangles", F.lit(0))).cast("long").alias("coeff_num"),
            (F.col("degree") * (F.col("degree") - 1)).cast("long").alias("coeff_den"),
        )
        .orderBy("node")
    )


@register(
    "graph_rich_club",
    f"""
    WITH {_COOC_SQL},
    ks AS (SELECT UNNEST(generate_series(1, 6)) AS k),
    rich AS (
        SELECT k.k, d.v FROM ks k JOIN deg d ON d.d > k.k
    ),
    rn AS (SELECT k, CAST(COUNT(*) AS BIGINT) AS n_nodes FROM rich GROUP BY k),
    re AS (
        SELECT k.k, CAST(COUNT(*) AS BIGINT) AS n_edges
        FROM ks k
        JOIN und e ON TRUE
        JOIN deg da ON da.v = e.a AND da.d > k.k
        JOIN deg db ON db.v = e.b AND db.d > k.k
        GROUP BY k.k
    )
    SELECT rn.k AS k, rn.n_nodes,
           CAST(COALESCE(re.n_edges, 0) AS BIGINT) AS n_edges,
           CAST(rn.n_nodes * (rn.n_nodes - 1) / 2 AS BIGINT) AS possible
    FROM rn LEFT JOIN re ON re.k = rn.k
    ORDER BY k
    """,
)
def graph_rich_club_q(spark, sf_dir):
    """Rich-club profile of the co-occurrence graph: for each degree
    threshold k = 1..6, the >k-degree subgraph's node count, surviving
    edge count, and possible pair count — φ(k) = n_edges/possible is
    one division away. Shape: degree table once (memoized substrate),
    then per-k semi-filters on the 3.5k-row edge list against a
    broadcast threshold list; everything after the substrate is
    dimension-sized."""
    from .registry_ext5 import _cooc_edges

    cooc = _cooc_edges(spark, sf_dir)
    sym = cooc.select(F.col("src").alias("v")).unionAll(
        cooc.select(F.col("dst").alias("v"))
    )
    deg = sym.groupBy("v").agg(F.count("*").cast("long").alias("d"))
    ks = spark.range(1, 7).select(F.col("id").alias("k"))
    rich = F.broadcast(ks).join(deg, deg["d"] > F.col("k"))
    rn = rich.groupBy("k").agg(F.count("*").cast("long").alias("n_nodes"))
    da = deg.select(F.col("v").alias("a"), F.col("d").alias("da"))
    db = deg.select(F.col("v").alias("b"), F.col("d").alias("db"))
    ew = cooc.select(F.col("src").alias("a"), F.col("dst").alias("b")).join(
        da, "a"
    ).join(db, "b")
    re = (
        F.broadcast(ks)
        .join(ew, (F.col("da") > F.col("k")) & (F.col("db") > F.col("k")))
        .groupBy("k")
        .agg(F.count("*").cast("long").alias("n_edges"))
    )
    return (
        rn.join(re, "k", "left")
        .select(
            F.col("k").cast("long").alias("k"),
            "n_nodes",
            F.coalesce("n_edges", F.lit(0)).cast("long").alias("n_edges"),
            (F.col("n_nodes") * (F.col("n_nodes") - 1) / 2)
            .cast("long")
            .alias("possible"),
        )
        .orderBy("k")
    )


@register(
    "corpus_ks_lengths",
    """
    WITH src AS (
        SELECT source, n_chars, CAST(COUNT(*) AS BIGINT) AS c
        FROM documents GROUP BY 1, 2
    ),
    tot AS (SELECT source, CAST(SUM(c) AS BIGINT) AS n FROM src GROUP BY 1),
    vals AS (SELECT DISTINCT n_chars AS v FROM documents),
    grid AS (SELECT t.source, t.n, v.v FROM tot t CROSS JOIN vals v),
    ecdf AS (
        SELECT g.source, g.n, g.v,
               CAST(COALESCE(SUM(s.c), 0) AS BIGINT) AS cum
        FROM grid g
        LEFT JOIN src s ON s.source = g.source AND s.n_chars <= g.v
        GROUP BY 1, 2, 3
    )
    SELECT a.source AS src_a, b.source AS src_b,
           CAST(MAX(a.n) AS BIGINT) AS n_a, CAST(MAX(b.n) AS BIGINT) AS n_b,
           CAST(MAX(ABS(a.cum * b.n - b.cum * a.n)) AS BIGINT) AS ks_num,
           CAST(MAX(a.n) * MAX(b.n) AS BIGINT) AS ks_den
    FROM ecdf a JOIN ecdf b ON a.v = b.v AND a.source < b.source
    GROUP BY a.source, b.source
    ORDER BY src_a, src_b
    """,
)
def corpus_ks_lengths_q(spark, sf_dir):
    """Two-sample Kolmogorov-Smirnov distance between the document-
    length distributions of every source pair, exact: D·n_a·n_b =
    max_v |c_a(v)·n_b − c_b(v)·n_a| over the merged value support —
    the drift test a curator runs when a new crawl shard lands. Shape:
    one corpus pass to (source, length) counts (lengths are bounded, so
    this table is dimension-sized at ANY corpus size), ECDFs via a
    per-source window over the shared value grid, then a pair join on
    the grid — no corpus-sized stage after the first agg."""
    docs = read_table(spark, sf_dir, "documents")
    src = docs.groupBy("source", "n_chars").agg(
        F.count("*").cast("long").alias("c")
    )
    from .scratch import scratch_persist

    src = scratch_persist(src)
    tot = src.groupBy("source").agg(F.sum("c").cast("long").alias("n"))
    vals = docs.select(F.col("n_chars").alias("v")).distinct()
    grid = tot.crossJoin(vals)
    counts = src.select(
        F.col("source").alias("s2"), F.col("n_chars").alias("nc"), "c"
    )
    ecdf = (
        grid.join(
            counts,
            (F.col("source") == F.col("s2")) & (F.col("nc") <= F.col("v")),
            "left",
        )
        .groupBy("source", "n", "v")
        .agg(F.coalesce(F.sum("c"), F.lit(0)).cast("long").alias("cum"))
    )
    a = ecdf.select(
        F.col("source").alias("src_a"), F.col("n").alias("na_"),
        F.col("v").alias("va"), F.col("cum").alias("ca"),
    )
    b = ecdf.select(
        F.col("source").alias("src_b"), F.col("n").alias("nb_"),
        F.col("v").alias("vb"), F.col("cum").alias("cb"),
    )
    return (
        a.join(b, (F.col("va") == F.col("vb")) & (F.col("src_a") < F.col("src_b")))
        .groupBy("src_a", "src_b")
        .agg(
            F.max("na_").cast("long").alias("n_a"),
            F.max("nb_").cast("long").alias("n_b"),
            F.max(
                F.abs(F.col("ca") * F.col("nb_") - F.col("cb") * F.col("na_"))
            ).cast("long").alias("ks_num"),
            (F.max("na_") * F.max("nb_")).cast("long").alias("ks_den"),
        )
        .orderBy("src_a", "src_b")
    )


_RA_TOPK = 30


# Exact RA must emit EVERY wedge (unlike triangles, where degree
# orientation discards nothing: here each common neighbor z contributes
# a 1/deg(z) term to its pair, so no wedge can be dropped). Total wedge
# output is Σ_z deg(z)², genuinely quadratic in hub degree — the
# function therefore REQUIRES a support-pruned substrate and enforces
# it with a node-sized agg instead of silently degenerating on a raw
# skewed graph (at sf0.1 the pruned co-occurrence graph's bound is
# ~1e6; the cap leaves three orders of magnitude of headroom while
# still refusing a 1e10-wedge hub blowup).
_RA_WEDGE_CAP = 2_000_000_000


def resource_allocation(cooc, topk: int, wedge_cap: int = _RA_WEDGE_CAP):
    """Exact RA = Σ_z 1/deg(z) over non-adjacent pairs of a SUPPORT-
    PRUNED undirected edge list `cooc` (src, dst). Precondition:
    Σ_z deg(z)² <= wedge_cap — checked up front (one agg over the
    node-sized degree table, memoized per substrate object); raises
    ValueError otherwise, because the wedge self-join's output is
    exactly that sum and exact RA cannot prune it away."""
    sym = cooc.select(F.col("src").alias("a"), F.col("dst").alias("b")).unionAll(
        cooc.select(F.col("dst").alias("a"), F.col("src").alias("b"))
    )
    deg = sym.groupBy("a").agg(F.count("*").cast("long").alias("d"))
    # sum(deg^2) is a property of the edge set alone, so the guard job
    # runs once per substrate object and every later call (bench
    # samples, repeated API reads) skips straight to the plan
    deg_sq = cached(cooc.sparkSession, ("ra_wedges", cooc), lambda: deg.agg(
        F.coalesce(F.sum(F.col("d") * F.col("d")), F.lit(0)).alias("w")
    ).collect()[0]["w"])
    if deg_sq > wedge_cap:
        raise ValueError(
            f"resource_allocation: wedge bound sum(deg^2)={deg_sq} exceeds "
            f"cap {wedge_cap}; the kernel requires a support-pruned "
            "substrate (prune low-support/high-degree nodes first, as "
            "registry_ext5._cooc_edges does) — exact RA cannot drop wedges"
        )
    # deg(z) is attached to the EDGE-sized wedge input (|sym| rows, on
    # the same key z the self-join shuffles on anyway), not to the
    # wedge-sized output: the old post-join `nonadj ⋈ deg on z` moved
    # Σ deg² rows through a join for a value each wedge's z side already
    # knew — at 100 TB that is a wedge-scale shuffle for nothing
    # (guide §2.3/§3: shuffle fewer bytes, key joins to reuse the
    # partitioning). Each wedge inherits exactly its z's d, so the
    # grouped sums are row-identical.
    s1 = sym.select(F.col("a").alias("z"), F.col("b").alias("x")).join(
        deg.select(F.col("a").alias("z"), "d"), "z"
    )
    s2 = sym.select(F.col("a").alias("z"), F.col("b").alias("y"))
    cand = s1.join(s2, "z").filter(F.col("x") < F.col("y"))
    edges_xy = cooc.select(F.col("src").alias("x"), F.col("dst").alias("y"))
    nonadj = cand.join(edges_xy, ["x", "y"], "left_anti")
    ra = (
        nonadj
        .groupBy("x", "y")
        .agg(
            F.sum(F.expr("1000000000 div d")).cast("long").alias("ra_nano"),
            F.count("*").cast("long").alias("n_common"),
        )
    )
    return (
        ra.select("x", "y", "n_common", "ra_nano")
        .orderBy(F.desc("ra_nano"), "x", "y")
        .limit(topk)
    )



@register(
    "graph_resource_allocation",
    f"""
    WITH {_COOC_SQL},
    cand AS (
        SELECT s1.b AS x, s2.b AS y, s1.a AS z
        FROM sym s1 JOIN sym s2 ON s2.a = s1.a AND s1.b < s2.b
    ),
    nonadj AS (
        SELECT c.x, c.y, c.z FROM cand c
        LEFT JOIN und e ON e.a = c.x AND e.b = c.y
        WHERE e.a IS NULL
    ),
    ra AS (
        SELECT n.x, n.y,
               CAST(SUM(1000000000 // d.d) AS BIGINT) AS ra_nano,
               CAST(COUNT(*) AS BIGINT) AS n_common
        FROM nonadj n JOIN deg d ON d.v = n.z
        GROUP BY n.x, n.y
    )
    SELECT x, y, n_common, ra_nano
    FROM ra
    ORDER BY ra_nano DESC, x, y
    LIMIT {_RA_TOPK}
    """,
)
def graph_resource_allocation_q(spark, sf_dir):
    """Resource-allocation link prediction (Zhou-Lü-Zhang 2009) over
    the co-occurrence graph: for each NON-adjacent pair with common
    neighbors, RA = Σ_z 1/deg(z) — each term floor-quantized to
    nano-units BEFORE the sum, so the ranking is pure integer
    arithmetic on both engines (the PMI/quantized-cosine discipline:
    never let float summation order near a decision). Shape: wedge
    self-join on the hub, an anti-join against the edge list, one
    (x,y) hash-agg, top-k under a total order. The substrate MUST be
    support-pruned (it is: registry_ext5._cooc_edges) — the helper
    enforces the Σ deg² wedge bound and raises rather than degenerate
    on a raw skewed graph."""
    from .registry_ext5 import _cooc_edges

    return resource_allocation(_cooc_edges(spark, sf_dir), _RA_TOPK)
