"""Landmark (pivot) BFS distances — the standard at-scale substitute for
all-pairs shortest paths: pick a small deterministic landmark set, run a
bounded multi-source BFS, and keep per-node distance vectors to the
landmarks (Potamias et al. 2009, "Fast Shortest Path Distance Estimation
in Large Networks"). Downstream, dist(u,v) is estimated by
min_l d(u,l)+d(l,v) without ever materializing n² pairs — the same reason
a 100 TB graph never runs exact APSP.

Design mirrors the other bounded-iteration kernels (pagerank / sssp /
hits / k-core):

- landmarks are the L smallest node ids — deterministic and
  SQL-expressible, so the oracle picks the identical set;
- a FIXED number of BFS rounds, all-integer hop distances ⇒ the DuckDB
  oracle unrolls the rounds as CTEs and the result hash-checks exactly;
- one frontier is kept for ALL landmarks at once, keyed (landmark, node):
  each round is ONE edge join + ONE min-agg regardless of L — multi-source
  BFS costs the same shuffle count as single-source, which is the whole
  point of batching the landmarks;
- localCheckpoint per round cuts the iterative lineage (same rationale as
  pagerank.py).

No driver collect: the landmark set stays a DataFrame and is
broadcast-joined (L rows)."""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..memo import cached

# measured-size duality gate: at or below these the batched BFS runs
# driver-local on the shared array cache. Module-level (and overridable
# per call via `local_caps`) so tests can force the distributed branch
# with local_caps=(0, 0) — the at-scale path must never be
# first-executed in production (mst.py / mis.py convention).
_LOCAL_N_CAP = 2_000_000
_LOCAL_E_CAP = 5_000_000

def landmark_distances(
    nodes: DataFrame,
    edges: DataFrame,
    n_landmarks: int = 8,
    hops: int = 3,
    local_caps: tuple[int, int] | None = None,
) -> DataFrame:
    """(landmark, node, dist) for every node within `hops` of a landmark,
    following edge direction (src -> dst). dist = exact hop count
    (min over paths), landmarks = the `n_landmarks` smallest node ids.

    Persisted once per (session, nodes, edges, parameters) through
    memo.cached: three registry queries (graph_landmark_distances,
    graph_closeness_approx, graph_eccentricity_bounds) consume the
    identical (nodes, edges, 8, 3) BFS off the resident graph."""
    if local_caps is None:
        local_caps = (_LOCAL_N_CAP, _LOCAL_E_CAP)
    return cached(
        nodes.sparkSession, ("landmarks", nodes, edges, n_landmarks, hops, local_caps),
        lambda: _landmark_distances_uncached(
            nodes, edges, n_landmarks, hops, local_caps
        ).persist(),
    )


def _landmark_distances_uncached(
    nodes: DataFrame,
    edges: DataFrame,
    n_landmarks: int,
    hops: int,
    local_caps: tuple[int, int],
) -> DataFrame:
    from ..scratch import scratch_persist

    lms = nodes.select(F.col("id").alias("landmark")).orderBy("landmark").limit(
        n_landmarks
    )
    # measured-size duality: below the caps the whole batched BFS runs
    # driver-local on the shared array cache (self-loop dropping is
    # semantics-neutral for min-hop BFS — a loop candidate is dist+1 at
    # an already-reached node, never the min)
    if nodes.count() <= local_caps[0] and edges.count() <= local_caps[1]:
        return _landmarks_local(nodes, edges, n_landmarks, hops)
    # e feeds one frontier join per round — persist once or the caller's
    # edge derivation re-runs per hop
    e = scratch_persist(edges.select("src", "dst").distinct())
    dist = lms.select(
        "landmark", F.col("landmark").alias("node"), F.lit(0).cast("long").alias("dist")
    )
    from .components import _parts_for

    for _ in range(hops):
        nxt = (
            e.join(dist.withColumnRenamed("node", "src"), "src")
            .select("landmark", F.col("dst").alias("node"), (F.col("dist") + 1).alias("dist"))
        )
        merged = dist.unionByName(nxt).groupBy("landmark", "node").agg(
            F.min("dist").alias("dist")
        )
        # frontier is bounded by L x reached-nodes: checkpoint at a
        # measured width, not the session shuffle width
        dist = merged.repartition(
            _parts_for(dist.count() * 4), "landmark", "node"
        ).localCheckpoint(eager=True)
    return dist


def _landmarks_local(
    nodes: DataFrame, edges: DataFrame, n_landmarks: int, hops: int
) -> DataFrame:
    """Vectorized driver-local twin of the batched BFS: dist matrix
    (landmarks × endpoint domain), each hop one segmented-min pass over
    the edges sorted by destination — bit-equal to the distributed
    rounds and the unrolled oracle."""
    import numpy as np
    import pandas as pd

    from .undirected import dir_arrays, ids_array

    spark = nodes.sparkSession
    lm_ids = ids_array(spark, nodes)[:n_landmarks]
    arr = dir_arrays(spark, edges)
    ids, si, di = arr["ids"], arr["si"], arr["di"]
    n = len(ids)
    order = np.argsort(di, kind="stable")
    si_s, di_s = si[order], di[order]
    if len(di_s):
        seg = np.flatnonzero(np.r_[True, di_s[1:] != di_s[:-1]])
        tgt = di_s[seg]
    inf = np.int64(1) << 40
    dist = np.full((len(lm_ids), n), inf, dtype=np.int64)
    if n:
        pos = np.searchsorted(ids, lm_ids)
        present = (pos < n) & (ids[pos.clip(max=n - 1)] == lm_ids)
        dist[np.flatnonzero(present), pos[present]] = 0
    else:
        # zero-edge graph: no endpoint domain, every landmark is
        # "missing" and falls through to the self-row emission below
        # (the distributed branch and the oracle both return exactly
        # the (l, l, 0) rows on this input)
        present = np.zeros(len(lm_ids), dtype=bool)
    for _ in range(hops):
        if not len(di_s):
            break
        cand = dist[:, si_s] + 1
        mins = np.minimum.reduceat(cand, seg, axis=1)
        dist[:, tgt] = np.minimum(dist[:, tgt], mins)
    li, nj = np.nonzero(dist <= hops)
    res = pd.DataFrame(
        {
            "landmark": lm_ids[li],
            "node": ids[nj],
            "dist": dist[li, nj],
        },
        dtype="int64",
    )
    # landmarks absent from the edge-endpoint domain still carry their
    # own (landmark, landmark, 0) row
    missing = lm_ids[~present]
    if len(missing):
        res = pd.concat(
            [res, pd.DataFrame(
                {"landmark": missing, "node": missing,
                 "dist": np.zeros(len(missing), dtype=np.int64)},
                dtype="int64",
            )],
            ignore_index=True,
        )
    res = res.sort_values(["landmark", "node"])
    if not len(res):
        return spark.createDataFrame([], "landmark long, node long, dist long")
    return spark.createDataFrame(res)


def landmark_distances_sql(
    sql_nodes: str, sql_edges: str, n_landmarks: int = 8, hops: int = 3
) -> str:
    """Unrolled-rounds DuckDB twin over the graph-twin node/edge SQL."""
    parts = [
        f"WITH nodes AS ({sql_nodes}), edges AS ({sql_edges}),",
        f"""lms AS (SELECT id AS landmark FROM nodes ORDER BY id LIMIT {n_landmarks}),
        e AS (SELECT DISTINCT src, dst FROM edges),
        d0 AS (SELECT landmark, landmark AS node, CAST(0 AS BIGINT) AS dist FROM lms)""",
    ]
    for t in range(1, hops + 1):
        parts.append(f""",
        d{t} AS (
            SELECT landmark, node, MIN(dist) AS dist FROM (
                SELECT landmark, node, dist FROM d{t-1}
                UNION ALL
                SELECT d.landmark, e.dst AS node, d.dist + 1 AS dist
                FROM e JOIN d{t-1} d ON e.src = d.node
            ) GROUP BY landmark, node
        )""")
    parts.append(f"SELECT landmark, node, dist FROM d{hops}")
    return "\n".join(parts)
