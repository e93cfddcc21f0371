"""Iterative variable-length traversal (SURVEY.md §2.3, J6-J8).

Spark has no recursive CTE, so unbounded `-[:T*]->` patterns become a driver
loop of DataFrame self-joins — each iteration one Spark job over the (cached)
edges table. This is the standard BFS-on-DataFrames design (GraphFrames'
motif/shortest-path kernels work the same way):

- the frontier is a DataFrame of partial paths `(head, visited array<long>)`;
- one hop = frontier ⋈ edges on head==src, cycle-pruned with
  `~array_contains(visited, dst)` (the reference's `*` is simple-path
  semantics — Cypher forbids repeated relationships; we forbid repeated
  nodes, which coincides on these graphs and terminates always);
- paths reaching `dst` are collected per depth and unioned;
- `localCheckpoint` every few iterations cuts the lineage chain that would
  otherwise grow linearly with depth (classic iterative-Spark pitfall).

At 100 TB scale the frontier join is a shuffle on `head`; edges cached and
pre-partitioned by `src` lets AQE pick a co-partitioned join. Depth is capped
(default 12) — the reference is unbounded (api/graph.py:547-591) which on a
dense call graph explodes combinatorially; this divergence is deliberate and
documented.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..memo import cached

# Rows per partition to aim for in iterative intermediates. Frontiers are
# narrow (a few longs per row), so 100k rows ≈ a few MB — far below a
# healthy task's working set; anything smaller than this per task is pure
# scheduling overhead. Partition counts are derived from the *measured*
# row count of the previous round (we count every round anyway to detect
# fixpoint), so a hop that explodes to billions of rows still gets
# thousands of partitions while a 10-row commit walk runs 1-task stages.
_ROWS_PER_PARTITION = 100_000


def _parts_for(n_rows: int, cap: int = 2000) -> int:
    return max(1, min(cap, n_rows // _ROWS_PER_PARTITION + 1))


# Edge sets at or below this row count are traversed driver-side: the whole
# (already type-filtered) edge list is one Arrow collect (~16 B/row → ≤80 MB)
# and the BFS/DFS runs in-process, replacing 15-25 tiny Spark jobs whose
# scheduling overhead dwarfs the work. Above it, the distributed loop runs —
# a 100 TB call graph never collects. This mirrors AQE's philosophy: pick
# the physical strategy from measured sizes, not hopes.
_LOCAL_EDGE_ROWS = 5_000_000


def _typed_edges(edges: DataFrame, edge_type: str | None) -> dict:
    """Memoized materialization of one type-filtered edge set.

    The reference serves traversals from a graph resident in server memory;
    our analogue is keeping each (edges-DataFrame, type) adjacency warm
    across calls — the second `find_paths` over the same graph must not
    re-filter, re-count and re-collect the same edge set. The memo
    (memo.cached) is keyed on the edges DataFrame object: mutations
    produce new DataFrames (immutable lineage) so a stale hit is
    impossible. Entry: {"df": compact_df, "n": count, "pdf": pandas or
    None (collected only for measured-small sets), "derived": {}} —
    callers stash adjacency/CSR structures in "derived" so each shape is
    built once.
    """

    def build() -> dict:
        e = edges if edge_type is None else edges.filter(F.col("type") == edge_type)
        e, n = _stationary_edges(e.select(F.col("src").alias("_s"), F.col("dst").alias("_d")))
        return {
            "df": e,
            "n": n,
            "pdf": e.toPandas() if n <= _LOCAL_EDGE_ROWS else None,
            "derived": {},
        }

    return cached(edges.sparkSession, ("typed_edges", edges, edge_type), build)


def _stationary_edges(e: DataFrame) -> tuple[DataFrame, int]:
    """Materialize the loop-stationary edge side and right-size it.

    The traversal loop scans this table once per hop, so its partition count
    is a per-round task-overhead multiplier. One counting pass (amortized
    over all hops) decides: a small edge set is squeezed to few partitions
    (a 12-hop walk over a 38-partition cache otherwise costs 12×38 tasks of
    ~nothing); a big one keeps its natural partitioning — repartitioning
    100 TB of edges per query would dwarf the traversal itself.

    Returns (materialized_df, row_count); caller need not unpersist — small
    sets are localCheckpoints (freed by GC), big ones stay cached only until
    the caller unpersists.
    """
    e = e.cache()
    n = e.count()
    if n <= 20 * _ROWS_PER_PARTITION:
        compact = e.repartition(_parts_for(n)).localCheckpoint(eager=True)
        e.unpersist()
        return compact, n
    return e, n


def _adjacency(entry: dict) -> dict[int, list[int]]:
    """Driver-side adjacency map for a memoized small edge set (built once
    per (graph, type); reused from entry["derived"] afterwards)."""
    adj = entry["derived"].get("adj")
    if adj is None:
        pdf = entry["pdf"]
        adj = {}
        for s, d in zip(pdf["_s"], pdf["_d"]):
            adj.setdefault(int(s), []).append(int(d))
        entry["derived"]["adj"] = adj
    return adj


def simple_paths(adj, src_id: int, dst_id: int, max_depth: int) -> list[tuple[list[int], int]]:
    """Driver-side twin of the distributed path loop (same semantics: simple
    paths, depth cap, no extension past dst): every (path, depth), sorted
    by (depth, path). `adj.get(node, ())` gives a node's successors, one
    per edge, so a multi-edge yields its path once per edge, as the join
    does."""
    out: list[tuple[list[int], int]] = []
    stack: list[tuple[int, list[int]]] = [(src_id, [src_id])]
    while stack:
        head, path = stack.pop()
        if len(path) - 1 >= max_depth:
            continue
        for d in adj.get(head, ()):
            if d in path:
                continue  # simple-path semantics: no repeated nodes
            p2 = path + [d]
            if d == dst_id:
                out.append((p2, len(p2) - 1))
            else:
                stack.append((d, p2))
    out.sort(key=lambda r: (r[1], r[0]))
    return out


def find_paths(
    spark: SparkSession,
    edges: DataFrame,
    src_id: int,
    dst_id: int,
    edge_type: str | None = "CALLS",
    max_depth: int = 12,
    checkpoint_every: int = 4,
) -> DataFrame:
    """J6: all simple paths src -[:type*]-> dst
    (reference api/graph.py:547-591, `find_paths`).

    Returns one row per path: (path array<long> of node ids, depth int),
    ordered by (depth, path) for determinism.
    """
    ent = _typed_edges(edges, edge_type)
    e, n_e = ent["df"], ent["n"]
    if ent["pdf"] is not None:
        out = simple_paths(_adjacency(ent), int(src_id), int(dst_id), max_depth)
        return spark.createDataFrame(out, "path array<long>, depth int").orderBy("depth", "path")

    frontier = spark.createDataFrame(
        [(int(src_id), [int(src_id)])], "head long, path array<long>"
    )
    n_frontier = 1
    hits: DataFrame | None = None

    for depth in range(1, max_depth + 1):
        # Big-side-stationary join: edges stay put (cached); the frontier is
        # broadcast while small, falling back to a shuffle join (AQE-planned)
        # if a hop ever produces a huge frontier.
        f = F.broadcast(frontier) if n_frontier < 1_000_000 else frontier
        # localCheckpoint truncates the logical plan to a leaf — without it
        # every hop's plan embeds the previous hop's whole plan and analysis
        # time grows without bound (caches cut execution, not planning).
        stepped = (
            e.join(f, F.col("head") == F.col("_s"))
            .filter(~F.array_contains(F.col("path"), F.col("_d")))
            .select(
                F.col("_d").alias("head"),
                F.concat(F.col("path"), F.array(F.col("_d"))).alias("path"),
            )
            # repartition (not coalesce): the hop join keeps the edge scan's
            # full parallelism; only the (small) hop RESULT shuffles down to
            # a partition count matched to the measured frontier size. A
            # coalesce here would merge the scan itself — one task reading
            # every edge partition at scale.
            .repartition(_parts_for(n_frontier))
            .localCheckpoint(eager=True)  # the one real job per hop
        )
        n_stepped = stepped.count()  # on checkpointed data: trivial
        if n_stepped == 0:
            break
        arrived = stepped.filter(F.col("head") == dst_id).select(
            "path", F.lit(depth).alias("depth")
        )
        hits = arrived if hits is None else hits.unionByName(arrived)
        frontier = stepped.filter(F.col("head") != dst_id)
        n_frontier = n_stepped  # upper bound; exact value isn't worth a job

    # every surviving row is checkpointed; the typed-edge cache stays
    # resident for the next traversal over this graph (_typed_edges)
    if hits is None:
        hits = spark.createDataFrame([], "path array<long>, depth int")
    return hits.orderBy("depth", "path")


def reachable(
    spark: SparkSession,
    edges: DataFrame,
    seed_ids: list[int],
    edge_type: str | None = "DEFINES",
    max_depth: int = 64,
) -> DataFrame:
    """J7's closure: all nodes reachable from `seed_ids` over `edge_type`
    (the read half of cascade delete, reference api/graph.py:408-426).

    Returns DataFrame(id long) including the seeds. BFS with a visited set;
    each round joins only the *new* frontier against edges, so work is
    proportional to the closure, not depth × graph.
    """
    ent = _typed_edges(edges, edge_type)
    e, n_e = ent["df"], ent["n"]
    if ent["pdf"] is not None:
        # vectorized CSR BFS: sort edges by src once (memoized per graph),
        # then each round is searchsorted + gather + setdiff — no per-edge
        # Python objects (a dict-of-lists adjacency costs ~2 s/1M edges
        # just to build)
        import numpy as np
        import pandas as pd

        if not seed_ids:
            return spark.createDataFrame([], "id long")
        csr = ent["derived"].get("csr")
        if csr is None:
            pdf = ent["pdf"]
            src = pdf["_s"].to_numpy(np.int64)
            dst = pdf["_d"].to_numpy(np.int64)
            order = np.argsort(src, kind="stable")
            csr = ent["derived"]["csr"] = (src[order], dst[order])
        src_s, dst_s = csr
        visited = np.unique(np.asarray(list(seed_ids), dtype=np.int64))
        frontier = visited
        for _ in range(max_depth):
            lo = np.searchsorted(src_s, frontier, "left")
            hi = np.searchsorted(src_s, frontier, "right")
            lens = hi - lo
            total = int(lens.sum())
            if total == 0:
                break
            idx = np.repeat(lo - (np.cumsum(lens) - lens), lens) + np.arange(total)
            new = np.setdiff1d(dst_s[idx], visited)  # unique + sorted
            if not new.size:
                break
            visited = np.union1d(visited, new)
            frontier = new
        return spark.createDataFrame(pd.DataFrame({"id": visited}))

    seeds = spark.createDataFrame([(int(i),) for i in seed_ids], "id long").cache()
    visited = seeds
    frontier, n_frontier = seeds, len(seed_ids)

    for depth in range(max_depth):
        # One Spark job per hop (the count that materializes nxt's cache).
        # Edges never move: the frontier is broadcast while small (the normal
        # case — a frontier bigger than the broadcast cutoff falls back to a
        # shuffle join AQE can re-plan). `visited` is a lazy union of the
        # cached per-hop frontiers, compacted every 8 hops to bound plan size.
        f = F.broadcast(frontier) if n_frontier < 1_000_000 else frontier
        # localCheckpoint (not cache): it truncates the logical plan, so
        # `visited` stays a flat union of leaf relations. With cache alone
        # each hop's plan embeds the previous visited (which embeds the
        # previous hop...) — exponential analysis blowup.
        nxt = (
            e.join(f, F.col("id") == F.col("_s"))
            .select(F.col("_d").alias("id"))
            .distinct()
            .join(visited, "id", "left_anti")
            # small-result shuffle: partitions track the measured frontier
            # size (see _parts_for) while the edge scan keeps full
            # parallelism. distinct() already shuffles, so this only
            # re-sizes the final exchange.
            .repartition(_parts_for(n_frontier))
            .localCheckpoint(eager=True)  # the one real job per hop
        )
        n_frontier = nxt.count()  # on checkpointed data: trivial
        if n_frontier == 0:
            break
        visited = visited.unionByName(nxt)
        if (depth + 1) % 8 == 0:
            visited = visited.localCheckpoint(eager=True)
        frontier = nxt
    seeds.unpersist()  # typed-edge cache stays resident (_typed_edges)
    return visited


def chain_positions(
    spark: SparkSession,
    edges: DataFrame,
    src_id: int,
    dst_id: int,
    edge_type: str,
    max_depth: int = 10_000,
) -> DataFrame:
    """Positions (node, pos) along a *linear* chain from src to dst —
    pointer-doubling list ranking, O(log n) rounds instead of O(n) BFS hops.

    Assumes out-degree ≤ 1 per node for `edge_type` (commit PARENT/CHILD
    lists, reference api/git_utils/git_graph.py:144-177). Round k holds
    `reach` = every node within 2^k hops of src with its exact distance, and
    a jump table `J` of exactly-2^k-hop links; both double per round, so a
    1M-commit chain takes 20 rounds of n-row joins (n·log n total work) —
    the design that survives long histories, where frontier BFS is 1M jobs.
    """
    ent = _typed_edges(edges, edge_type)
    n_jump = ent["n"]  # n_jump also sizes every squared table below (it only shrinks)
    jump = ent["df"].withColumn("_len", F.lit(1))
    if ent["pdf"] is not None:
        # driver-side chain walk (out-degree ≤ 1 ⇒ the successor map is a
        # function); positions are exact, cycle-guarded by the visited check
        succ = ent["derived"].get("succ")
        if succ is None:
            pdf = ent["pdf"]
            succ = ent["derived"]["succ"] = {
                int(s): int(d) for s, d in zip(pdf["_s"], pdf["_d"])
            }
        pos_map, node, p = {int(src_id): 0}, int(src_id), 0
        while node != dst_id and p < max_depth:
            node = succ.get(node)
            if node is None or node in pos_map:
                return spark.createDataFrame([], "node long, pos int")
            p += 1
            pos_map[node] = p
        if node != dst_id:
            return spark.createDataFrame([], "node long, pos int")
        return spark.createDataFrame(
            [(n, q) for n, q in pos_map.items() if q <= p], "node long, pos int"
        )

    reach = spark.createDataFrame([(int(src_id), 0)], "node long, pos int")
    n_reach, found = 1, src_id == dst_id
    for _k in range(max(1, (max_depth).bit_length())):
        if found:
            break
        # grow reach: every known position + a 2^k jump
        # both sides are checkpointed (known sizes): AQE broadcasts the
        # smaller one — reach early on, jump once reach outgrows it
        stepped = (
            reach.join(jump, reach["node"] == jump["_s"])
            .select(F.col("_d").alias("node"), (F.col("pos") + F.col("_len")).alias("pos"))
        )
        reach = (
            reach.unionByName(stepped)
            .repartition(_parts_for(n_reach * 2))
            .localCheckpoint(eager=True)
        )
        # one tiny job on the checkpointed reach answers both "how big"
        # (partitioning for next round) and "did we arrive" (loop exit)
        n_reach, found = reach.agg(
            F.count("*"), F.max(F.col("node") == dst_id)
        ).first()
        if found:
            break
        # square the jump table: 2^k ∘ 2^k = 2^(k+1)
        j2 = jump.alias("a").join(
            jump.alias("b"), F.col("a._d") == F.col("b._s")
        ).select(
            F.col("a._s").alias("_s"),
            F.col("b._d").alias("_d"),
            (F.col("a._len") + F.col("b._len")).alias("_len"),
        )
        jump = j2.repartition(_parts_for(n_jump)).localCheckpoint(eager=True)
    if not found:
        return spark.createDataFrame([], "node long, pos int")
    dst_pos = reach.filter(F.col("node") == dst_id).agg(F.min("pos")).first()[0]
    return reach.filter(F.col("pos") <= dst_pos).groupBy("node").agg(
        F.min("pos").alias("pos")
    )


def chain_payloads(
    spark: SparkSession,
    edges: DataFrame,
    src_id: int,
    dst_id: int,
    edge_type: str,
    payload_cols: list[str],
    max_depth: int = 10_000,
) -> DataFrame:
    """J8: walk a *linear* chain (commit PARENT/CHILD lists,
    reference api/git_utils/git_graph.py:144-177) collecting edge payloads
    in path order.

    Built on `chain_positions` (pointer-doubling list ranking): consecutive
    positions joined back to the typed edges recover each hop's payload.

    Returns (hop int, src long, dst long, *payload_cols) ordered by hop.
    """
    pos = chain_positions(spark, edges, src_id, dst_id, edge_type, max_depth)
    a = pos.select(F.col("pos").alias("hop"), F.col("node").alias("src"))
    b = pos.select((F.col("pos") - 1).alias("hop"), F.col("node").alias("dst"))
    hops = a.join(b, "hop")
    e = edges.filter(F.col("type") == edge_type)
    return (
        hops.join(e, ["src", "dst"])
        .select("hop", "src", "dst", *payload_cols)
        .orderBy("hop")
    )
