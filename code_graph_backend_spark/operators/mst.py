"""Bounded Borůvka minimum-spanning-forest over the graph twin.

Borůvka is THE distributed MST algorithm (each component picks its
lightest outgoing edge, components contract, repeat — O(log n) rounds),
and its per-round shape maps 1:1 onto DataFrame ops: two hash joins to
label edge endpoints with their component, one min-agg per component,
then pointer-jumping over the COMPONENT-cardinality pointer table (which
shrinks geometrically). The corpus-sized work per round is exactly the
two endpoint-labeling joins; everything else operates on tables that
are component-sized, so at 100 TB the round cost is two shuffles over
the edge list and noise-sized contraction work.

Determinism contract (what makes this hash-checkable against DuckDB):
- edge weights are a pure integer function of the canonical endpoint
  pair: w = (u*7919 + v*104729) % 999983 (BIGINT-safe to ids ~9e13);
- minima are taken under the strict total order (w, u, v), so the
  selection is unique and the component-pointer graph can only contain
  mutual 2-cycles (classic Borůvka property under totally ordered
  weights), which are broken toward the smaller component label;
- contraction does a FIXED number of pointer-jump doublings per round
  (`jumps`); both engines run the identical bounded recurrence, so the
  operator is well-defined even before full convergence — same
  bounded-semantics contract as wcc_bounded / sssp_bounded.

Reference parity: the reference has no MST (FalkorDB's algo.* exposes
BFS/pagerank/wcc); this extends the analytics kernel family the same
way hits/kcore/ktruss did, with the same unrolled-CTE oracle
discipline (operators/labelprop.py:173).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..memo import cached
from ..scratch import scratch_persist
from .components import _parts_for
from .undirected import und_cached

_W_A, _W_B, _W_MOD = 7919, 104729, 999983
# below this many components the pointer contraction runs driver-local
# (identical bounded semantics, one collect + one broadcast instead of
# six serial shuffles); above it, the distributed chain at measured width
_LOCAL_CONTRACT_CAP = 5_000_000


def boruvka_msf(
    spark: SparkSession,
    nodes: DataFrame,
    edges: DataFrame,
    rounds: int = 3,
    jumps: int = 4,
    local_caps: tuple[int, int] = (2_000_000, 5_000_000),
) -> DataFrame:
    """(round, u, v, w) of every MSF edge selected in `rounds` Borůvka
    rounds, ordered by (round, w, u, v).

    Cost gates (all measured-size, mirroring _propagation_setup):
    round 1 skips the endpoint-labeling joins entirely (comp is the
    identity, so ext IS the symmetric edge list); the per-component
    minimum is one hash-agg min(struct) (no sort window); the pointer
    table runs its 2-cycle break + jump doublings at a width sized from
    its OWN row count; the node-sized relabel join broadcasts the
    pointer map while it fits; the final round skips relabeling (its
    comp map has no consumer)."""
    # the undirected-distinct table is the expensive shuffle — shared
    # session-wide via the resident memo; the weight column is a free
    # map-side projection over the cached rows, so `we` needs no persist
    und = und_cached(spark, edges)
    we = und.select(
        "u", "v", ((F.col("u") * _W_A + F.col("v") * _W_B) % _W_MOD).alias("w")
    )
    n_nodes = nodes.count()
    n_edges = und.count()
    if n_nodes <= local_caps[0] and n_edges <= local_caps[1]:
        return _msf_local(spark, nodes, edges, rounds, jumps)
    parts = _parts_for(n_nodes)
    ext_parts = _parts_for(2 * n_edges)
    bcast = n_nodes <= 2_000_000
    comp = None  # None = identity mapping (round 1 fast path)
    local_comps = None  # driver-side component set while the local path runs
    domain_df = None  # distributed component set otherwise
    picked = []
    for t in range(1, rounds + 1):
        if comp is None:
            ej = we.select(F.col("u").alias("cu"), F.col("v").alias("cv"), "w", "u", "v")
        else:
            cm = F.broadcast(comp) if bcast else comp
            cu = cm.select(F.col("node").alias("u"), F.col("comp").alias("cu"))
            cv = cm.select(F.col("node").alias("v"), F.col("comp").alias("cv"))
            ej = we.join(cu, "u").join(cv, "v").filter(F.col("cu") != F.col("cv"))
        ext = ej.select(
            F.col("cu").alias("c"), F.col("cv").alias("oc"), "w", "u", "v"
        ).unionByName(
            ej.select(F.col("cv").alias("c"), F.col("cu").alias("oc"), "w", "u", "v")
        )
        # unique lightest outgoing edge per component: hash-agg under the
        # strict (w, u, v) total order ((u, v) is unique per c-group, so
        # the struct-min is the row row_number-over-(w,u,v) would pick);
        # the pre-repartition pins the shuffle to a width measured from
        # the edge list, and the groupBy reuses that partitioning
        sel = scratch_persist(
            ext.repartition(ext_parts, "c")
            .groupBy("c")
            .agg(F.min(F.struct("w", "u", "v", "oc")).alias("m"))
            .select("c", F.col("m.w").alias("w"), F.col("m.u").alias("u"),
                    F.col("m.v").alias("v"), F.col("m.oc").alias("oc"))
        )
        picked.append(
            sel.select(F.lit(t).cast("long").alias("round"), "u", "v", "w").distinct()
        )
        if t == rounds:
            break
        if comp is None:
            n_comps = n_nodes
        elif local_comps is not None:
            n_comps = len(local_comps)
        else:
            n_comps = domain_df.count()
        if n_comps <= _LOCAL_CONTRACT_CAP:
            # measured-size local path (pagerank's duality): the pointer
            # table is component-cardinality, so once it fits on the
            # driver the 2-cycle break + jump doublings are a dict walk
            # with IDENTICAL bounded semantics — 6 serial shuffles become
            # one collect + one broadcast; between local rounds the
            # component set itself lives on the driver (zero extra jobs)
            if local_comps is not None:
                seed = local_comps
            elif comp is None:
                from .undirected import ids_array

                seed = ids_array(spark, nodes).tolist()  # Arrow memo, not row collect
            else:
                seed = [c for (c,) in domain_df.collect()]
            pnt = {c: c for c in seed}
            for r in sel.select("c", "oc").collect():
                pnt[r["c"]] = r["oc"]
            pnt = {
                c: (min(c, q) if pnt[q] == c else q) for c, q in pnt.items()
            }
            for _ in range(jumps):
                pnt = {c: pnt[q] for c, q in pnt.items()}
            pmap = spark.createDataFrame(
                list(pnt.items()), "comp long, p long"
            )
            local_comps, domain_df = sorted(set(pnt.values())), None
        else:
            # distributed pointer chain, every stage at a measured width
            if comp is None:
                domain = nodes.select(F.col("id").alias("comp"))
            elif local_comps is not None:
                domain = spark.createDataFrame(
                    [(c,) for c in local_comps], "comp long"
                )
            else:
                domain = domain_df
            p_parts = _parts_for(n_comps)
            p = (
                domain
                .join(sel.select(F.col("c").alias("comp"), "oc"), "comp", "left")
                .select(
                    F.col("comp").alias("c"),
                    F.coalesce("oc", F.col("comp")).alias("p"),
                )
                .repartition(p_parts, "c")
            )
            # mutual 2-cycles (the only cycles under a total edge order)
            # break toward the smaller label (a self-rooted star center)
            pp = p.select(F.col("c").alias("_c2"), F.col("p").alias("_p2"))
            p = (
                p.join(pp, p["p"] == pp["_c2"])
                .select(
                    "c",
                    F.when(F.col("_p2") == F.col("c"), F.least("c", "p"))
                    .otherwise(F.col("p"))
                    .alias("p"),
                )
                .repartition(p_parts, "c")
            )
            for _ in range(jumps):
                nxt = p.select(F.col("c").alias("_c2"), F.col("p").alias("_p2"))
                p = (
                    p.join(nxt, p["p"] == nxt["_c2"])
                    .select("c", F.col("_p2").alias("p"))
                    .repartition(p_parts, "c")
                )
            pmap = p.withColumnRenamed("c", "comp")
            local_comps = None
            domain_df = (
                pmap.select(F.col("p").alias("comp"))
                .distinct()
                .repartition(p_parts, "comp")
                .localCheckpoint(eager=True)
            )
        # relabel: node-cardinality map joins the (shrinking) pointer map;
        # after round 1 the identity base means comp(v) IS pmap(v) — no join
        if comp is None:
            comp = pmap.select(F.col("comp").alias("node"), F.col("p").alias("comp"))
        else:
            comp = (
                comp.join(F.broadcast(pmap) if bcast else pmap, "comp")
                .select("node", F.col("p").alias("comp"))
            )
        comp = comp.repartition(parts, "node").localCheckpoint(eager=True)
    out = picked[0]
    for m in picked[1:]:
        out = out.unionByName(m)
    return out.select(
        "round",
        F.col("u").cast("long").alias("u"),
        F.col("v").cast("long").alias("v"),
        F.col("w").cast("long").alias("w"),
    ).orderBy("round", "w", "u", "v")


def _edge_keys(u, v, w):
    """(ek, idx_by_rank): ek = w*ne + rank of (u, v), and the edge row
    of each rank."""
    import numpy as np

    ne = len(u)
    rank = np.empty(ne, dtype=np.int64)
    rank[np.lexsort((v, u))] = np.arange(ne)
    idx_by_rank = np.empty(ne, dtype=np.int64)
    idx_by_rank[rank] = np.arange(ne)
    return w * ne + rank, idx_by_rank


def _msf_local(
    spark: SparkSession, nodes: DataFrame, edges: DataFrame, rounds: int, jumps: int
) -> DataFrame:
    """Vectorized driver-local twin of the distributed rounds (the
    measured-size duality): the shared array cache (und_arrays) holds
    the collected edge list, then every round is numpy searchsorted /
    groupby-min arithmetic on the IDENTICAL bounded recurrence —
    bit-equal output, zero shuffles."""
    import numpy as np
    import pandas as pd

    from .undirected import ids_array, und_arrays

    arr = und_arrays(spark, edges)
    u, v = arr["a"], arr["b"]
    ne = len(u)
    w = (u * _W_A + v * _W_B) % _W_MOD
    nid = ids_array(spark, nodes)
    if np.isin(nid, arr["ids"]).all():
        ids, ui, vi = arr["ids"], arr["ai"], arr["bi"]
    else:  # isolated nodes extend the id domain — remap
        ids = np.union1d(arr["ids"], nid)
        ui = np.searchsorted(ids, u)
        vi = np.searchsorted(ids, v)
    # strict (w, u, v) total order as ONE int64 key: rank edges by
    # (u, v) once — pairs are distinct, so ek = w*ne + rank orders
    # exactly like (w, u, v) and every later group-min is single-key;
    # pure function of the cached arrays, memoized alongside them
    ek, idx_by_rank = cached(spark, ("ek", edges), lambda: _edge_keys(u, v, w))
    comp = ids.copy()  # component label per node position
    out_r, out_u, out_v, out_w = [], [], [], []
    for t in range(1, rounds + 1):
        cu, cv = comp[ui], comp[vi]
        live = cu != cv
        if not live.any():
            break
        uc = np.unique(comp)
        cidx_u = np.searchsorted(uc, cu[live])
        cidx_v = np.searchsorted(uc, cv[live])
        ekl = ek[live]
        # per-component min edge key: the group domain is already the
        # compressed [0, len(uc)) index space, so a direct scatter-min
        # replaces the pandas hash groupby (whose factorize pass alone
        # measured 4.5 s/query at sf0.1 — it rebuilds a hash table over
        # the 2|live| int64 keys every round; np.minimum.at over the
        # same updates is ~0.1 s). Components with no live edge stay at
        # the sentinel and are excluded, exactly as groupby omitted them.
        _INF = np.iinfo(np.int64).max
        best = np.full(len(uc), _INF, dtype=np.int64)
        np.minimum.at(best, cidx_u, ekl)
        np.minimum.at(best, cidx_v, ekl)
        sel_cidx = np.flatnonzero(best != _INF)
        sel_eidx = idx_by_rank[best[sel_cidx] % ne]  # original edge rows
        sel_c = uc[sel_cidx]
        # other endpoint's component for the pointer table
        scu, scv = comp[ui[sel_eidx]], comp[vi[sel_eidx]]
        sel_oc = np.where(scu == sel_c, scv, scu)
        # distinct picked edges this round (both sides may pick one)
        picked = np.unique(sel_eidx)
        out_r.extend([t] * len(picked))
        out_w.extend(w[picked].tolist())
        out_u.extend(u[picked].tolist())
        out_v.extend(v[picked].tolist())
        if t == rounds:
            break
        # pointer table over the component domain: p(c) = other end of
        # c's pick (identity when unselected), 2-cycle break toward the
        # smaller label, then `jumps` pointer applications
        pnt = uc.copy()
        pnt[sel_cidx] = sel_oc
        pq = pnt[np.searchsorted(uc, pnt)]
        mutual = pq == uc
        pnt = np.where(mutual, np.minimum(uc, pnt), pnt)
        for _ in range(jumps):
            pnt = pnt[np.searchsorted(uc, pnt)]
        comp = pnt[np.searchsorted(uc, comp)]
    res = pd.DataFrame(
        {"round": out_r, "u": out_u, "v": out_v, "w": out_w}, dtype="int64"
    ).sort_values(["round", "w", "u", "v"])
    if not len(res):
        return spark.createDataFrame([], "round long, u long, v long, w long")
    return spark.createDataFrame(res)


def boruvka_msf_sql(
    sql_nodes: str, sql_edges: str, rounds: int = 3, jumps: int = 4
) -> str:
    """Unrolled-rounds DuckDB twin of boruvka_msf.

    Every multiply-referenced CTE is `AS MATERIALIZED`: DuckDB inlines
    plain CTEs per reference, and the pointer-doubling chain references
    its predecessor twice per step — without materialization the
    expansion (and the parquet re-scans under it) grows 2^jumps per
    round and the query dies on open-file exhaustion before it ever
    mis-computes."""
    parts = [
        f"WITH nodes AS ({sql_nodes}), edges AS ({sql_edges}),",
        f"""we AS MATERIALIZED (
            SELECT u, v, (u * {_W_A} + v * {_W_B}) % {_W_MOD} AS w FROM (
                SELECT DISTINCT LEAST(src, dst) AS u, GREATEST(src, dst) AS v
                FROM edges WHERE src <> dst
            )
        ),
        c0 AS MATERIALIZED (SELECT id AS node, id AS comp FROM nodes)""",
    ]
    for t in range(1, rounds + 1):
        parts.append(f""",
        ej{t} AS MATERIALIZED (
            SELECT cu.comp AS cu, cv.comp AS cv, we.w, we.u, we.v
            FROM we
            JOIN c{t-1} cu ON cu.node = we.u
            JOIN c{t-1} cv ON cv.node = we.v
            WHERE cu.comp <> cv.comp
        ),
        sel{t} AS MATERIALIZED (
            SELECT c, oc, w, u, v FROM (
                SELECT *, ROW_NUMBER() OVER (
                    PARTITION BY c ORDER BY w, u, v
                ) AS rn FROM (
                    SELECT cu AS c, cv AS oc, w, u, v FROM ej{t}
                    UNION ALL
                    SELECT cv AS c, cu AS oc, w, u, v FROM ej{t}
                )
            ) WHERE rn = 1
        ),
        msf{t} AS (SELECT DISTINCT {t} AS round, u, v, w FROM sel{t}),
        pr{t} AS MATERIALIZED (
            SELECT cc.comp AS c, COALESCE(s.oc, cc.comp) AS p
            FROM (SELECT DISTINCT comp FROM c{t-1}) cc
            LEFT JOIN sel{t} s ON s.c = cc.comp
        ),
        p{t}j0 AS MATERIALIZED (
            SELECT x.c, CASE WHEN y.p = x.c THEN LEAST(x.c, x.p) ELSE x.p END AS p
            FROM pr{t} x JOIN pr{t} y ON y.c = x.p
        )""")
        for j in range(1, jumps + 1):
            parts.append(f""",
        p{t}j{j} AS MATERIALIZED (
            SELECT a.c, b.p FROM p{t}j{j-1} a JOIN p{t}j{j-1} b ON b.c = a.p
        )""")
        parts.append(f""",
        c{t} AS MATERIALIZED (
            SELECT c.node, p.p AS comp
            FROM c{t-1} c JOIN p{t}j{jumps} p ON p.c = c.comp
        )""")
    union = "\nUNION ALL ".join(f"SELECT * FROM msf{t}" for t in range(1, rounds + 1))
    parts.append(f"""
        SELECT CAST(round AS BIGINT) AS round, CAST(u AS BIGINT) AS u,
               CAST(v AS BIGINT) AS v, CAST(w AS BIGINT) AS w
        FROM ({union})
        ORDER BY round, w, u, v""")
    return "\n".join(parts)
