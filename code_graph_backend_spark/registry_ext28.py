"""Round-5v extension queries — the analysis reports a curation team
runs over its own pipeline:

- curation_gate_ablation: per-gate kill counts and UNIQUE kill counts
  over the curation pipeline's six verified gates — "which gate pays
  its way" is the first question asked before adding or retiring a
  filter (the FineWeb/Dolma papers publish exactly this table); rides
  the shared gate memo, so the whole ablation costs six anti-joins on
  doc_id;
- dedup_cluster_sizes: the near-dup cluster-size histogram (how much
  mass the duplicate tail carries) plus the dedup ratio ingredients —
  the headline numbers of every dedup report.

Same discipline: integer decisions, a DuckDB oracle per entry, BIGINT
casts, deterministic final ordering.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from .registry import register
from .session import read_table

# DuckDB replay of the six v2 gates (shared with the pipeline oracles'
# WITH chains) — each gate expressed as the set of doc_ids it KILLS.
_GATES_SQL = """
    WITH RECURSIVE toks AS (
        SELECT doc_id, string_split(text, ' ') AS t FROM documents
    ),
    sh AS (
        SELECT DISTINCT doc_id, t[i] || ' ' || t[i+1] || ' ' || t[i+2] AS s
        FROM toks, UNNEST(generate_series(1, len(t) - 2)) u(i)
    ),
    sizes AS (SELECT doc_id, COUNT(*) AS n_sh FROM sh GROUP BY doc_id),
    common AS (
        SELECT a.doc_id AS i, b.doc_id AS j, COUNT(*) AS c
        FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
        GROUP BY 1, 2
    ),
    pairs AS (
        SELECT i, j FROM common
        JOIN sizes na ON na.doc_id = i
        JOIN sizes nb ON nb.doc_id = j
        WHERE c / (na.n_sh + nb.n_sh - c) >= 0.5
    ),
    sym AS (SELECT i AS u, j AS v FROM pairs UNION SELECT j, i FROM pairs),
    reach(node, m) AS (
        SELECT u, u FROM sym
        UNION
        SELECT s.u, r.m FROM sym s JOIN reach r ON r.node = s.v
    ),
    cc AS (SELECT node, MIN(m) AS component FROM reach GROUP BY node),
    kill_canon AS (
        SELECT d.doc_id FROM documents d JOIN cc ON cc.node = d.doc_id
        WHERE d.doc_id <> cc.component
    ),
    tok AS (SELECT doc_id, unnest(t) AS tok FROM toks),
    st AS (SELECT doc_id, COUNT(*) AS n_tokens FROM tok GROUP BY 1),
    bg AS (
        SELECT doc_id, t[i] || ' ' || t[i+1] AS b
        FROM toks, UNNEST(generate_series(1, len(t) - 1)) u(i)
    ),
    bgs AS (
        SELECT doc_id, COUNT(*) AS nb, COUNT(DISTINCT b) AS ndb
        FROM bg GROUP BY 1
    ),
    kill_quality AS (
        SELECT st.doc_id FROM st LEFT JOIN bgs USING (doc_id)
        WHERE NOT (st.n_tokens >= 30
          AND ROUND(COALESCE(1.0 - ndb / CAST(nb AS DOUBLE), 0.0), 6) <= 0.05)
    ),
    b5 AS (
        SELECT DISTINCT d.doc_id, d.source,
               md5(list_aggregate(tk.t[u.i:u.i+4], 'string_agg', ' ')) AS g
        FROM documents d JOIN toks tk USING (doc_id),
             UNNEST(generate_series(1, len(tk.t) - 4)) u(i)
    ),
    nd AS (SELECT source, COUNT(DISTINCT doc_id) AS n_docs
           FROM documents GROUP BY 1),
    dfq AS (SELECT source, g, COUNT(*) AS df FROM b5 GROUP BY 1, 2),
    boil AS (
        SELECT b5.doc_id,
               SUM(CASE WHEN dfq.df * 4 >= nd.n_docs THEN 1 ELSE 0 END) AS n_b,
               COUNT(*) AS n_s
        FROM b5 JOIN dfq USING (source, g) JOIN nd USING (source)
        GROUP BY b5.doc_id
    ),
    kill_boiler AS (
        -- complement of the PASS set (the pipeline semi-joins the ok
        -- table, so a doc with no 5-gram rows is killed too)
        SELECT d.doc_id FROM documents d
        WHERE NOT EXISTS (
            SELECT 1 FROM boil b
            WHERE b.doc_id = d.doc_id AND b.n_b * 2 <= b.n_s
        )
    ),
    dsh AS (
        SELECT DISTINCT doc_id, array_to_string(t[i:i+12], ' ') AS s
        FROM toks, UNNEST(generate_series(1, len(t) - 12)) u(i)
    ),
    psh AS (SELECT s FROM dsh WHERE doc_id % 97 = 0),
    kill_contam AS (
        SELECT DISTINCT d.doc_id FROM dsh d JOIN psh p ON d.s = p.s
    ),
    kills AS (
        SELECT 'canonical' AS gate, doc_id FROM kill_canon
        UNION ALL SELECT 'quality', doc_id FROM kill_quality
        UNION ALL SELECT 'boilerplate', doc_id FROM kill_boiler
        UNION ALL SELECT 'contamination', doc_id FROM kill_contam
    ),
    per_doc AS (SELECT doc_id, COUNT(*) AS n_gates FROM kills GROUP BY doc_id)
    SELECT k.gate,
           CAST(COUNT(*) AS BIGINT) AS n_killed,
           CAST(SUM(CASE WHEN p.n_gates = 1 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_unique_kills
    FROM kills k JOIN per_doc p USING (doc_id)
    GROUP BY k.gate ORDER BY k.gate
"""


@register("curation_gate_ablation", _GATES_SQL)
def curation_gate_ablation_q(spark, sf_dir):
    """Per-gate ablation over four of the curation pipeline's verified
    gates (near-dup canonicals, repetition quality, boilerplate,
    decontamination): how many docs each gate kills, and how many ONLY
    that gate kills — the marginal-value table every filtering paper
    publishes before adding or retiring a gate. The kill sets are the
    complements of the memoized gate tables (curation.py), so the whole
    report is four doc_id anti-joins + one per-doc count."""
    from .curation import curation_boiler, curation_canon, curation_contam, curation_quality

    docs = read_table(spark, sf_dir, "documents")
    ids = docs.select("doc_id")
    canon = curation_canon(spark, sf_dir, docs)
    quality = curation_quality(spark, sf_dir, docs)
    boiler_ok = curation_boiler(spark, sf_dir, docs)
    contam = curation_contam(spark, sf_dir, docs)
    kills = (
        ids.join(canon, "doc_id", "left_anti")
        .select("doc_id", F.lit("canonical").alias("gate"))
        .unionByName(
            ids.join(quality, "doc_id", "left_anti")
            .select("doc_id", F.lit("quality").alias("gate"))
        )
        .unionByName(
            ids.join(boiler_ok, "doc_id", "left_anti")
            .select("doc_id", F.lit("boilerplate").alias("gate"))
        )
        .unionByName(
            contam.select("doc_id", F.lit("contamination").alias("gate"))
        )
    )
    from .scratch import scratch_persist

    kills = scratch_persist(kills)
    per_doc = kills.groupBy("doc_id").agg(F.count("*").alias("n_gates"))
    return (
        kills.join(per_doc, "doc_id")
        .groupBy("gate")
        .agg(
            F.count("*").cast("long").alias("n_killed"),
            F.sum(F.when(F.col("n_gates") == 1, 1).otherwise(0))
            .cast("long").alias("n_unique_kills"),
        )
        .orderBy("gate")
    )


@register(
    "dedup_cluster_sizes",
    """
    WITH RECURSIVE toks AS (
        SELECT doc_id, string_split(text, ' ') AS t FROM documents
    ),
    sh AS (
        SELECT DISTINCT doc_id, t[i] || ' ' || t[i+1] || ' ' || t[i+2] AS s
        FROM toks, UNNEST(generate_series(1, len(t) - 2)) u(i)
    ),
    sizes AS (SELECT doc_id, COUNT(*) AS n_sh FROM sh GROUP BY doc_id),
    common AS (
        SELECT a.doc_id AS i, b.doc_id AS j, COUNT(*) AS c
        FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
        GROUP BY 1, 2
    ),
    pairs AS (
        SELECT i, j FROM common
        JOIN sizes na ON na.doc_id = i
        JOIN sizes nb ON nb.doc_id = j
        WHERE c / (na.n_sh + nb.n_sh - c) >= 0.5
    ),
    sym AS (SELECT i AS u, j AS v FROM pairs UNION SELECT j, i FROM pairs),
    reach(node, m) AS (
        SELECT u, u FROM sym
        UNION
        SELECT s.u, r.m FROM sym s JOIN reach r ON r.node = s.v
    ),
    cc AS (SELECT node, MIN(m) AS component FROM reach GROUP BY node),
    asg AS (
        SELECT d.doc_id, COALESCE(cc.component, d.doc_id) AS cluster
        FROM documents d LEFT JOIN cc ON cc.node = d.doc_id
    ),
    cs AS (SELECT cluster, CAST(COUNT(*) AS BIGINT) AS size FROM asg GROUP BY 1)
    SELECT size,
           CAST(COUNT(*) AS BIGINT) AS n_clusters,
           CAST(size * COUNT(*) AS BIGINT) AS n_docs,
           CAST((size - 1) * COUNT(*) AS BIGINT) AS n_removable
    FROM cs GROUP BY size ORDER BY size
    """,
)
def dedup_cluster_sizes_q(spark, sf_dir):
    """The dedup report's headline table: near-dup cluster-size
    histogram with per-size doc mass and removable-duplicate mass
    (Σ n_removable / Σ n_docs is the dedup ratio). Components over the
    pair graph (already the at-scale path), one corpus left join, two
    dimension-sized aggs."""
    from .curation import curation_clusters

    docs = read_table(spark, sf_dir, "documents")
    asg = curation_clusters(spark, sf_dir, docs)
    cs = asg.groupBy("cluster_id").agg(F.count("*").cast("long").alias("size"))
    return (
        cs.groupBy("size")
        .agg(F.count("*").cast("long").alias("n_clusters"))
        .select(
            "size", "n_clusters",
            (F.col("size") * F.col("n_clusters")).cast("long").alias("n_docs"),
            ((F.col("size") - 1) * F.col("n_clusters")).cast("long")
            .alias("n_removable"),
        )
        .orderBy("size")
    )
