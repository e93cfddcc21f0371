"""Round-4c compositions and closing operators:

- curation_pipeline_v2 (flagship): the six-gate FineWeb-generation DAG
  (below) as ONE Catalyst plan;
- graph_wcc_bounded / graph_closeness_approx: bounded min-label WCC and
  landmark-approximated closeness — the last two of the graph-analytics
  suite, unrolled-oracle-checked like their siblings;
- corpus_lang_pivot: pinned-values pivot crosstab (one conditional-count
  hash-agg);
- emb_power_iteration: dominant Gram eigenvector, exact DECIMAL(38)/
  HUGEINT unnormalized power iteration;
- dedup_minhash_clusters: banded-LSH candidates → components →
  canonicals, the at-scale dedup path end-to-end;
- corpus_train_val_split: growth-stable 90/5/5 md5-bucket split;
- skew_salted_join: the manual AQE-skew-split for known hot keys,
  oracled by the plain join (salting must never change semantics).

curation_pipeline_v2 extends the original curation_pipeline
(cluster-canonical → quality → decontaminate → weighted sample) with the
two repetition gates a modern pretraining pipeline runs (RefinedWeb/
FineWeb lineage):

  1. near-dup cluster canonicals        (dedup_clusters)
  2. repetition/length quality gate     (token_repetition)
  3. boilerplate gate                   (boilerplate_stats, ≤ 50% of a
                                         doc's shingles source-common)
  4. duplicated-span coverage gate      (duplicated_spans, ≤ 50% of a
                                         doc's tokens inside cross-doc
                                         verbatim spans)
  5. 13-gram benchmark decontamination  (contamination_ngram)
  6. greedy token-budget corpus cut     (token_budget_select)

Every stage is an already-verified operator composed with semi/anti
joins on doc_id; the whole pipeline is ONE Catalyst plan (no driver
materialization between gates) — each gate a shuffle-bounded subplan,
the final cut one cumsum window. The DuckDB oracle replays all six
stages in one WITH chain.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from .registry import register
from .session import read_table

_V2_SQL = """
    WITH RECURSIVE toks AS (
        SELECT doc_id, string_split(text, ' ') AS t FROM documents
    ),
    -- 1. near-dup clustering (3-gram Jaccard >= 0.5) -> canonicals
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
    canon AS (
        SELECT d.doc_id FROM documents d LEFT JOIN cc ON cc.node = d.doc_id
        WHERE d.doc_id = COALESCE(cc.component, d.doc_id)
    ),
    -- 2. repetition/length quality gate
    tok AS (SELECT doc_id, unnest(t) AS tok FROM toks),
    st AS (SELECT doc_id, COUNT(*) AS n_tokens FROM tok GROUP BY 1),
    bg AS (
        SELECT doc_id, t[i] || ' ' || t[i+1] AS b
        FROM toks, UNNEST(generate_series(1, len(t) - 1)) u(i)
    ),
    bgs AS (SELECT doc_id, COUNT(*) AS nb, COUNT(DISTINCT b) AS ndb FROM bg GROUP BY 1),
    quality AS (
        SELECT st.doc_id FROM st LEFT JOIN bgs USING (doc_id)
        WHERE st.n_tokens >= 30
          AND ROUND(COALESCE(1.0 - ndb / CAST(nb AS DOUBLE), 0.0), 6) <= 0.05
    ),
    -- 3. boilerplate gate: <= 50% of distinct 5-gram shingles source-common
    b5 AS (
        SELECT DISTINCT d.doc_id, d.source,
               md5(list_aggregate(tk.t[u.i:u.i+4], 'string_agg', ' ')) AS g
        FROM documents d JOIN toks tk USING (doc_id),
             UNNEST(generate_series(1, len(tk.t) - 4)) u(i)
    ),
    nd AS (SELECT source, COUNT(DISTINCT doc_id) AS n_docs FROM documents GROUP BY 1),
    dfq AS (SELECT source, g, COUNT(*) AS df FROM b5 GROUP BY 1, 2),
    boiler AS (
        SELECT b5.doc_id,
               SUM(CASE WHEN dfq.df * 4 >= nd.n_docs THEN 1 ELSE 0 END) AS n_b,
               COUNT(*) AS n_s
        FROM b5 JOIN dfq USING (source, g) JOIN nd USING (source)
        GROUP BY b5.doc_id
    ),
    boiler_ok AS (SELECT doc_id FROM boiler WHERE n_b * 2 <= n_s),
    -- 4. duplicated-span coverage gate: <= 50% of tokens inside
    --    cross-document verbatim spans (13-gram anchors, islands-merged)
    gp AS (
        SELECT doc_id, CAST(u.i AS BIGINT) AS pos,
               md5(list_aggregate(t[u.i:u.i+12], 'string_agg', ' ')) AS g
        FROM toks, UNNEST(generate_series(1, len(t) - 12)) u(i)
    ),
    dupg AS (
        SELECT g FROM (SELECT DISTINCT g, doc_id FROM gp)
        GROUP BY g HAVING COUNT(*) >= 2
    ),
    anchors AS (SELECT doc_id, pos FROM gp JOIN dupg USING (g)),
    runs AS (
        SELECT doc_id, pos,
               pos - ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY pos) AS run
        FROM anchors
    ),
    spans AS (
        SELECT doc_id, MAX(pos) + 12 - MIN(pos) + 1 AS span_tokens
        FROM runs GROUP BY doc_id, run
    ),
    cover AS (SELECT doc_id, SUM(span_tokens) AS covered FROM spans GROUP BY 1),
    span_ok AS (
        SELECT st.doc_id FROM st LEFT JOIN cover USING (doc_id)
        WHERE COALESCE(cover.covered, 0) * 2 <= st.n_tokens
    ),
    -- 5. 13-gram benchmark decontamination
    psh AS (SELECT g AS s FROM gp WHERE doc_id % 97 = 0),
    contam AS (SELECT DISTINCT gp.doc_id FROM gp JOIN psh ON gp.g = psh.s),
    surv AS (
        SELECT d.doc_id, d.n_chars, st.n_tokens
        FROM documents d
        JOIN canon USING (doc_id)
        JOIN quality USING (doc_id)
        JOIN boiler_ok USING (doc_id)
        JOIN span_ok USING (doc_id)
        JOIN st ON st.doc_id = d.doc_id
        WHERE d.doc_id NOT IN (SELECT doc_id FROM contam)
    ),
    -- 6. greedy best-first token-budget cut
    cum AS (
        SELECT doc_id, n_chars, n_tokens,
               SUM(n_tokens) OVER (
                   ORDER BY n_chars DESC, doc_id ASC ROWS UNBOUNDED PRECEDING
               ) AS cum_tokens
        FROM surv
    )
    SELECT doc_id, n_chars, CAST(n_tokens AS BIGINT) AS n_tokens,
           CAST(cum_tokens AS BIGINT) AS cum_tokens
    FROM cum WHERE cum_tokens <= 15000
"""


@register("curation_pipeline_v2", _V2_SQL)
def curation_pipeline_v2_q(spark, sf_dir):
    """Six verified operators composed into one Catalyst plan (module
    docstring). The contamination probe set reuses the span-gate's
    13-gram table on both engines, so the whole chain shares one gram
    explode per n. Final output: the docs inside the 15k-token greedy
    budget, with their running total."""
    from .curation import (curation_boiler, curation_canon, curation_contam,
                           curation_ntok, curation_quality, curation_span)

    docs = read_table(spark, sf_dir, "documents")
    canon = curation_canon(spark, sf_dir, docs)
    quality = curation_quality(spark, sf_dir, docs)
    boiler_ok = curation_boiler(spark, sf_dir, docs)
    ntok = curation_ntok(spark, sf_dir, docs)
    span_ok = curation_span(spark, sf_dir, docs)
    contam = curation_contam(spark, sf_dir, docs)
    surv = (
        docs.select("doc_id", "n_chars")
        .join(canon, "doc_id")
        .join(quality, "doc_id")
        .join(boiler_ok, "doc_id")
        .join(span_ok, "doc_id")
        .join(contam, "doc_id", "left_anti")
        .join(ntok, "doc_id")
    )
    from .functions.packing import two_level_prefix_sum

    # Final token-budget gate: the survivor set is corpus-proportional
    # at 100 TB, so the greedy cumsum uses the two-level decomposition
    # (shard_manifest recipe), never an unpartitioned window. Bucket
    # -(n_chars DIV 64) is order-aligned with (n_chars DESC, doc_id).
    gated = two_level_prefix_sum(
        surv.withColumn("_bkt", -F.expr("n_chars DIV 64")),
        "n_tokens",
        "_bkt",
        [F.desc("n_chars"), F.asc("doc_id")],
        out_col="cum_tokens",
    )
    return (
        gated.filter(F.col("cum_tokens") <= 15000)
        .select(
            "doc_id", "n_chars",
            F.col("n_tokens").cast("long").alias("n_tokens"),
            F.col("cum_tokens").cast("long").alias("cum_tokens"),
        )
    )


def _wcc_sql() -> str:
    from .graph.tpch import SQL_EDGES, SQL_NODES
    from .operators.labelprop import wcc_bounded_sql

    return wcc_bounded_sql(SQL_NODES, SQL_EDGES, rounds=4)


@register("graph_wcc_bounded", _wcc_sql())
def graph_wcc_bounded_q(spark, sf_dir):
    """4-round bounded weakly-connected components over the graph twin
    (operators/labelprop.py wcc_bounded): min-label propagation with the
    measured-size broadcast gate; unrolled-rounds oracle. The fixpoint
    variant (alternating star) backs dedup_clusters; this bounded form
    is the known-small-diameter fast path."""
    from .graph.tpch import build_graph
    from .operators.labelprop import wcc_bounded

    g = build_graph(spark, sf_dir)
    return wcc_bounded(spark, g.nodes, g.edges, rounds=4)


@register(
    "corpus_lang_pivot",
    """
    SELECT source,
           CAST(COUNT(*) FILTER (lang = 'de') AS BIGINT) AS de,
           CAST(COUNT(*) FILTER (lang = 'en') AS BIGINT) AS en,
           CAST(COUNT(*) FILTER (lang = 'es') AS BIGINT) AS es,
           CAST(COUNT(*) FILTER (lang = 'fr') AS BIGINT) AS fr,
           CAST(COUNT(*) FILTER (lang = 'zh') AS BIGINT) AS zh
    FROM documents GROUP BY source
    """,
)
def corpus_lang_pivot_q(spark, sf_dir):
    """Source x language crosstab via groupBy().pivot() with an explicit
    value list — Spark's pivot with pinned values stays ONE hash-agg
    (each pivot cell a conditional count, map-side combined), never a
    scan per column; the explicit list also keeps the output schema
    deterministic, which an inferred pivot (extra distinct scan) would
    not guarantee. Absent cells coalesce to 0 to match the SQL FILTER
    semantics."""
    docs = read_table(spark, sf_dir, "documents")
    p = (
        docs.groupBy("source")
        .pivot("lang", ["de", "en", "es", "fr", "zh"])
        .count()
    )
    return p.select(
        "source",
        *[
            F.coalesce(F.col(c), F.lit(0)).cast("long").alias(c)
            for c in ["de", "en", "es", "fr", "zh"]
        ],
    )


def _power_sql() -> str:
    from .functions.similarity import power_iteration_exact_sql

    return power_iteration_exact_sql(rounds=2)


@register("emb_power_iteration", _power_sql())
def emb_power_iteration_q(spark, sf_dir):
    """Dominant-eigenvector direction of the embedding Gram matrix by
    two unnormalized power-iteration rounds (functions/similarity.py
    power_iteration_exact): per round one broadcast matvec + one d-row
    hash-agg, all-integer DECIMAL(38)/HUGEINT arithmetic — an iterative
    eigensolver with an exact unrolled oracle (the whitening/ABTT prep
    step as a verified operator)."""
    from .functions.similarity import power_iteration_exact

    return power_iteration_exact(read_table(spark, sf_dir, "embeddings"), rounds=2)


@register(
    "dedup_minhash_clusters",
    """
    WITH RECURSIVE toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
    sh AS (
        SELECT DISTINCT doc_id, t[i] || ' ' || t[i+1] || ' ' || t[i+2] AS s
        FROM toks, UNNEST(generate_series(1, len(t) - 2)) u(i)
    ),
    m AS (
        SELECT doc_id, u.seed,
               MIN(md5(CAST(u.seed AS VARCHAR) || ':' || s)) AS mh
        FROM sh, UNNEST(generate_series(0, 15)) u(seed)
        GROUP BY doc_id, u.seed
    ),
    b AS (
        SELECT doc_id, seed // 4 AS band,
               md5(string_agg(mh, '|' ORDER BY seed)) AS bh
        FROM m GROUP BY doc_id, seed // 4
    ),
    pairs AS (
        SELECT DISTINCT a.doc_id AS i, c.doc_id AS j
        FROM b a JOIN b c ON a.band = c.band AND a.bh = c.bh
                          AND a.doc_id < c.doc_id
    ),
    sym AS (SELECT i AS u, j AS v FROM pairs UNION SELECT j, i FROM pairs),
    reach(node, mr) AS (
        SELECT u, u FROM sym
        UNION
        SELECT s.u, r.mr FROM sym s JOIN reach r ON r.node = s.v
    ),
    cc AS (SELECT node, MIN(mr) AS component FROM reach GROUP BY node)
    SELECT d.doc_id,
           COALESCE(cc.component, d.doc_id) AS cluster_id,
           d.doc_id = COALESCE(cc.component, d.doc_id) AS is_canonical
    FROM documents d LEFT JOIN cc ON cc.node = d.doc_id
    """,
)
def dedup_minhash_clusters_q(spark, sf_dir):
    """The 100 TB dedup path END-TO-END, verified: banded MinHash-LSH
    candidates (md5 exact-twin family) -> connected components ->
    per-doc cluster id + canonical flag. dedup_clusters verifies the
    exact-Jaccard variant; this one verifies the pipeline actually run
    at scale, where the pair graph comes from the banded equi-join
    (never all-pairs) and everything downstream is identical. Oracle:
    full LSH replay + recursive-CTE closure."""
    from .functions.dedup import minhash_lsh_candidates_exact
    from .operators.components import dedup_clusters

    docs = read_table(spark, sf_dir, "documents")
    pairs = minhash_lsh_candidates_exact(docs, k=16, bands=4)
    return dedup_clusters(spark, docs, pairs)


def _closeness_sql() -> str:
    from .graph.tpch import SQL_EDGES, SQL_NODES
    from .operators.landmarks import landmark_distances_sql

    inner = landmark_distances_sql(SQL_NODES, SQL_EDGES, n_landmarks=8, hops=3)
    return f"""
    WITH ld AS ({inner})
    SELECT node, CAST(COUNT(*) AS BIGINT) AS n_landmarks,
           CAST(SUM(dist) AS BIGINT) AS dist_sum,
           ROUND(COUNT(*) / CAST(SUM(dist) + 1 AS DOUBLE), 6) AS closeness
    FROM ld GROUP BY node
    """


@register("graph_closeness_approx", _closeness_sql())
def graph_closeness_approx_q(spark, sf_dir):
    """Landmark-approximated closeness centrality: reached-landmark count
    over (1 + summed landmark distance) per node — the standard cheap
    centrality at scales where exact closeness (all-pairs BFS) is
    impossible. ONE hash-agg on top of the already-verified
    landmark_distances table; integer sums keep the oracle exact."""
    from .graph.tpch import build_graph
    from .operators.landmarks import landmark_distances

    g = build_graph(spark, sf_dir)
    ld = landmark_distances(g.nodes, g.edges, n_landmarks=8, hops=3)
    return ld.groupBy("node").agg(
        F.count("*").cast("long").alias("n_landmarks"),
        F.sum("dist").cast("long").alias("dist_sum"),
        F.round(
            F.count("*") / (F.sum("dist") + F.lit(1)).cast("double"), 6
        ).alias("closeness"),
    )


@register(
    "corpus_train_val_split",
    """
    WITH s AS (
        SELECT source,
               CASE
                 WHEN CAST(('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 4)) AS BIGINT) % 100 < 90 THEN 'train'
                 WHEN CAST(('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 4)) AS BIGINT) % 100 < 95 THEN 'val'
                 ELSE 'test'
               END AS split,
               CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
        FROM documents
    )
    SELECT source, split, CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(n_tokens) AS BIGINT) AS n_tokens
    FROM s GROUP BY source, split
    """,
)
def corpus_train_val_split_q(spark, sf_dir):
    """Deterministic 90/5/5 train/val/test assignment by md5 hash bucket
    of the STABLE document id — the split every ML pipeline needs to be
    (a) reproducible across runs and engines, (b) stable under corpus
    growth (a doc's split never changes when other docs arrive), which a
    random or row-number split is not. Map-only assignment + one rollup;
    the md5 bucket is the same ANSI-replicable family as the LSH twins,
    so the oracle replays the assignment itself."""
    docs = read_table(spark, sf_dir, "documents")
    bucket = (
        F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 4), 16, 10)
        .cast("long") % 100
    )
    s = docs.select(
        "source",
        F.when(bucket < 90, "train").when(bucket < 95, "val").otherwise("test").alias("split"),
        F.size(F.split("text", " ")).cast("long").alias("n_tokens"),
    )
    return s.groupBy("source", "split").agg(
        F.count("*").cast("long").alias("n_docs"),
        F.sum("n_tokens").cast("long").alias("n_tokens"),
    )


@register(
    "skew_salted_join",
    """
    WITH dim AS (
        SELECT event_type,
               CAST(COUNT(*) AS BIGINT) AS type_total
        FROM events GROUP BY event_type
    )
    SELECT e.event_id, e.event_type, d.type_total
    FROM events e JOIN dim d USING (event_type)
    """,
)
def skew_salted_join_q(spark, sf_dir):
    """Skew-safe fact⋈dim equi-join (operators/skew.py salted_join): the
    7-value event_type key is the canonical hot-key join — unsalted,
    every rows-of-a-type lands on one reducer. The fact side sprays
    across 16 sub-keys, the dim side replicates 16x (the explicit,
    bounded price), and the oracle runs the PLAIN join, proving salting
    changes the schedule, never the semantics."""
    from .operators.skew import salted_join

    ev = read_table(spark, sf_dir, "events").select("event_id", "event_type")
    dim = ev.groupBy("event_type").agg(F.count("*").cast("long").alias("type_total"))
    return salted_join(ev, dim, "event_type", salt=16)


@register(
    "events_transition_matrix",
    """
    WITH o AS (
        SELECT user_id, event_type,
               LEAD(event_type) OVER (
                   PARTITION BY user_id ORDER BY ts, event_id
               ) AS next_type
        FROM events
    )
    SELECT event_type AS from_type, next_type AS to_type,
           CAST(COUNT(*) AS BIGINT) AS n
    FROM o WHERE next_type IS NOT NULL
    GROUP BY 1, 2
    """,
)
def events_transition_matrix_q(spark, sf_dir):
    """Per-user event-type transition counts (the user-journey Markov
    matrix): one LEAD window over (ts, event_id)-ordered events per user
    + one hash-agg — a single shuffle on user_id, output bounded by
    |types|². The (ts, event_id) composite order pins tie-breaking so
    both engines see identical successor pairs."""
    from pyspark.sql.window import Window

    ev = read_table(spark, sf_dir, "events").select(
        "user_id", "event_id", "ts", "event_type"
    )
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    o = ev.withColumn("next_type", F.lead("event_type").over(w))
    return (
        o.filter(F.col("next_type").isNotNull())
        .groupBy(
            F.col("event_type").alias("from_type"),
            F.col("next_type").alias("to_type"),
        )
        .agg(F.count("*").cast("long").alias("n"))
    )


@register(
    "dedup_semantic_clusters",
    """
    WITH RECURSIVE v AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings),
    nv AS (
        SELECT vec_id,
               list_transform(e, x -> x / sqrt(list_sum(list_transform(e, y -> y * y)))) AS n
        FROM v
    ),
    pairs AS (
        SELECT a.vec_id AS i, b.vec_id AS j
        FROM nv a JOIN nv b ON a.vec_id < b.vec_id
        WHERE round(list_sum(list_transform(list_zip(a.n, b.n), x -> x[1] * x[2])), 6) >= 0.42
    ),
    sym AS (SELECT i AS u, j AS v FROM pairs UNION SELECT j, i FROM pairs),
    reach(node, mr) AS (
        SELECT u, u FROM sym
        UNION
        SELECT s.u, r.mr FROM sym s JOIN reach r ON r.node = s.v
    ),
    cc AS (SELECT node, MIN(mr) AS component FROM reach GROUP BY node)
    SELECT e.vec_id AS doc_id,
           COALESCE(cc.component, e.vec_id) AS cluster_id,
           e.vec_id = COALESCE(cc.component, e.vec_id) AS is_canonical
    FROM embeddings e LEFT JOIN cc ON cc.node = e.vec_id
    """,
)
def dedup_semantic_clusters_q(spark, sf_dir):
    """SEMANTIC dedup end-to-end — the third verified clustering path
    beside exact-Jaccard (dedup_clusters) and banded-LSH
    (dedup_minhash_clusters): embedding-cosine near-dup pairs from the
    distributed block-pair GEMM (no driver collect, no all-pairs on the
    wire) -> connected components -> per-item cluster id + canonical
    flag. This is the paraphrase-level pass the lexical families cannot
    see; oracle replays the cosine pair graph + recursive-CTE closure."""
    from .functions.similarity import cosine_near_dup_pairs
    from .operators.components import dedup_clusters

    emb = read_table(spark, sf_dir, "embeddings")
    pairs = cosine_near_dup_pairs(emb, threshold=0.42)
    return dedup_clusters(
        spark,
        emb.select(F.col("vec_id").alias("doc_id")),
        pairs,
        id_col="doc_id",
    )
