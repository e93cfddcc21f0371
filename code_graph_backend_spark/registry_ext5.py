"""Round-4 extension queries: exact-twin oracle companions for the
approximate dedup/ANN families (r3 verdict item 4).

The approximate families (minhash-LSH, simhash, hyperplane-LSH, IVF) are
rows-only in the driver because their production hash families
(xxhash64/blake2b) and sampled k-means have no DuckDB equivalent. These
twins run the SAME pipelines with an md5 hash family and integer-quantized
dot products, both exactly replicable in SQL — so the banding, signature
aggregation, majority vote, and candidate-join MACHINERY each get a true
hash-checked oracle row. Recall quality remains pytest-asserted
(tests/test_dedup_similarity.py)."""

from __future__ import annotations

from pyspark.sql import functions as F

from .functions import dedup, similarity
from .memo import cached
from .registry import register
from .session import read_table


@register(
    "dedup_minhash_exact",
    """
    WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
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
    )
    SELECT DISTINCT a.doc_id AS i, c.doc_id AS j
    FROM b a JOIN b c ON a.band = c.band AND a.bh = c.bh AND a.doc_id < c.doc_id
    """,
)
def dedup_minhash_exact(spark, sf_dir):
    """Exact-twin of dedup_minhash_lsh (functions/dedup.py
    minhash_lsh_candidates_exact): identical explode → one-agg k-mins →
    banded equi-join plan, md5 hash family so the oracle replays every
    hash. k=16 minhashes, 4 bands of 4."""
    docs = read_table(spark, sf_dir, "documents")
    return dedup.minhash_lsh_candidates_exact(docs, k=16, bands=4)


@register(
    "dedup_simhash_exact",
    """
    WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
    sh AS (
        SELECT DISTINCT doc_id, t[i] || ' ' || t[i+1] || ' ' || t[i+2] AS s
        FROM toks, UNNEST(generate_series(1, len(t) - 2)) u(i)
    ),
    h AS (
        SELECT doc_id, CAST(('0x' || substring(md5(s), 1, 8)) AS BIGINT) AS h
        FROM sh
    ),
    v AS (
        SELECT doc_id, u.b, SUM((h >> u.b) & 1) AS s, COUNT(*) AS c
        FROM h, UNNEST(generate_series(0, 31)) u(b)
        GROUP BY doc_id, u.b
    )
    SELECT doc_id,
           CAST(SUM(CASE WHEN 2 * s > c THEN (CAST(1 AS BIGINT) << b)
                         ELSE 0 END) AS BIGINT) AS sig
    FROM v GROUP BY doc_id
    """,
)
def dedup_simhash_exact(spark, sf_dir):
    """Exact-twin of dedup_simhash's per-bit majority vote
    (functions/dedup.py simhash_signatures_exact): 32-bit md5 family, one
    hash-agg with packed bit sums."""
    docs = read_table(spark, sf_dir, "documents")
    return dedup.simhash_signatures_exact(docs)


@register(
    "ann_lsh_exact",
    """
    WITH d AS (
        SELECT vec_id, u.dim,
               CAST(round(CAST(embedding[u.dim] AS DOUBLE) * 1000) AS BIGINT) AS q
        FROM embeddings, UNNEST(generate_series(1, len(embedding))) u(dim)
    ),
    pd AS (
        SELECT vec_id, p.p, dim, q,
               CAST(('0x' || substring(md5(CAST(p.p AS VARCHAR) || ':'
                    || CAST(dim AS VARCHAR)), 1, 8)) AS BIGINT)
                   - 2147483648 AS w
        FROM d, UNNEST(generate_series(0, 7)) p(p)
    ),
    b AS (
        SELECT vec_id, p, CASE WHEN SUM(q * w) >= 0 THEN '1' ELSE '0' END AS bit
        FROM pd GROUP BY vec_id, p
    )
    SELECT vec_id, string_agg(bit, '' ORDER BY p) AS bucket
    FROM b GROUP BY vec_id
    """,
)
def ann_lsh_exact(spark, sf_dir):
    """Exact-twin of the hyperplane-LSH bucketing inside ann_lsh_topk
    (functions/similarity.py hyperplane_buckets_exact): md5-derived plane
    weights + integer-quantized dot products make the sign-bit bucket
    assignment engine-independent and hash-checkable."""
    emb = read_table(spark, sf_dir, "embeddings")
    return similarity.hyperplane_buckets_exact(emb, planes=8)


# ---------------------------------------------------------------------------
# Training-sequence assembly (functions/packing.py)
# ---------------------------------------------------------------------------


@register(
    "pack_sequences",
    """
    WITH t AS (
        SELECT doc_id, CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
        FROM documents
    ),
    c AS (
        SELECT doc_id, n_tokens,
               SUM(n_tokens) OVER (ORDER BY doc_id ROWS UNBOUNDED PRECEDING) AS cum
        FROM t
    )
    SELECT CAST((cum - n_tokens) // 256 AS BIGINT) AS seq_id, doc_id, n_tokens,
           CAST((cum - n_tokens) % 256 AS BIGINT) AS tok_offset
    FROM c
    """,
)
def pack_sequences_q(spark, sf_dir):
    """Concat-and-chunk sequence packing (functions/packing.py): the
    id-ordered corpus token stream cut into fixed 256-token windows; one
    window cumsum assigns each doc its window id and token offset —
    deterministic, single shuffle, ANSI-expressible."""
    from .functions.packing import pack_sequences

    return pack_sequences(read_table(spark, sf_dir, "documents"), budget=256)


@register(
    "sample_temperature",
    """
    WITH counts AS (SELECT lang, COUNT(*) AS n FROM documents GROUP BY lang),
    q AS (
        SELECT lang,
               LEAST(n, CAST(ceil(sqrt(n * (SELECT MIN(n) FROM counts))) AS BIGINT))
                   AS quota
        FROM counts
    ),
    r AS (
        SELECT doc_id, lang,
               ROW_NUMBER() OVER (
                   PARTITION BY lang
                   ORDER BY md5(CAST(doc_id AS VARCHAR) || ':temp'), doc_id
               ) AS rk
        FROM documents
    )
    SELECT doc_id, lang FROM r JOIN q USING (lang) WHERE rk <= quota
    """,
)
def sample_temperature_q(spark, sf_dir):
    """Temperature (alpha=0.5) language rebalancing without upsampling
    (functions/packing.py): per-language md5-ranked keep up to
    ceil(sqrt(n_l * n_min)) — sqrt is correctly rounded, so the oracle
    replays the exact quotas."""
    from .functions.packing import temperature_resample

    return temperature_resample(
        read_table(spark, sf_dir, "documents"), alpha=0.5, group_col="lang"
    )


@register(
    "quality_percentile",
    """
    WITH r AS (
        SELECT doc_id, source, CAST(n_chars AS DOUBLE) AS score,
               PERCENT_RANK() OVER (
                   PARTITION BY source ORDER BY n_chars DESC, doc_id ASC
               ) AS pr
        FROM documents
    )
    SELECT doc_id, source, score FROM r WHERE pr < 0.5
    """,
)
def quality_percentile_q(spark, sf_dir):
    """Per-source top-50% quality gate (functions/packing.py
    quality_percentile_filter): percent_rank window per source, one
    shuffle; per-domain gating keeps one high-scoring source from
    crowding out the rest."""
    from pyspark.sql import functions as FF

    from .functions.packing import quality_percentile_filter

    docs = read_table(spark, sf_dir, "documents").select(
        "doc_id", "source", FF.col("n_chars").cast("double").alias("score")
    )
    return quality_percentile_filter(docs, keep_top=0.5)


@register(
    "bpe_pair_stats",
    """
    WITH toks AS (SELECT unnest(string_split(text, ' ')) AS w FROM documents),
    wf AS (SELECT w, COUNT(*) AS n FROM toks GROUP BY w HAVING length(w) >= 2),
    p AS (
        SELECT substring(w, u.i, 2) AS pair, n
        FROM wf, UNNEST(generate_series(1, length(w) - 1)) u(i)
    )
    SELECT pair, CAST(SUM(n) AS BIGINT) AS n_pair
    FROM p GROUP BY pair ORDER BY n_pair DESC, pair LIMIT 50
    """,
)
def bpe_pair_stats_q(spark, sf_dir):
    """The core BPE tokenizer-training step (functions/text.py
    bpe_pair_stats): corpus → word-frequency table (one shuffle, output is
    vocabulary-sized) → adjacent char-pair counts weighted by word
    frequency → the argmax pair is the next merge rule."""
    from .functions.text import bpe_pair_stats

    return bpe_pair_stats(read_table(spark, sf_dir, "documents"), top=50)


@register(
    "emb_label_centroids",
    """
    WITH d AS (
        SELECT label, u.dim,
               CAST(round(CAST(embedding[u.dim] AS DOUBLE) * 1000000) AS BIGINT) AS q
        FROM embeddings, UNNEST(generate_series(1, len(embedding))) u(dim)
    )
    SELECT label, CAST(dim - 1 AS INT) AS dim,
           ROUND(SUM(q) / (COUNT(*) * 1000000.0), 6) AS c_val
    FROM d GROUP BY label, dim
    """,
)
def emb_label_centroids_q(spark, sf_dir):
    """Per-label embedding centroids (functions/similarity.py
    label_centroids): integer-quantized components make the per-(label,
    dim) sum order-independent exact math — the plain float sum could
    never hash-match across engines. One map-side-combined hash-agg; the
    canonical k-means-update shape."""
    from .functions.similarity import label_centroids

    return label_centroids(read_table(spark, sf_dir, "embeddings"))


def _cooc_edges(spark, sf_dir):
    """Frequent part-co-occurrence edges: parts sharing an order in ≥2
    DISTINCT orders (the market-basket support prune). Without the
    support gate the raw co-occurrence graph densifies with scale (avg
    degree ~120 at sf0.1 — every popular part links to every other) and
    any neighborhood operator degenerates to near-all-pairs; support
    pruning is the standard first step that keeps the graph the signal
    subgraph at every scale (~3.5k stable edges at sf0.01 AND sf0.1).

    Session-memoized per (session, sf_dir): six operators consume this
    substrate (triangles/jaccard/ktruss/embeddedness/stress/motifs) and
    each was paying the lineitem distinct + self-join again. The result
    is ~3.5k rows, so the persisted footprint is noise."""

    def build():
        li = read_table(spark, sf_dir, "lineitem").select(
            F.col("l_orderkey").alias("ok"), F.col("l_partkey").alias("pk")
        ).distinct()
        a, b = li.alias("a"), li.alias("b")
        return (
            a.join(b, "ok")
            .filter(F.col("a.pk") < F.col("b.pk"))
            .groupBy(F.col("a.pk").alias("src"), F.col("b.pk").alias("dst"))
            .agg(F.count("*").alias("sup"))
            .filter(F.col("sup") >= 2)
            .select("src", "dst")
            .persist()
        )

    return cached(spark, ("cooc", sf_dir.rstrip("/")), build)


@register(
    "graph_triangle_count",
    """
    WITH li AS (SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk FROM lineitem),
    und AS (
        SELECT a.pk AS a, b.pk AS b
        FROM li a JOIN li b ON a.ok = b.ok AND a.pk < b.pk
        GROUP BY 1, 2 HAVING COUNT(*) >= 2
    ),
    tri AS (
        SELECT e1.a AS x, e1.b AS y, e2.b AS z
        FROM und e1
        JOIN und e2 ON e1.b = e2.a
        JOIN und e3 ON e3.a = e1.a AND e3.b = e2.b
    ),
    corners AS (
        SELECT x AS node FROM tri
        UNION ALL SELECT y FROM tri
        UNION ALL SELECT z FROM tri
    )
    SELECT node, CAST(COUNT(*) AS BIGINT) AS n_triangles
    FROM corners GROUP BY node
    """,
)
def graph_triangle_count_q(spark, sf_dir):
    """Per-node triangle counts (operators/triangles.py) over the
    support-pruned part-co-occurrence graph (_cooc_edges). The Spark side
    runs the degree-ORIENTED wedge join (skew-capped, WWW'11); the oracle
    counts the same triangles via the independent a<b<c three-way join —
    two different algorithms, one hash-checked answer."""
    from .operators.triangles import triangle_count_per_node

    return triangle_count_per_node(_cooc_edges(spark, sf_dir))


@register(
    "stream_event_dedup",
    """
    SELECT user_id, event_type, epoch_ms(MIN(ts)) AS first_ts_ms,
           CAST(COUNT(*) AS BIGINT) AS n_events
    FROM events GROUP BY 1, 2
    """,
)
def stream_event_dedup_q(spark, sf_dir):
    """Batch twin of the built-in watermark stream dedup
    (streaming/stateful.dedup_events + stream_dedup_within_watermark;
    stream/batch parity pinned in tests/test_streaming_windows.py). One
    hash-agg; first_ts as epoch millis so nanos-vs-micros timestamp
    precision cannot skew the comparison."""
    from .streaming.stateful import dedup_events

    ev = read_table(spark, sf_dir, "events")
    d = dedup_events(ev)
    return d.select(
        "user_id", "event_type",
        F.unix_millis(F.col("first_ts").cast("timestamp")).alias("first_ts_ms"),
        "n_events",
    )


@register(
    "corpus_length_deciles",
    """
    WITH q AS (
        SELECT lang,
               quantile_cont(n_chars,
                   [0.1, 0.2, 0.3, 0.4, 0.5, 0.6, 0.7, 0.8, 0.9]) AS qs
        FROM documents GROUP BY lang
    )
    SELECT lang, CAST(u.i AS INT) AS decile, ROUND(qs[u.i], 4) AS q
    FROM q, UNNEST(generate_series(1, 9)) u(i)
    """,
)
def corpus_length_deciles_q(spark, sf_dir):
    """Exact per-language document-length deciles — the corpus-profiling
    step before choosing packing budgets and length filters. One hash-agg
    per language computing all nine quantiles in a single percentile
    aggregate (one shuffle, map-side partials); both engines interpolate
    linearly on the sorted values, verified bit-identical at 4 dp across
    sf0.001-0.1."""
    docs = read_table(spark, sf_dir, "documents")
    return (
        docs.groupBy("lang")
        .agg(F.percentile(F.col("n_chars"),
                          F.lit([i / 10 for i in range(1, 10)])).alias("qs"))
        .select("lang", F.posexplode("qs").alias("decile", "q"))
        .select(
            "lang",
            (F.col("decile") + 1).cast("int").alias("decile"),
            F.round("q", 4).alias("q"),
        )
    )


def _lpa_sql(iters: int = 2) -> str:
    """Unrolled synchronous label propagation: one (votes, best, labels)
    CTE triple per round — the same exact-oracle trick as pagerank's
    unrolled power iteration."""
    from .graph.tpch import SQL_EDGES, SQL_NODES

    parts = [
        f"WITH nodes AS ({SQL_NODES}), edges AS ({SQL_EDGES}),",
        """und AS (
            SELECT DISTINCT src AS a, dst AS b FROM edges WHERE src <> dst
        ),
        sym AS (SELECT a, b FROM und UNION ALL SELECT b, a FROM und),
        l0 AS (SELECT id AS node, id AS label FROM nodes)""",
    ]
    for t in range(1, iters + 1):
        parts.append(f""",
        v{t} AS (
            SELECT sym.a AS v, l.label, COUNT(*) AS n
            FROM sym JOIN l{t-1} l ON sym.b = l.node GROUP BY 1, 2
        ),
        b{t} AS (
            SELECT v AS node, arg_max(label, n * 100000000 - label) AS nl
            FROM v{t} GROUP BY v
        ),
        l{t} AS (
            SELECT l.node, COALESCE(b.nl, l.label) AS label
            FROM l{t-1} l LEFT JOIN b{t} b USING (node)
        )""")
    parts.append(f"SELECT node, label FROM l{iters}")
    return "\n".join(parts)


@register("graph_label_propagation", _lpa_sql(2))
def graph_label_propagation_q(spark, sf_dir):
    """2-round synchronous label propagation over the graph twin
    (operators/labelprop.py): per round one neighbor join + one hash-agg +
    one max_by reduction, localCheckpoint lineage cuts — and an exactly
    unrolled SQL oracle (fixed rounds + deterministic ties make community
    detection hash-checkable)."""
    return lpa_labels(spark, sf_dir)


def lpa_labels(spark, sf_dir):
    """Session-memoized LPA labels: graph_label_propagation and
    graph_modularity share one checkpointed label table per (session,
    sf_dir) — the 2 propagation rounds run once; modularity only pays
    its edge joins. Safe to cache: the final labels are
    localCheckpoint-backed (operators/labelprop.py), not lineage-tied to
    scratch persists."""
    from .graph.tpch import build_graph
    from .operators.labelprop import label_propagation

    def build():
        g = build_graph(spark, sf_dir)
        return label_propagation(spark, g.nodes, g.edges, iters=2)

    return cached(spark, ("lpa", sf_dir.rstrip("/")), build)


@register(
    "graph_jaccard_neighbors",
    """
    WITH li AS (SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk FROM lineitem),
    und AS (
        SELECT a.pk AS a, b.pk AS b
        FROM li a JOIN li b ON a.ok = b.ok AND a.pk < b.pk
        GROUP BY 1, 2 HAVING COUNT(*) >= 2
    ),
    adj AS (SELECT a, b FROM und UNION ALL SELECT b, a FROM und),
    deg AS (SELECT a AS v, COUNT(*) AS d FROM adj GROUP BY a),
    common AS (
        SELECT w1.a AS i, w2.a AS j, COUNT(*) AS c
        FROM adj w1 JOIN adj w2 ON w1.b = w2.b AND w1.a < w2.a
        GROUP BY 1, 2 HAVING COUNT(*) >= 2
    )
    SELECT i, j, ROUND(c / (di.d + dj.d - c), 6) AS jac
    FROM common JOIN deg di ON di.v = i JOIN deg dj ON dj.v = j
    """,
)
def graph_jaccard_neighbors_q(spark, sf_dir):
    """Neighborhood Jaccard similarity over the support-pruned part
    co-occurrence graph (_cooc_edges; operators/triangles.
    jaccard_neighbors): inverted-index wedge join — the graph transplant
    of the dedup pipeline's shingle-index trick; no all-pairs anywhere.
    min_common=2 keeps the pair set selective."""
    from .operators.triangles import jaccard_neighbors

    return jaccard_neighbors(_cooc_edges(spark, sf_dir), min_common=2)


@register(
    "funnel_conversion",
    """
    WITH s1 AS (
        SELECT user_id, MIN(ts) AS t1 FROM events
        WHERE event_type = 'view' GROUP BY user_id
    ),
    s2 AS (
        SELECT e.user_id, MIN(ts) AS t2 FROM events e JOIN s1 USING (user_id)
        WHERE event_type = 'click' AND ts > t1 GROUP BY e.user_id
    ),
    s3 AS (
        SELECT e.user_id, MIN(ts) AS t3 FROM events e JOIN s2 USING (user_id)
        WHERE event_type = 'purchase' AND ts > t2 GROUP BY e.user_id
    )
    SELECT 1 AS stage_idx, 'view' AS stage,
           CAST((SELECT COUNT(*) FROM s1) AS BIGINT) AS n_users
    UNION ALL
    SELECT 2, 'click', CAST((SELECT COUNT(*) FROM s2) AS BIGINT)
    UNION ALL
    SELECT 3, 'purchase', CAST((SELECT COUNT(*) FROM s3) AS BIGINT)
    """,
)
def funnel_conversion_q(spark, sf_dir):
    """Ordered view→click→purchase funnel (operators/funnel.py): greedy
    earliest-chain per user decides ordered-subsequence existence exactly;
    one min-agg per stage, no windows, no per-user sorting."""
    from .operators.funnel import funnel_counts

    ev = read_table(spark, sf_dir, "events")
    return funnel_counts(ev, ["view", "click", "purchase"])


def _kcore_sql(k: int = 2, rounds: int = 3) -> str:
    from .graph.tpch import SQL_EDGES

    parts = [
        f"WITH edges AS ({SQL_EDGES}),",
        """e0 AS (
            SELECT DISTINCT src AS a, dst AS b FROM edges WHERE src <> dst
        )""",
    ]
    for t in range(1, rounds + 1):
        parts.append(f""",
        d{t} AS (
            SELECT v, COUNT(*) AS d FROM (
                SELECT a AS v FROM e{t-1} UNION ALL SELECT b FROM e{t-1}
            ) GROUP BY v
        ),
        k{t} AS (SELECT v FROM d{t} WHERE d >= {k}),
        e{t} AS (
            SELECT a, b FROM e{t-1}
            WHERE a IN (SELECT v FROM k{t}) AND b IN (SELECT v FROM k{t})
        )""")
    parts.append(f"""
        SELECT node, CAST(COUNT(*) AS BIGINT) AS degree FROM (
            SELECT a AS node FROM e{rounds} UNION ALL SELECT b FROM e{rounds}
        ) GROUP BY node HAVING COUNT(*) >= {k}""")
    return "\n".join(parts)


@register("graph_kcore", _kcore_sql(2, 3))
def graph_kcore_q(spark, sf_dir):
    """Bounded 3-round 2-core peeling over the graph twin
    (operators/labelprop.kcore_bounded): per round one degree agg + two
    semi-joins; unrolled-rounds SQL oracle, same verification trick as
    pagerank/sssp/label-propagation."""
    from .graph.tpch import build_graph
    from .operators.labelprop import kcore_bounded

    g = build_graph(spark, sf_dir)
    return kcore_bounded(spark, g.edges, k=2, rounds=3)


def _ivf_exact_sql() -> str:
    from .functions.similarity import ivf_topk_exact_sql

    return ivf_topk_exact_sql(n_cells=8, rounds=2, n_probe=2, k=10)


@register("ann_ivf_exact", _ivf_exact_sql())
def ann_ivf_exact_q(spark, sf_dir):
    """Exact-twin of the IVF probe pipeline (functions/similarity.py
    ivf_topk_exact): integer-exact k-means cells (kmeans_assign_exact's
    machinery, already oracled by emb_kmeans_assign), query→2-nearest-cell
    probe fan-out, cell equi-join candidate pruning, integer-quantized
    dot-product top-10 re-rank — the full probe-JOIN machinery of
    ann_ivf_topk / ann_ivf_indexed_topk under a hash-checked oracle.
    With this row every approximate ANN/dedup family (minhash, simhash,
    hyperplane-LSH, PQ, IVF) has a same-machinery exact twin."""
    from .functions.similarity import ivf_topk_exact

    return ivf_topk_exact(
        read_table(spark, sf_dir, "embeddings"), n_cells=8, rounds=2, n_probe=2, k=10
    )
