"""Round-5b extension queries: bounded-index decontamination and
mergeable-sketch heavy hitters — the two sketch shapes (Bloom membership,
Count-Min frequency) a 100 TB pipeline uses where the exact structures
(probe-shingle broadcast, full token groupBy) stop fitting.

Both follow the repo's exact-oracle discipline: every bit/counter is a
deterministic md5 function of the input, so DuckDB replays the WHOLE
sketch and the driver hash-checks the estimates themselves (see
functions/sketches.py for the HLL precedent). No reference analogue
(the reference's aggregation surface is count/collect, SURVEY.md §2.4).
"""

from __future__ import annotations

from pyspark.sql import functions as F

from .memo import cached
from .registry import register
from .session import read_table
from .functions.sampling import bloom_positions_sql


@register(
    "contamination_bloom",
    f"""
    WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
    dsh AS (
        SELECT DISTINCT doc_id, array_to_string(t[i:i+12], ' ') AS s
        FROM toks, UNNEST(generate_series(1, len(t) - 12)) u(i)
    ),
    psh AS (SELECT DISTINCT s FROM dsh WHERE doc_id % 97 = 0),
    bits AS (
        SELECT DISTINCT j, {bloom_positions_sql('s', 'j')} AS pos
        FROM psh, UNNEST(['0','1','2','3']) u(j)
    ),
    dpos AS (
        SELECT doc_id, s, j, {bloom_positions_sql('s', 'j')} AS pos
        FROM dsh, UNNEST(['0','1','2','3']) u(j)
    ),
    hits AS (
        SELECT doc_id, s, COUNT(*) AS k_hit
        FROM dpos JOIN bits USING (j, pos)
        GROUP BY 1, 2
    ),
    flagged AS (
        SELECT doc_id, COUNT(*) AS n_flagged FROM hits
        WHERE k_hit = 4 GROUP BY 1
    )
    SELECT CAST(d.doc_id AS BIGINT) AS doc_id,
           CAST(COALESCE(f.n_flagged, 0) AS BIGINT) AS n_flagged,
           COALESCE(f.n_flagged, 0) > 0 AS flagged
    FROM (SELECT doc_id FROM documents) d
    LEFT JOIN flagged f USING (doc_id)
    ORDER BY doc_id
    """,
)
def contamination_bloom_q(spark, sf_dir):
    """Bloom-filter decontamination (functions/sampling.py
    contamination_bloom): per doc, how many of its 13-gram shingles the
    probe-set Bloom filter (M=2^16 bits, k=4 md5 hashes) flags. The
    broadcast side is bounded by M regardless of probe-corpus size —
    the index you ship when the benchmark suite outgrows
    contamination_ngram's shingle broadcast. Zero false negatives by
    construction; the oracle replays the exact bit layout."""
    from .functions.sampling import contamination_bloom

    docs = read_table(spark, sf_dir, "documents")
    probes = docs.filter(F.col("doc_id") % 97 == 0).select(
        F.col("text").alias("probe_text")
    )
    return contamination_bloom(docs, probes)


from .functions.sketches import cms_pos_sql  # noqa: E402


@register(
    "corpus_heavy_hitters",
    f"""
    WITH toks AS (
        SELECT doc_id % 8 AS shard, unnest(string_split(text, ' ')) AS tok
        FROM documents
    ),
    sc AS (SELECT shard, tok, COUNT(*) AS c FROM toks GROUP BY 1, 2),
    counters AS (
        SELECT j, pos, COUNT(*) AS cnt FROM (
            SELECT j, {cms_pos_sql('tok', 'j')} AS pos
            FROM toks, UNNEST(['0','1','2','3']) u(j)
        ) GROUP BY 1, 2
    ),
    cand AS (
        SELECT DISTINCT tok FROM (
            SELECT shard, tok,
                   ROW_NUMBER() OVER (PARTITION BY shard
                                      ORDER BY c DESC, tok) AS rn
            FROM sc
        ) WHERE rn <= 16
    ),
    est AS (
        SELECT tok, MIN(cnt) AS est_count FROM (
            SELECT cand.tok, j, {cms_pos_sql('tok', 'j')} AS pos
            FROM cand, UNNEST(['0','1','2','3']) u(j)
        ) p JOIN counters USING (j, pos) GROUP BY tok
    ),
    exact AS (SELECT tok, SUM(c) AS exact_count FROM sc GROUP BY tok)
    SELECT e.tok AS token, CAST(e.est_count AS BIGINT) AS est_count,
           CAST(x.exact_count AS BIGINT) AS exact_count,
           CAST(e.est_count - x.exact_count AS BIGINT) AS overcount
    FROM est e JOIN exact x USING (tok)
    ORDER BY est_count DESC, token
    LIMIT 20
    """,
)
def corpus_heavy_hitters_q(spark, sf_dir):
    """Count-Min heavy hitters (functions/sketches.py cms_heavy_hitters):
    top-20 tokens by CMS estimate (d=4 x w=1024 md5 counters) beside the
    exact count and overcount. The counter table is bounded at 4096 rows
    whatever the corpus size and merges across shards by addition;
    candidates come from per-shard exact top-16 (a global heavy hitter is
    a local one somewhere). The oracle replays counters, candidates and
    the min-probe estimate bit-for-bit."""
    from .functions.sketches import cms_heavy_hitters

    return cms_heavy_hitters(read_table(spark, sf_dir, "documents"))


from .operators.scc import scc_bounded_sql  # noqa: E402

_SCC_EDGE_SQL = """
    SELECT src, dst FROM (
        SELECT l_orderkey AS src,
               LEAD(l_orderkey) OVER (
                   PARTITION BY l_partkey
                   ORDER BY l_quantity, l_orderkey, l_linenumber
               ) AS dst
        FROM lineitem
    ) WHERE dst IS NOT NULL
"""


@register(
    "graph_scc_bounded",
    scc_bounded_sql(_SCC_EDGE_SQL, trim_rounds=2, hops=10)
    + "\nORDER BY node",
)
def graph_scc_bounded_q(spark, sf_dir):
    """Bounded strongly-connected components (operators/scc.py): the
    directed sibling of graph_wcc_bounded and the mutual-recursion shape
    a code graph asks of CALLS edges. Test graph: the per-part order
    succession chain (LEAD by quantity within part) — parts order the
    same order-pairs differently, so the graph is genuinely cyclic.
    Trim rounds peel provable singleton SCCs; 10 agreement rounds of
    joint fwd/bwd min-label propagation confirm SCC membership where
    f=b (never a false merge); the residual is honestly 'unresolved'.
    The oracle unrolls all 12 rounds as chained CTEs — every one of the
    ~14.7k assignments at sf0.01 is hash-checked."""
    from pyspark.sql import Window

    from .operators.scc import scc_bounded

    li = read_table(spark, sf_dir, "lineitem")
    w = (
        Window.partitionBy("l_partkey")
        .orderBy("l_quantity", "l_orderkey", "l_linenumber")
    )
    edges = (
        li.select(
            F.col("l_orderkey").alias("src"),
            F.lead("l_orderkey").over(w).alias("dst"),
        )
        .filter(F.col("dst").isNotNull())
    )
    return scc_bounded(spark, edges).orderBy("node")


@register(
    "dedup_containment",
    """
    WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
    sh AS (
        SELECT DISTINCT doc_id, t[i] || ' ' || t[i+1] || ' ' || t[i+2] AS s
        FROM toks, UNNEST(generate_series(1, len(t) - 2)) u(i)
    ),
    sizes AS (SELECT doc_id, COUNT(*) AS n_sh FROM sh GROUP BY doc_id),
    common AS (
        SELECT a.doc_id AS i, b.doc_id AS j, COUNT(*) AS c
        FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id <> b.doc_id
        GROUP BY 1, 2
    )
    SELECT CAST(i AS BIGINT) AS i, CAST(j AS BIGINT) AS j,
           CAST((c * 1000) // na.n_sh AS BIGINT) AS cont_milli
    FROM common JOIN sizes na ON na.doc_id = i
    WHERE c * 1000 >= 800 * na.n_sh
    ORDER BY i, j
    """,
)
def dedup_containment_q(spark, sf_dir):
    """Directional shingle containment (functions/dedup.py
    containment_pairs): |S_i∩S_j|/|S_i| >= 0.8 flags i as contained in
    j — the long-doc near-dup channel symmetric Jaccard misses. Same
    inverted-index join as dedup_ngram_jaccard, both directions kept,
    integer-milli decision and score (no float channel)."""
    from .functions import dedup

    docs = read_table(spark, sf_dir, "documents")
    return dedup.containment_pairs(docs).orderBy("i", "j")


@register(
    "shard_manifest",
    """
    WITH toks AS (
        SELECT doc_id AS id,
               CAST(len(text) - len(replace(text, ' ', '')) + 1 AS BIGINT)
                   AS n_tokens
        FROM documents
    ),
    cum AS (
        SELECT id, n_tokens,
               SUM(n_tokens) OVER (ORDER BY id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                   - n_tokens AS cum_before
        FROM toks
    ),
    assigned AS (SELECT id, n_tokens, cum_before // 1000 AS shard FROM cum)
    SELECT CAST(shard AS BIGINT) AS shard,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(n_tokens) AS BIGINT) AS total_tokens,
           CAST(MIN(id) AS BIGINT) AS min_id,
           CAST(MAX(id) AS BIGINT) AS max_id
    FROM assigned GROUP BY shard
    ORDER BY shard
    """,
)
def shard_manifest_q(spark, sf_dir):
    """Token-balanced contiguous export shards (functions/packing.py
    shard_manifest): shard = cum_tokens_before DIV 1000 in id order,
    computed as a TWO-LEVEL prefix sum (per-bucket windows + a
    bucket-totals window + broadcast offsets) — no single-partition
    corpus-wide window anywhere in the plan. The oracle replays it as
    one flat cumsum; equality IS the decomposition proof."""
    from .functions.packing import shard_manifest

    docs = read_table(spark, sf_dir, "documents")
    return shard_manifest(docs, target_tokens=1000).orderBy("shard")


@register(
    "quality_linear_score",
    """
    WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
    uni AS (SELECT doc_id, unnest(t) AS f FROM toks),
    bi AS (
        SELECT doc_id, t[i] || ' ' || t[i+1] AS f
        FROM toks, UNNEST(generate_series(1, len(t) - 1)) u(i)
        WHERE len(t) >= 2
    ),
    feats AS (SELECT doc_id, f FROM uni UNION ALL SELECT doc_id, f FROM bi),
    hashed AS (
        SELECT doc_id,
               ('0x' || substring(md5(f), 1, 8))::BIGINT % 4096 AS bucket
        FROM feats
    ),
    weights AS (
        SELECT range AS bucket,
               ('0x' || substring(md5('w:' || range), 1, 8))::BIGINT
                   % 1001 - 500 AS w
        FROM range(4096)
    ),
    per_doc AS (
        SELECT doc_id, COUNT(*) AS n_features, SUM(w) AS s
        FROM hashed JOIN weights USING (bucket) GROUP BY doc_id
    )
    SELECT CAST(doc_id AS BIGINT) AS doc_id,
           CAST(n_features AS BIGINT) AS n_features,
           CAST((1000 * (s + 500 * n_features)) // n_features - 500000
                AS BIGINT) AS logit_milli,
           s >= 0 AS keep
    FROM per_doc
    ORDER BY doc_id
    """,
)
def quality_linear_score_q(spark, sf_dir):
    """fastText-shape linear quality classifier inference
    (functions/text.py linear_quality_score): hashed unigram+bigram
    features (md5 hashing trick, 4096 buckets) scored against a
    broadcast weight table — the CCNet/FineWeb classifier pass with an
    md5-derived stand-in model so the oracle replays it exactly.
    Integer-milli mean via non-negative floor-div only."""
    from .functions.text import linear_quality_score

    docs = read_table(spark, sf_dir, "documents")
    return linear_quality_score(docs).orderBy("doc_id")


from .operators.walks import random_walks_sql  # noqa: E402

_WALK_NODES_SQL = f"""
    SELECT src AS id FROM ({_SCC_EDGE_SQL})
    UNION SELECT dst FROM ({_SCC_EDGE_SQL})
"""


def _succession_graph(spark, sf_dir):
    """(nodes, edges) of the order-succession graph — the cyclic
    directed graph the SCC / walk kernels run on. Self-loops kept (a
    part chain can repeat an order); the oracle keeps them identically."""
    from pyspark.sql import Window

    li = read_table(spark, sf_dir, "lineitem")
    w = (
        Window.partitionBy("l_partkey")
        .orderBy("l_quantity", "l_orderkey", "l_linenumber")
    )
    edges = li.select(
        F.col("l_orderkey").alias("src"),
        F.lead("l_orderkey").over(w).alias("dst"),
    ).filter(F.col("dst").isNotNull())
    nodes = (
        edges.select(F.col("src").alias("id"))
        .unionAll(edges.select(F.col("dst").alias("id")))
        .distinct()
    )
    return nodes, edges


def _walks_for(spark, sf_dir):
    """Session-memoized walk corpus: graph_random_walks and
    walk_skipgram_pairs share one materialized walk table per (session,
    sf_dir) — the 8 checkpointed rounds run once, the skip-gram query
    only pays its band join."""
    from .operators.walks import random_walks

    def build():
        nodes, edges = _succession_graph(spark, sf_dir)
        return random_walks(nodes, edges, walk_len=8, seed_mod=7)

    return cached(spark, ("walks", sf_dir), build)


@register(
    "graph_random_walks",
    random_walks_sql(_WALK_NODES_SQL, _SCC_EDGE_SQL, walk_len=8, seed_mod=7)
    + "\nORDER BY walk_id, step",
)
def graph_random_walks_q(spark, sf_dir):
    """Deterministic DeepWalk corpus (operators/walks.py): 8-step
    md5-chosen walks from every 7th node of the order-succession graph
    (the cyclic graph the SCC kernel runs on, so walks run full length
    in the core and truncate on tendrils). One edge join + one arg-min
    agg per STEP for all walks at once; the oracle unrolls the steps
    with the identical md5 choices."""
    return _walks_for(spark, sf_dir).orderBy("walk_id", "step")


_WALKS_FULL_SQL = random_walks_sql(
    _WALK_NODES_SQL, _SCC_EDGE_SQL, walk_len=8, seed_mod=7
)


@register(
    "walk_skipgram_pairs",
    f"""
    WITH walks AS MATERIALIZED (
        {_WALKS_FULL_SQL}
    )
    SELECT CAST(a.node AS BIGINT) AS center,
           CAST(b.node AS BIGINT) AS context,
           CAST(COUNT(*) AS BIGINT) AS n
    FROM walks a JOIN walks b
      ON a.walk_id = b.walk_id
     AND a.step <> b.step AND abs(a.step - b.step) <= 2
    GROUP BY 1, 2
    ORDER BY center, context
    """,
)
def walk_skipgram_pairs_q(spark, sf_dir):
    """Skip-gram (center, context) counts over the DeepWalk corpus
    (operators/walks.py skipgram_pairs): window +-2 band self-join per
    walk + ONE pair hash-agg — walks are length-bounded, so the band
    join is per-walk constant work, never corpus-quadratic. This is the
    co-occurrence table word2vec/GloVe training consumes; the walk table
    itself is the session-memoized one graph_random_walks grades."""
    from .operators.walks import skipgram_pairs

    return skipgram_pairs(_walks_for(spark, sf_dir), window=2).orderBy(
        "center", "context"
    )


from .functions.sketches import hll_sql  # noqa: E402


@register(
    "w_distinct_users_hll",
    hll_sql(
        "(SELECT date_trunc('hour', ts) AS window_start, user_id FROM events)",
        "window_start",
        "user_id",
    ),
)
def w_distinct_users_hll_q(spark, sf_dir):
    """Windowed distinct-user HLL (streaming/windows.py distinct_hll):
    per-hour user cardinality as 256 md5-deterministic registers — the
    register stage is a plain event-time window agg that streams under a
    watermark with BOUNDED state (256 rows/window however many events);
    estimator + exact twin run serving-side. The oracle replays the full
    sketch so the estimate itself hash-checks (corpus_distinct_hll's
    contract, now windowed)."""
    from .streaming.windows import distinct_hll

    events = read_table(spark, sf_dir, "events")
    return distinct_hll(events, "1 hour", "user_id")


@register(
    "shard_manifest_incremental",
    """
    WITH toks AS (
        SELECT doc_id AS id,
               CAST(len(text) - len(replace(text, ' ', '')) + 1 AS BIGINT)
                   AS n_tokens
        FROM documents
    ),
    wm AS (SELECT max(id) * 4 // 5 AS w FROM toks),
    cum AS (
        SELECT id, n_tokens,
               SUM(n_tokens) OVER (ORDER BY id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                   - n_tokens AS cum_before
        FROM toks
    ),
    assigned AS (
        SELECT id, n_tokens, cum_before // 1000 AS shard
        FROM cum, wm WHERE id > w
    )
    SELECT CAST(shard AS BIGINT) AS shard,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(n_tokens) AS BIGINT) AS total_tokens,
           CAST(MIN(id) AS BIGINT) AS min_id,
           CAST(MAX(id) AS BIGINT) AS max_id
    FROM assigned GROUP BY shard
    ORDER BY shard
    """,
)
def shard_manifest_incremental_q(spark, sf_dir):
    """Incremental shard-manifest extension (functions/packing.py
    shard_manifest_incremental): the batch past the id watermark is
    assigned from ONE scalar of manifest state (old total tokens) +
    a batch-only two-level cumsum — no old doc rescanned. The oracle is
    the FULL recompute restricted to batch docs: incremental ==
    recompute is the correctness claim."""
    from .functions.packing import shard_manifest_incremental

    docs = read_table(spark, sf_dir, "documents")
    return shard_manifest_incremental(docs, target_tokens=1000).orderBy("shard")


@register(
    "corpus_vocab_coverage",
    """
    WITH tok AS (
        SELECT unnest(string_split(text, ' ')) AS t FROM documents
    ),
    freq AS (SELECT t, COUNT(*) AS n FROM tok GROUP BY t),
    ranked AS (
        SELECT n, ROW_NUMBER() OVER (ORDER BY n DESC, t) AS rk FROM freq
    ),
    tot AS (SELECT SUM(n) AS total FROM ranked),
    cum AS (
        SELECT rk, SUM(n) OVER (ORDER BY rk
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS c
        FROM ranked
    )
    SELECT CAST(rk AS BIGINT) AS vocab_size,
           CAST(c AS BIGINT) AS covered_tokens,
           CAST((c * 1000) // total AS BIGINT) AS coverage_milli
    FROM cum, tot
    WHERE rk IN (1, 2, 4, 8, 16, 32, 64, 128, 256, 512, 1024, 2048, 4096)
    ORDER BY vocab_size
    """,
)
def corpus_vocab_coverage_q(spark, sf_dir):
    """Vocabulary coverage curve (the tokenizer-design view: what
    fraction of corpus tokens the top-k vocabulary covers — where this
    flattens is where a vocab stops paying for itself). One vocab-sized
    count agg, a rank + cumsum window over the VOCAB table (never the
    token stream), probed at power-of-two sizes; integer-milli
    coverage. Ties rank deterministically by token."""
    from pyspark.sql import Window

    from .session import fan_out

    docs = read_table(spark, sf_dir, "documents")
    freq = (
        fan_out(docs)
        .select(F.explode(F.split("text", " ")).alias("t"))
        .groupBy("t")
        .agg(F.count("*").alias("n"))
    )
    rk_w = Window.orderBy(F.desc("n"), F.asc("t"))
    cum_w = rk_w.rowsBetween(Window.unboundedPreceding, 0)
    tot = freq.agg(F.sum("n").alias("total"))
    probe = [1, 2, 4, 8, 16, 32, 64, 128, 256, 512, 1024, 2048, 4096]
    return (
        freq.withColumn("rk", F.row_number().over(rk_w))
        .withColumn("c", F.sum("n").over(cum_w))
        .filter(F.col("rk").isin(probe))
        .crossJoin(F.broadcast(tot))  # 1-row scalar join
        .select(
            F.col("rk").cast("long").alias("vocab_size"),
            F.col("c").cast("long").alias("covered_tokens"),
            F.expr("CAST((c * 1000) DIV total AS BIGINT)").alias(
                "coverage_milli"
            ),
        )
        .orderBy("vocab_size")
    )


@register(
    "graph_ffl_motifs",
    f"""
    WITH e AS MATERIALIZED (
        SELECT DISTINCT src, dst FROM ({_SCC_EDGE_SQL}) WHERE src <> dst
    ),
    w AS MATERIALIZED (
        SELECT a.src AS x, a.dst AS y, b.dst AS z
        FROM e a JOIN e b ON a.dst = b.src
        WHERE a.src <> b.dst
    ),
    nw AS (SELECT COUNT(*) AS n_wedges FROM w),
    nf AS (
        SELECT COUNT(*) AS n_ffl
        FROM w JOIN e ON w.x = e.src AND w.z = e.dst
    )
    SELECT CAST(n_wedges AS BIGINT) AS n_wedges,
           CAST(n_ffl AS BIGINT) AS n_ffl,
           CAST(CASE WHEN n_wedges = 0 THEN 0
                     ELSE (n_ffl * 1000) // n_wedges END AS BIGINT)
               AS ffl_per_wedge_milli
    FROM nw, nf
    """,
)
def graph_ffl_motifs_q(spark, sf_dir):
    """Directed feed-forward-loop census (operators/triangles.py
    ffl_motif_stats) over the order-succession graph — the directed
    motif count beside the undirected triangle kernel: two equi-joins
    (wedge + close), no cartesian, integer-milli density."""
    from .operators.triangles import ffl_motif_stats

    _, edges = _succession_graph(spark, sf_dir)
    return ffl_motif_stats(edges)


@register(
    "mm_tga_features",
    """
    WITH b AS (
        SELECT doc_id, text, CAST(length(text) // 12 AS INT) AS h FROM documents
    ), s AS (
        SELECT doc_id, CAST(SUM(ascii(substring(text, u.i, 1))) AS BIGINT) AS px_sum
        FROM b, UNNEST(generate_series(1, h * 12)) u(i) GROUP BY doc_id
    )
    SELECT CAST(b.doc_id AS VARCHAR) AS media_id, 'image' AS kind,
           CAST(18 + 12 * h AS INT) AS n_bytes,
           CAST(4 AS INT) AS width, h AS height,
           s.px_sum, md5(substring(text, 1, 12 * h)) AS feature_hash
    FROM b JOIN s ON b.doc_id = s.doc_id
    """,
)
def mm_tga_features_q(spark, sf_dir):
    """REAL TGA decode (functions/codecs.py decode_tga): the third
    uncompressed container beside BMP/WAV/AVI — 18-byte header, BGR, no
    row padding, bottom-left origin honored. Same synthesize-from-text
    scheme as mm_media_features, so the oracle hash-checks the real
    decode end-to-end; px_sum is invariant to the BGR/row-flip
    normalization. Map-only Arrow pass."""
    from .functions import multimodal

    docs = read_table(spark, sf_dir, "documents")
    media = multimodal.tga_media_from_text(docs)
    return multimodal.extract_features(media, fake=False)
