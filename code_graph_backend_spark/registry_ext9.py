"""Round-5 extension queries: corpus-quality and planning operators a
100 TB training-data pipeline runs alongside dedup/selection — Gopher-rule
quality gates, temperature-mixture token planning, per-language tokenizer
fertility, a bigram-LM perplexity proxy, and a candidate-quality
evaluation of the LSH dedup path against exact Jaccard truth.

Every entry carries a DuckDB oracle; decisions are integer (milli-unit
floor divisions, md5 hash families) or follow the established
ROUND(avg, 6) float contract of text_unigram_logprob."""

from __future__ import annotations

from pyspark.sql import functions as F

from .registry import register
from .session import read_table


@register(
    "gopher_quality_gates",
    """
    WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
    tok AS (SELECT doc_id, unnest(t) AS tok FROM toks),
    base AS (
        SELECT doc_id, COUNT(*) AS n_tokens,
               SUM(length(tok)) AS sum_len,
               SUM(CASE WHEN tok IN ('the', 'a') THEN 1 ELSE 0 END) AS stop_hits
        FROM tok GROUP BY doc_id
    ),
    topf AS (
        SELECT doc_id, MAX(c) AS top FROM (
            SELECT doc_id, tok, COUNT(*) AS c FROM tok GROUP BY 1, 2
        ) GROUP BY doc_id
    ),
    g AS (
        SELECT b.doc_id, b.n_tokens,
               (1000 * b.sum_len) // b.n_tokens AS mean_len_milli,
               b.stop_hits,
               (1000 * t.top) // b.n_tokens AS top_frac_milli
        FROM base b JOIN topf t USING (doc_id)
    )
    SELECT doc_id, CAST(n_tokens AS BIGINT) AS n_tokens,
           CAST(mean_len_milli AS BIGINT) AS mean_len_milli,
           CAST(stop_hits AS BIGINT) AS stop_hits,
           CAST(top_frac_milli AS BIGINT) AS top_frac_milli,
           (n_tokens >= 10 AND mean_len_milli BETWEEN 2000 AND 8000
            AND stop_hits >= 2 AND top_frac_milli <= 250) AS passes
    FROM g
    """,
)
def gopher_quality_gates_q(spark, sf_dir):
    """Gopher-style per-doc quality gates (functions/text.py
    gopher_quality_gates): token count, mean token length, stopword
    hits, top-token dominance — each integer-milli — and the conjunction
    `passes`. Map-only Arrow kernel (one pass per doc, no token-stream
    shuffle); the oracle's corpus-wide explode is the plan refused at
    100 TB."""
    from .functions.text import gopher_quality_gates

    return gopher_quality_gates(read_table(spark, sf_dir, "documents"))


@register(
    "corpus_mixture_plan",
    """
    WITH s AS (
        SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
               CAST(SUM(length(text) - length(replace(text, ' ', '')) + 1)
                    AS BIGINT) AS n_tokens
        FROM documents GROUP BY source
    ),
    w AS (
        SELECT *, CAST(round(sqrt(n_tokens) * 1000) AS BIGINT) AS s1000
        FROM s
    ),
    t AS (SELECT SUM(s1000) AS tot FROM w)
    SELECT source, n_docs, n_tokens,
           CAST((1000000 * s1000) // (SELECT tot FROM t) AS BIGINT)
               AS quota_tokens,
           CAST((1000 * ((1000000 * s1000) // (SELECT tot FROM t))) // n_tokens
                AS BIGINT) AS epochs_milli
    FROM w
    """,
)
def corpus_mixture_plan_q(spark, sf_dir):
    """Temperature-mixture token planning (alpha = 0.5): per source, the
    share of a 1M-token budget proportional to sqrt(n_tokens) — the
    up/down-weighting table every multilingual/multi-source run computes
    before sampling (quota > n_tokens means epochs_milli > 1000: the
    source repeats). sqrt is IEEE-correctly-rounded in both engines and
    everything after the round(.. * 1000) quantization is BIGINT floor
    division, so the plan is bit-exact. One source-cardinality agg + one
    1-row broadcast join; the n·sqrt overflow headroom holds to ~1e13
    tokens per source — past that swap the quota multiply to
    DECIMAL(38), same plan."""
    docs = read_table(spark, sf_dir, "documents")
    toks = (
        F.length(F.col("text"))
        - F.length(F.regexp_replace(F.col("text"), " ", ""))
        + F.lit(1)
    )
    s = docs.groupBy("source").agg(
        F.count("*").cast("long").alias("n_docs"),
        F.sum(toks).cast("long").alias("n_tokens"),
    )
    w = s.withColumn(
        "s1000", F.round(F.sqrt(F.col("n_tokens")) * 1000).cast("long")
    )
    tot = w.agg(F.sum("s1000").alias("tot"))
    return (
        w.crossJoin(F.broadcast(tot))
        .withColumn(
            "quota_tokens",
            F.expr("(1000000 * s1000) div tot").cast("long"),
        )
        .select(
            "source", "n_docs", "n_tokens", "quota_tokens",
            F.expr("(1000 * quota_tokens) div n_tokens").cast("long")
            .alias("epochs_milli"),
        )
    )


def _fertility_sql() -> str:
    from .functions.bpe import bpe_fertility_by_lang_sql

    return bpe_fertility_by_lang_sql(n_merges=4)


@register("bpe_fertility_by_lang", _fertility_sql())
def bpe_fertility_by_lang_q(spark, sf_dir):
    """Per-language tokenizer fertility under the trained 4-rule BPE
    (functions/bpe.py bpe_fertility_by_lang): BPE symbols per whitespace
    word, integer-milli — the tokenizer-efficiency metric every
    multilingual run tracks per language before fixing a mixture. Reuses
    the session-scoped trained model (one training run shared with
    bpe_apply/bpe_train); corpus application is the vocabulary-sized
    broadcast join + one lang-cardinality agg."""
    from .functions.bpe import bpe_fertility_by_lang

    return bpe_fertility_by_lang(read_table(spark, sf_dir, "documents"))


def bigram_nll(docs):
    """(doc_id, n_bigrams, avg_nll_bits): each doc's mean negative log2
    of P(w2 | w1) under the CORPUS bigram MLE — shared by
    text_bigram_logprob and the v3 curation gate. JVM-side slice/zip
    builds the bigram stream map-only (no UDF); one hash-agg builds the
    model; context counts derive FROM the bigram table (no second corpus
    pass); broadcast model join; per-doc agg. ROUND(avg, 6) float
    contract as the green unigram row. The model is
    observed-bigram-sized; at open-web scale the broadcast becomes a
    shuffle join on (w1, w2) — identical semantics."""
    from .session import fan_out

    arr = fan_out(docs).select("doc_id", F.split("text", " ").alias("t")).filter(
        F.size("t") >= 2
    )
    bg = arr.select(
        "doc_id",
        F.explode(
            F.arrays_zip(
                F.slice(F.col("t"), 1, F.size("t") - 1),
                F.expr("slice(t, 2, size(t) - 1)"),
            )
        ).alias("b"),
    ).select("doc_id", F.col("b.0").alias("w1"), F.col("b.1").alias("w2"))
    c2 = bg.groupBy("w1", "w2").agg(F.count("*").alias("n2"))
    c1 = c2.groupBy("w1").agg(F.sum("n2").alias("n1"))
    model = F.broadcast(c2.join(c1, "w1"))
    return (
        bg.join(model, ["w1", "w2"])
        .select("doc_id", (-F.log2(F.col("n2") / F.col("n1"))).alias("nll"))
        .groupBy("doc_id")
        .agg(
            F.count("*").cast("long").alias("n_bigrams"),
            F.round(F.avg("nll"), 6).alias("avg_nll_bits"),
        )
    )


@register(
    "text_bigram_logprob",
    """
    WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
    bg AS (
        SELECT doc_id, t[i] AS w1, t[i+1] AS w2
        FROM toks, UNNEST(generate_series(1, len(t) - 1)) u(i)
        WHERE len(t) >= 2
    ),
    c2 AS (SELECT w1, w2, COUNT(*) AS n2 FROM bg GROUP BY 1, 2),
    c1 AS (SELECT w1, SUM(n2) AS n1 FROM c2 GROUP BY 1),
    scored AS (
        SELECT bg.doc_id, -log2(c2.n2 / c1.n1) AS nll
        FROM bg JOIN c2 USING (w1, w2) JOIN c1 USING (w1)
    )
    SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_bigrams,
           ROUND(AVG(nll), 6) AS avg_nll_bits
    FROM scored GROUP BY doc_id
    """,
)
def text_bigram_logprob_q(spark, sf_dir):
    """Bigram-LM perplexity proxy (the CCNet/KenLM-style quality filter
    one rung above text_unigram_logprob) — see bigram_nll for the plan
    shape."""
    return bigram_nll(read_table(spark, sf_dir, "documents"))


@register(
    "dedup_lsh_eval",
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
    ),
    cand AS (
        SELECT DISTINCT a.doc_id AS i, c.doc_id AS j
        FROM b a JOIN b c ON a.band = c.band AND a.bh = c.bh AND a.doc_id < c.doc_id
    ),
    sizes AS (SELECT doc_id, COUNT(*) AS n_sh FROM sh GROUP BY doc_id),
    common AS (
        SELECT a.doc_id AS i, b2.doc_id AS j, COUNT(*) AS c
        FROM sh a JOIN sh b2 ON a.s = b2.s AND a.doc_id < b2.doc_id
        GROUP BY 1, 2
    ),
    truth AS (
        SELECT i, j FROM common
        JOIN sizes na ON na.doc_id = i JOIN sizes nb ON nb.doc_id = j
        WHERE c / (na.n_sh + nb.n_sh - c) >= 0.8
    ),
    tp AS (SELECT COUNT(*) AS n FROM cand JOIN truth USING (i, j)),
    nc AS (SELECT COUNT(*) AS n FROM cand),
    ntr AS (SELECT COUNT(*) AS n FROM truth)
    SELECT CAST(nc.n AS BIGINT) AS n_candidates,
           CAST(ntr.n AS BIGINT) AS n_truth,
           CAST(tp.n AS BIGINT) AS n_tp,
           CAST(CASE WHEN nc.n > 0 THEN (1000 * tp.n) // nc.n END AS BIGINT)
               AS precision_milli,
           CAST(CASE WHEN ntr.n > 0 THEN (1000 * tp.n) // ntr.n END AS BIGINT)
               AS recall_milli
    FROM nc, ntr, tp
    """,
)
def dedup_lsh_eval_q(spark, sf_dir):
    """Candidate-quality evaluation of the banded-LSH dedup path:
    precision/recall (integer-milli) of the md5 MinHash-LSH candidate
    pairs (dedup_minhash_exact's machinery) against exact n-gram-Jaccard
    >= 0.8 truth (dedup_ngram_jaccard's machinery) — the measure-don't-
    guess gate you run before trusting an LSH configuration at 100 TB,
    where the truth join is only affordable on a sample. Three counts
    crossed via 1-row broadcast joins; no pair list leaves the plan. Both
    paths read ONE scratch-persisted shingle table (the corpus is
    exploded once, not twice)."""
    from .functions import dedup
    from .scratch import scratch_persist
    from .session import fan_out

    docs = read_table(spark, sf_dir, "documents")
    sh = scratch_persist(
        fan_out(docs).select(
            F.col("doc_id"), F.explode(dedup.shingles("text", 3)).alias("s")
        )
    )
    # cand feeds BOTH the tp join and its own count (truth likewise) —
    # without the persists Catalyst re-runs the 16-seed minhash agg and
    # the shingle self-join once per consumer (measured ~1.5x the query)
    cand = scratch_persist(
        dedup.minhash_lsh_candidates_exact(docs, k=16, bands=4, shingles_df=sh)
    )
    truth = scratch_persist(
        dedup.ngram_jaccard_pairs(docs, threshold=0.8, shingles_df=sh).select("i", "j")
    )
    tp = cand.join(truth, ["i", "j"]).agg(F.count("*").alias("n_tp"))
    nc = cand.agg(F.count("*").alias("n_candidates"))
    ntr = truth.agg(F.count("*").alias("n_truth"))
    return (
        nc.crossJoin(F.broadcast(ntr))
        .crossJoin(F.broadcast(tp))
        .select(
            F.col("n_candidates").cast("long").alias("n_candidates"),
            F.col("n_truth").cast("long").alias("n_truth"),
            F.col("n_tp").cast("long").alias("n_tp"),
            F.when(
                F.col("n_candidates") > 0,
                F.expr("(1000 * n_tp) div n_candidates"),
            ).cast("long").alias("precision_milli"),
            F.when(
                F.col("n_truth") > 0,
                F.expr("(1000 * n_tp) div n_truth"),
            ).cast("long").alias("recall_milli"),
        )
    )


_V3_SQL = """
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
        SELECT doc_id, t[i] AS w1, t[i+1] AS w2, t[i] || ' ' || t[i+1] AS b
        FROM toks, UNNEST(generate_series(1, len(t) - 1)) u(i)
    ),
    bgs AS (SELECT doc_id, COUNT(*) AS nb, COUNT(DISTINCT b) AS ndb FROM bg GROUP BY 1),
    quality AS (
        SELECT st.doc_id FROM st LEFT JOIN bgs USING (doc_id)
        WHERE st.n_tokens >= 30
          AND ROUND(COALESCE(1.0 - ndb / CAST(nb AS DOUBLE), 0.0), 6) <= 0.05
    ),
    -- 3. Gopher-rule gate (integer-milli decisions)
    gop_base AS (
        SELECT doc_id, COUNT(*) AS n, SUM(length(tok)) AS sl,
               SUM(CASE WHEN tok IN ('the', 'a') THEN 1 ELSE 0 END) AS shits
        FROM tok GROUP BY 1
    ),
    gop_top AS (
        SELECT doc_id, MAX(c) AS top FROM (
            SELECT doc_id, tok, COUNT(*) AS c FROM tok GROUP BY 1, 2
        ) GROUP BY 1
    ),
    gopher_ok AS (
        SELECT b.doc_id FROM gop_base b JOIN gop_top t USING (doc_id)
        WHERE n >= 10 AND (1000 * sl) // n BETWEEN 2000 AND 8000
          AND shits >= 2 AND (1000 * top) // n <= 250
    ),
    -- 4. bigram-LM perplexity gate (corpus MLE, ROUND(avg, 6) contract)
    c2 AS (SELECT w1, w2, COUNT(*) AS n2 FROM bg GROUP BY 1, 2),
    c1 AS (SELECT w1, SUM(n2) AS n1 FROM c2 GROUP BY 1),
    lm AS (
        SELECT bg.doc_id, AVG(-log2(c2.n2 / c1.n1)) AS nll
        FROM bg JOIN c2 USING (w1, w2) JOIN c1 USING (w1) GROUP BY 1
    ),
    lm_ok AS (SELECT doc_id FROM lm WHERE ROUND(nll, 6) <= 4.9),
    -- 5. boilerplate gate: <= 50% of distinct 5-gram shingles source-common
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
    -- 6. duplicated-span coverage gate
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
    -- 7. 13-gram benchmark decontamination
    psh AS (SELECT g AS s FROM gp WHERE doc_id % 97 = 0),
    contam AS (SELECT DISTINCT gp.doc_id FROM gp JOIN psh ON gp.g = psh.s),
    surv AS (
        SELECT d.doc_id, d.n_chars, st.n_tokens
        FROM documents d
        JOIN canon USING (doc_id)
        JOIN quality USING (doc_id)
        JOIN gopher_ok USING (doc_id)
        JOIN lm_ok USING (doc_id)
        JOIN boiler_ok USING (doc_id)
        JOIN span_ok USING (doc_id)
        JOIN st ON st.doc_id = d.doc_id
        WHERE d.doc_id NOT IN (SELECT doc_id FROM contam)
    ),
    -- 8. greedy best-first token-budget cut
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
    ORDER BY cum_tokens ASC, doc_id ASC
"""


@register("curation_pipeline_v3", _V3_SQL)
def curation_pipeline_v3_q(spark, sf_dir):
    """The FineWeb-generation DAG grown to EIGHT gates — v2's six
    (cluster-canonicals, repetition quality, boilerplate, span coverage,
    decontamination, token-budget cut) plus this round's Gopher-rule gate
    and bigram-LM perplexity gate — still ONE Catalyst plan, no driver
    materialization between gates. Each gate is an already-verified
    operator composed via semi/anti joins on doc_id; the two new gates
    are integer-milli (gopher) and ROUND(avg,6) (LM) decisions, so the
    eight-stage DuckDB WITH chain replays the whole pipeline
    hash-exactly. Ordered output like token_budget_select."""
    from pyspark.sql.window import Window

    from .curation import (curation_boiler, curation_canon, curation_contam,
                           curation_ntok, curation_quality, curation_span)
    from .functions.text import gopher_quality_gates

    docs = read_table(spark, sf_dir, "documents")
    # the six v1/v2 gates are the shared ones (curation.py); only the two
    # v3-specific gates (gopher, bigram-LM) are built here
    canon = curation_canon(spark, sf_dir, docs)
    quality = curation_quality(spark, sf_dir, docs)
    gopher_ok = gopher_quality_gates(docs).filter(F.col("passes")).select("doc_id")
    lm_ok = bigram_nll(docs).filter(F.col("avg_nll_bits") <= 4.9).select("doc_id")
    boiler_ok = curation_boiler(spark, sf_dir, docs)
    ntok = curation_ntok(spark, sf_dir, docs)
    span_ok = curation_span(spark, sf_dir, docs)
    contam = curation_contam(spark, sf_dir, docs)
    surv = (
        docs.select("doc_id", "n_chars")
        .join(canon, "doc_id")
        .join(quality, "doc_id")
        .join(gopher_ok, "doc_id")
        .join(lm_ok, "doc_id")
        .join(boiler_ok, "doc_id")
        .join(span_ok, "doc_id")
        .join(contam, "doc_id", "left_anti")
        .join(ntok, "doc_id")
    )
    from .functions.packing import two_level_prefix_sum

    # Final token-budget gate on the post-8-gate survivor set — still
    # corpus-proportional at 100 TB, so the greedy cumsum is the
    # two-level decomposition (shard_manifest recipe), never an
    # unpartitioned window. -(n_chars DIV 64) is order-aligned with
    # (n_chars DESC, doc_id); the oracle replays one flat cumsum.
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
        .orderBy(F.col("cum_tokens").asc(), F.col("doc_id").asc())
    )


@register(
    "pack_boundary_stats",
    """
    WITH t AS (
        SELECT doc_id, doc_id % 16 AS shard,
               CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
        FROM documents
    ),
    c AS (
        SELECT doc_id, shard, n_tokens,
               SUM(n_tokens) OVER (
                   PARTITION BY shard ORDER BY doc_id ROWS UNBOUNDED PRECEDING
               ) AS cum
        FROM t
    )
    SELECT CAST(shard AS BIGINT) AS shard,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(n_tokens) AS BIGINT) AS total_tokens,
           CAST((SUM(n_tokens) + 255) // 256 AS BIGINT) AS n_windows,
           CAST(SUM(CASE WHEN (cum - n_tokens) % 256 + n_tokens > 256
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_straddle,
           CAST(SUM(n_tokens) % 256 AS BIGINT) AS tail_tokens
    FROM c GROUP BY shard
    """,
)
def pack_boundary_stats_q(spark, sf_dir):
    """Packing-layout diagnostics for the sharded concat-and-chunk path
    (functions/packing.py pack_sequences_sharded): per shard — docs,
    tokens, windows, how many docs STRADDLE a window boundary (the
    attention-mask-relevant count), and the partial-tail size (the only
    padding the sharded layout can waste). One per-shard cumsum window +
    one shard-cardinality agg; every column integer."""
    from .functions.packing import pack_sequences_sharded

    packed = pack_sequences_sharded(
        read_table(spark, sf_dir, "documents"), budget=256, n_shards=16
    )
    return (
        packed.select(
            (F.col("seq_id") / F.lit(1 << 40)).cast("long").alias("shard"),
            "n_tokens",
            ((F.col("tok_offset") + F.col("n_tokens")) > 256).alias("_straddle"),
        )
        .groupBy("shard")
        .agg(
            F.count("*").cast("long").alias("n_docs"),
            F.sum("n_tokens").cast("long").alias("total_tokens"),
            F.expr("(sum(n_tokens) + 255) div 256").cast("long").alias("n_windows"),
            F.sum(F.col("_straddle").cast("long")).cast("long").alias("n_straddle"),
            F.expr("sum(n_tokens) % 256").cast("long").alias("tail_tokens"),
        )
    )


@register(
    "dsir_importance_select",
    """
    WITH tok AS (
        SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents
    ),
    cn AS (SELECT tok, COUNT(*) AS c FROM tok GROUP BY tok),
    tn AS (
        SELECT t.tok, COUNT(*) AS c FROM tok t
        JOIN documents d USING (doc_id) WHERE d.lang = 'en' GROUP BY t.tok
    ),
    tots AS (
        SELECT (SELECT SUM(c) FROM cn) AS c_tot,
               (SELECT COALESCE(SUM(c), 0) FROM tn) AS t_tot,
               (SELECT COUNT(*) FROM cn) AS v
    ),
    scored AS (
        SELECT tok.doc_id,
               log2(((COALESCE(tn.c, 0) + 1) / CAST(tots.t_tot + tots.v AS DOUBLE))
                    / ((cn.c + 1) / CAST(tots.c_tot + tots.v AS DOUBLE))) AS llr
        FROM tok JOIN cn USING (tok) LEFT JOIN tn USING (tok) CROSS JOIN tots
    ),
    d AS (SELECT doc_id, ROUND(AVG(llr), 6) AS weight FROM scored GROUP BY doc_id)
    SELECT d.doc_id, docs.lang, d.weight
    FROM (
        SELECT doc_id, weight,
               ROW_NUMBER() OVER (ORDER BY weight DESC, doc_id) AS rn
        FROM d
    ) d JOIN documents docs USING (doc_id)
    WHERE rn <= 100
    ORDER BY d.weight DESC, d.doc_id
    """,
)
def dsir_importance_select_q(spark, sf_dir):
    """DSIR-style data selection (Xie et al. 2023 shape): per-doc mean
    log importance ratio between a TARGET unigram model (the lang='en'
    slice) and the corpus model, Laplace-smoothed over the corpus
    vocabulary; top-100 by (weight desc, id). This is the
    domain-reweighting selection step run before mixing pretraining data
    toward a target distribution. Plan: one token explode feeds both
    models (two vocabulary-sized aggs), scalars cross from a 1-row
    broadcast, model broadcast back onto the token stream, one per-doc
    agg + one rank window. Rank and emission both on ROUND(avg, 6) —
    the established float contract."""
    from .session import fan_out

    docs = read_table(spark, sf_dir, "documents")
    tok = fan_out(docs).select(
        "doc_id", F.explode(F.split("text", " ")).alias("tok")
    )
    cn = tok.groupBy("tok").agg(F.count("*").alias("c_all"))
    tn = (
        tok.join(docs.filter(F.col("lang") == "en").select("doc_id"), "doc_id")
        .groupBy("tok").agg(F.count("*").alias("c_tgt"))
    )
    tots = (
        cn.agg(
            F.sum("c_all").alias("c_tot"), F.count("*").alias("v")
        ).crossJoin(F.broadcast(tn.agg(F.coalesce(F.sum("c_tgt"), F.lit(0)).alias("t_tot"))))
    )
    model = F.broadcast(
        cn.join(tn, "tok", "left").crossJoin(F.broadcast(tots))
    )
    llr = F.log2(
        ((F.coalesce(F.col("c_tgt"), F.lit(0)) + 1) / (F.col("t_tot") + F.col("v")))
        / ((F.col("c_all") + 1) / (F.col("c_tot") + F.col("v")))
    )
    d = (
        tok.join(model, "tok")
        .select("doc_id", llr.alias("llr"))
        .groupBy("doc_id")
        .agg(F.round(F.avg("llr"), 6).alias("weight"))
    )
    from pyspark.sql.window import Window

    w = Window.orderBy(F.col("weight").desc(), F.col("doc_id"))
    return (
        d.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 100)
        .join(docs.select("doc_id", "lang"), "doc_id")
        .select("doc_id", "lang", "weight")
        .orderBy(F.col("weight").desc(), F.col("doc_id"))
    )


def _quantile_summary_sql() -> str:
    from .functions.sketches import quantile_summary_sql

    return quantile_summary_sql(k=32, n_shards=8)


@register("corpus_quantile_summary", _quantile_summary_sql())
def corpus_quantile_summary_q(spark, sf_dir):
    """Mergeable rank-based quantile summary (functions/sketches.py
    quantile_summary): per-shard fixed-size order-statistic summaries
    (k=32 rows per shard on the wire, like corpus_hll_merge's registers)
    merged into global percentile estimates, reported beside the exact
    rank statistics with the absolute error — the GK/KLL-family shape
    under a hash-exact oracle. The exact side's global sort is precisely
    the plan the summary avoids at 100 TB."""
    from .functions.sketches import quantile_summary

    return quantile_summary(
        read_table(spark, sf_dir, "documents"), k=32, n_shards=8
    )
