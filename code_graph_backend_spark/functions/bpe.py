"""BPE tokenizer TRAINING — the iterative merge-rule loop, built on the
word-frequency-table trick that `text.bpe_pair_stats` introduces (one
round of it): every round finds the most frequent adjacent symbol pair
and fuses it, exactly the loop of Sennrich et al. 2016 that every GPT/
Llama-family tokenizer is trained with.

Scale shape per round (the shape production tokenizer trainers use):
- the corpus appears ONLY as its word-frequency table (vocabulary-sized,
  built with one shuffle); every round's pair count is weighted by word
  frequency, so the explode runs over the vocabulary, never the corpus;
- the argmax pair is a 1-row driver collect — the merge TABLE is the
  request-sized output of training (a few thousand rows at production
  vocab sizes), and each rule must be known before the next round can
  count pairs: the collect is the algorithm, not a shortcut;
- merge application is greedy-left like the reference implementations:
  in a run of overlapping matches (e.g. 'a a a' for pair (a,a)) the 1st,
  3rd, ... merge. That parity is computed with two windows over MATCHED
  positions only (islands trick: run id = pos - row_number, then offset
  parity within the run) — never a scan-order-dependent loop, so it is
  deterministic, distributed, and SQL-expressible;
- the word table localCheckpoints each round (bounded lineage, same as
  the pagerank/labelprop loops).

Everything is integer counts and string equality ⇒ the DuckDB oracle
unrolls the rounds and the merge table hash-checks exactly
(`bpe_train_merges_sql`). Ties break (count desc, lhs asc, rhs asc) on
both engines.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..memo import cached


def _word_table(docs: DataFrame, text_col: str) -> DataFrame:
    """(word, cnt, w) — w is the space-joined character-symbol string."""
    return (
        docs.select(F.explode(F.split(F.col(text_col), " ")).alias("word"))
        .filter(F.length("word") >= 1)
        .groupBy("word")
        .agg(F.count("*").alias("cnt"))
        .select(
            "word", "cnt",
            F.expr("trim(regexp_replace(word, '(.)', '$1 '))").alias("w"),
        )
    )


def bpe_train(
    docs: DataFrame,
    n_merges: int = 4,
    text_col: str = "text",
) -> tuple[DataFrame, DataFrame]:
    """Train the first `n_merges` BPE merge rules. Returns (rules, words):
    rules = (merge_round int, lhs, rhs, new_symbol, pair_count long) in
    training order; words = the post-training word table (word, cnt, w)
    with w the space-joined symbol sequence — i.e. the trained tokenizer
    APPLIED to the vocabulary, which is how merges are applied to a
    corpus at scale (per distinct word once, then joined back).

    The trained model is serving state, not query scratch: it is kept
    per (session, corpus DataFrame, n_merges, text_col) through
    memo.cached, so bpe_train_merges and bpe_apply_token_counts over
    the same corpus share one training run."""
    return cached(
        docs.sparkSession, ("bpe", docs, n_merges, text_col),
        lambda: _bpe_train(docs, n_merges, text_col),
    )


def _bpe_train(docs: DataFrame, n_merges: int, text_col: str):
    spark: SparkSession = docs.sparkSession
    wt = _word_table(docs, text_col).localCheckpoint(eager=True)
    rules = []
    for r in range(1, n_merges + 1):
        wlead = Window.partitionBy("word").orderBy("p")
        sy = (
            wt.select("word", "cnt", F.posexplode(F.split("w", " ")).alias("p0", "s"))
            .select("word", "cnt", (F.col("p0") + 1).alias("p"), "s")
            .withColumn("nx", F.lead("s").over(wlead))
        )
        top_rows = (
            sy.filter(F.col("nx").isNotNull())
            .groupBy("s", "nx")
            .agg(F.sum("cnt").alias("total"))
            .orderBy(F.desc("total"), F.asc("s"), F.asc("nx"))
            .limit(1)
            .collect()
        )
        if not top_rows:
            break
        a, b, total = top_rows[0]["s"], top_rows[0]["nx"], int(top_rows[0]["total"])
        rules.append((r, a, b, a + b, total))

        matched = sy.filter((F.col("s") == a) & (F.col("nx") == b)).select("word", "p")
        wrun = Window.partitionBy("word").orderBy("p")
        runs = matched.select(
            "word", "p", (F.col("p") - F.row_number().over(wrun)).alias("g")
        )
        woff = Window.partitionBy("word", "g")
        keep = (
            runs.select("word", "p", (F.col("p") - F.min("p").over(woff)).alias("off"))
            .filter(F.col("off") % 2 == 0)
            .select("word", F.col("p").alias("kp"))
        )
        k_at = keep.select("word", F.col("kp").alias("p"), F.lit(True).alias("m_at"))
        k_prev = keep.select(
            "word", (F.col("kp") + 1).alias("p"), F.lit(True).alias("m_prev")
        )
        rebuilt = (
            sy.join(k_at, ["word", "p"], "left")
            .join(k_prev, ["word", "p"], "left")
            .filter(F.col("m_prev").isNull())
            .select(
                "word", "cnt", "p",
                F.when(F.col("m_at"), F.concat("s", "nx")).otherwise(F.col("s")).alias("e"),
            )
        )
        wt = (
            rebuilt.groupBy("word", "cnt")
            .agg(
                F.array_join(
                    F.transform(
                        F.array_sort(F.collect_list(F.struct("p", "e"))),
                        lambda x: x["e"],
                    ),
                    " ",
                ).alias("w")
            )
            .localCheckpoint(eager=True)
        )
    rules_df = spark.createDataFrame(
        rules, "merge_round int, lhs string, rhs string, new_symbol string, pair_count long"
    )
    return rules_df, wt


def bpe_train_merges(
    docs: DataFrame,
    n_merges: int = 4,
    text_col: str = "text",
) -> DataFrame:
    """The merge-rule table alone (see bpe_train)."""
    rules, _ = bpe_train(docs, n_merges, text_col)
    return rules


def bpe_apply_token_counts(
    docs: DataFrame,
    n_merges: int = 4,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Apply the trained tokenizer to the corpus and report per-document
    (doc_id, n_words, n_bpe_tokens, compression) — the token-budget view
    every pretraining run needs under ITS tokenizer, not a whitespace
    proxy.

    Scale shape: merges are applied ONCE per distinct word (the word
    table already holds the post-merge symbol sequence — training ends
    with the vocabulary tokenized), so corpus application is a map-side
    explode + an equi-join against the vocabulary-sized (word →
    symbol-count) table + one per-doc sum. The corpus token stream never
    re-runs the merge loop."""
    _, wt = bpe_train(docs, n_merges, text_col)
    wlen = wt.select("word", F.size(F.split("w", " ")).cast("long").alias("n_sym"))
    toks = docs.select(
        F.col(id_col).alias("doc_id"),
        F.explode(F.split(F.col(text_col), " ")).alias("word"),
    )
    return (
        toks.join(wlen, "word")
        .groupBy("doc_id")
        .agg(
            F.count("*").cast("long").alias("n_words"),
            F.sum("n_sym").cast("long").alias("n_bpe_tokens"),
        )
        .select(
            "doc_id", "n_words", "n_bpe_tokens",
            F.round(F.col("n_bpe_tokens") / F.col("n_words"), 6).alias("compression"),
        )
    )


def _bpe_cte_chain(n_merges: int) -> str:
    """The shared WITH chain: w0 (character-split word table) through
    w{n} (post-merge word table), one unrolled round per merge."""
    parts = ["""
    WITH w0 AS (
        SELECT word, CAST(COUNT(*) AS BIGINT) AS cnt,
               trim(regexp_replace(word, '(.)', '\\1 ', 'g')) AS w
        FROM (SELECT unnest(string_split(text, ' ')) AS word FROM documents)
        WHERE length(word) >= 1 GROUP BY word
    )"""]
    for r in range(1, n_merges + 1):
        prev = f"w{r-1}"
        parts.append(f""",
    sy{r} AS (
        SELECT word, cnt, CAST(u.i AS BIGINT) AS p, t[u.i] AS s, t[u.i + 1] AS nx
        FROM (SELECT word, cnt, string_split(w, ' ') AS t FROM {prev}),
             UNNEST(generate_series(1, len(t))) u(i)
    ),
    top{r} AS (
        SELECT s AS a, nx AS b, SUM(cnt) AS total
        FROM sy{r} WHERE nx IS NOT NULL
        GROUP BY s, nx ORDER BY total DESC, a, b LIMIT 1
    ),
    mt{r} AS (
        SELECT sy.word, sy.p FROM sy{r} sy, top{r} t
        WHERE sy.s = t.a AND sy.nx = t.b
    ),
    rn{r} AS (
        SELECT word, p,
               p - ROW_NUMBER() OVER (PARTITION BY word ORDER BY p) AS g
        FROM mt{r}
    ),
    k{r} AS (
        SELECT word, p FROM (
            SELECT word, p, p - MIN(p) OVER (PARTITION BY word, g) AS off
            FROM rn{r}
        ) WHERE off % 2 = 0
    ),
    w{r} AS (
        SELECT sy.word, sy.cnt,
               string_agg(
                   CASE WHEN ka.p IS NOT NULL THEN sy.s || sy.nx ELSE sy.s END,
                   ' ' ORDER BY sy.p
               ) AS w
        FROM sy{r} sy
        LEFT JOIN k{r} ka ON ka.word = sy.word AND ka.p = sy.p
        LEFT JOIN k{r} kp ON kp.word = sy.word AND kp.p = sy.p - 1
        WHERE kp.p IS NULL
        GROUP BY sy.word, sy.cnt
    )""")
    return "".join(parts)


def bpe_train_merges_sql(n_merges: int = 4) -> str:
    """DuckDB twin of bpe_train_merges over the `documents` view:
    identical word table, identical greedy-left parity merge, unrolled
    rounds."""
    selects = [
        f"SELECT {r} AS merge_round, a AS lhs, b AS rhs, a || b AS new_symbol, "
        f"CAST(total AS BIGINT) AS pair_count FROM top{r}"
        for r in range(1, n_merges + 1)
    ]
    return _bpe_cte_chain(n_merges) + "\n" + "\nUNION ALL\n".join(selects)


def bpe_apply_token_counts_sql(n_merges: int = 4) -> str:
    """DuckDB twin of bpe_apply_token_counts: the same CTE chain, then
    the vocabulary-sized symbol-count join back onto the corpus."""
    return _bpe_cte_chain(n_merges) + f"""
    , wl AS (
        SELECT word, CAST(len(string_split(w, ' ')) AS BIGINT) AS n_sym
        FROM w{n_merges}
    ),
    tk AS (
        SELECT doc_id, unnest(string_split(text, ' ')) AS word FROM documents
    )
    SELECT tk.doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_words,
           CAST(SUM(wl.n_sym) AS BIGINT) AS n_bpe_tokens,
           ROUND(SUM(wl.n_sym) / CAST(COUNT(*) AS DOUBLE), 6) AS compression
    FROM tk JOIN wl USING (word)
    GROUP BY tk.doc_id
    """


def bpe_fertility_by_lang_sql(n_merges: int = 4) -> str:
    """DuckDB twin of the per-language fertility rollup: the
    bpe_apply_token_counts chain grouped by `lang` with integer-milli
    fertility (BPE symbols emitted per whitespace word — the tokenizer
    efficiency metric every multilingual run tracks per language)."""
    return _bpe_cte_chain(n_merges) + f"""
    , wl AS (
        SELECT word, CAST(len(string_split(w, ' ')) AS BIGINT) AS n_sym
        FROM w{n_merges}
    ),
    tk AS (
        SELECT lang, unnest(string_split(text, ' ')) AS word FROM documents
    )
    SELECT tk.lang,
           CAST(COUNT(*) AS BIGINT) AS n_words,
           CAST(SUM(wl.n_sym) AS BIGINT) AS n_bpe_tokens,
           (1000 * CAST(SUM(wl.n_sym) AS BIGINT)) // CAST(COUNT(*) AS BIGINT)
               AS fertility_milli
    FROM tk JOIN wl USING (word)
    GROUP BY tk.lang
    """


def bpe_fertility_by_lang(
    docs: DataFrame,
    n_merges: int = 4,
    lang_col: str = "lang",
    text_col: str = "text",
) -> DataFrame:
    """Per-language tokenizer fertility under the trained BPE: explode
    words WITH their language tag, join the vocabulary-sized per-word
    symbol counts (broadcast — the trained vocab is small by
    construction), one lang-cardinality agg. Fertility is integer-milli
    floor division so both engines agree bit-exactly."""
    _, wt = bpe_train(docs, n_merges, text_col)
    wl = wt.select(
        "word", F.size(F.split("w", " ")).cast("long").alias("n_sym")
    )
    from ..session import fan_out

    tk = fan_out(docs.select(lang_col, text_col)).select(
        lang_col, F.explode(F.split(F.col(text_col), " ")).alias("word")
    )
    return (
        tk.join(F.broadcast(wl), "word")
        .groupBy(lang_col)
        .agg(
            F.count("*").cast("long").alias("n_words"),
            F.sum("n_sym").cast("long").alias("n_bpe_tokens"),
        )
        .select(
            lang_col, "n_words", "n_bpe_tokens",
            ((F.lit(1000) * F.col("n_bpe_tokens")) / F.col("n_words"))
            .cast("long").alias("fertility_milli"),
        )
    )
