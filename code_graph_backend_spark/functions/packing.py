"""Training-sequence assembly operators: packing documents into fixed
token-budget sequences, temperature-based language rebalancing, and
per-group quality-percentile gating. These are the steps between "curated
corpus" and "batches a trainer can consume" — the tail of the 100 TB
pipeline after dedup/decontamination (functions/dedup.py, sampling.py).

All three are pure `pyspark.sql.functions` plans (no UDFs):

- pack_sequences: concatenate-and-chunk packing via ONE window cumsum —
  the id-ordered corpus forms one token stream, cut into fixed `budget`
  windows; each doc is assigned the window its first token lands in
  (seq_id = floor((cumsum - tokens) / budget)) and its offset there.
  Docs MAY straddle a window boundary — that is the standard GPT-style
  pretraining layout (concatenation + fixed-length chunks, attention
  masks handle document edges); zero padding waste by construction.
  Deterministic, one shuffle (the ordering window), exactly expressible
  in ANSI SQL for the oracle. (No-straddle greedy binning is inherently
  sequential per bin — prefix-dependent state no SQL window expresses —
  and wastes up to a doc per boundary; concat-and-chunk is both the
  scalable and the more standard choice.) At 100 TB the single global
  window is the one serial constraint — partition-parallel variant: add
  a coarse range key (e.g. shard = doc_id mod N) to the window's
  partitionBy and pack within shards.
- temperature_resample: per-language keep-quota k_l ∝ n_l^alpha scaled
  to keep the smallest group whole (alpha<1 flattens the language
  distribution, the multilingual-LM standard); deterministic md5-ranked
  keep like functions/sampling.py — two shuffles (count agg + rank
  window).
- quality_percentile_filter: keep docs above the p-th quality percentile
  WITHIN their source — percent_rank window per source, one shuffle.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window


def _join_carry(d: DataFrame, offsets: DataFrame, bucket_col: str) -> DataFrame:
    """d ⋈ broadcast(offsets) on a NULL-safe bucket match; the columns
    come out as a USING join lays them out (bucket first)."""
    off = offsets.withColumnRenamed(bucket_col, "_bkey")
    cols = [bucket_col] + [c for c in d.columns if c != bucket_col]
    cols += [c for c in off.columns if c != "_bkey"]
    return d.join(
        F.broadcast(off), F.col(bucket_col).eqNullSafe(F.col("_bkey"))
    ).select(*cols)


def two_level_prefix_sum(
    d: DataFrame,
    value_col: str,
    bucket_col: str,
    order_by: list[Column],
    out_col: str = "cum",
) -> DataFrame:
    """Distributed global prefix sum over an arbitrary total order: the
    shard_manifest two-level decomposition, factored out so every global
    cumsum in the repo shares one scalable kernel instead of an
    unpartitioned WindowExec (which moves the whole corpus to ONE
    partition — Spark warns `No Partition Defined for Window operation`).

    Contract: `bucket_col` must be ORDER-ALIGNED with `order_by` —
    bucket b's rows all precede bucket b+1's rows in the global order
    (e.g. bucket = id DIV width for an id-asc order, or
    bucket = -(score DIV width) for a score-desc order). Then

      cum(row) = bucket_offset(bucket) + cum_within_bucket(row)

    where (1) the input is EXPLICITLY repartitioned on the bucket — a
    user-requested exchange the optimizer will not prune — and BOTH the
    cum_within_bucket window and the bucket-totals aggregate read that
    one exchange in place (the window's required distribution and the
    agg's grouping are already satisfied, so neither plans a shuffle of
    its own; the STATIC plan carries the two branches as two identical
    Exchange copies — no ReusedExchange node appears pre-execution —
    and they are deduplicated at RUNTIME by AQE exchange/stage reuse
    (or by the ReuseExchange rule with AQE off), so the caller's input
    subtree is evaluated once at execution while the plan_sweep census
    counts both static copies. Before
    r10 the totals branch re-derived the input through its own
    partial-agg exchange, so the static plan evaluated the whole input
    subtree TWICE — two corpus scans for token_budget_select, EIGHT for
    quality_calibration_bins' two text pipelines — found by the shuffle
    census, tools/plan_sweep.py --exchanges; an in-kernel persist was
    tried first and rejected: chained calls nest InMemoryRelations and
    the planning/codegen blowup costs far more than it saves); (2)
    cum_within_bucket is a PARTITIONED window (parallel across
    buckets); (3) bucket offsets come from one window over the
    bucket-totals aggregate — bucket-count-sized input (thousands of
    rows where the corpus has billions), the only acceptable home for
    an empty-partition window (tests/test_plans.py's
    unpartitioned-window tripwire encodes exactly this rule) — and (4)
    the offsets broadcast back. Exact decomposition: equality with the
    oracle's flat cumsum at every scale is the correctness proof.
    Inclusive (running total through the current row); skew note: one
    bucket holding a hot tie group serializes within that bucket only —
    pick the bucket width so value ranges split ties where the key
    allows it.

    NULL buckets: the offsets join back to the data is NULL-safe, so
    rows whose bucket is NULL are kept; the NULL bucket sorts FIRST in
    the global order (the carry-in window's ascending order puts it
    there), which is where a flat ascending window ranks nulls."""
    wb = (
        Window.partitionBy(bucket_col)
        .orderBy(*order_by)
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    d = d.repartition(F.col(bucket_col))
    totals = d.groupBy(bucket_col).agg(F.sum(value_col).alias("_btot"))
    d = d.withColumn("_cum_in_bucket", F.sum(value_col).over(wb))
    wo = Window.orderBy(bucket_col).rowsBetween(Window.unboundedPreceding, -1)
    offsets = totals.withColumn(
        "_boff", F.coalesce(F.sum("_btot").over(wo), F.lit(0))
    ).select(bucket_col, "_boff")
    return (
        _join_carry(d, offsets, bucket_col)
        .withColumn(out_col, (F.col("_boff") + F.col("_cum_in_bucket")).cast("long"))
        .drop("_cum_in_bucket", "_boff")
    )


def two_level_prefix_max(
    d: DataFrame,
    value_col: str,
    bucket_col: str,
    order_by: list[Column],
    out_col: str = "run_max",
) -> DataFrame:
    """Distributed global RUNNING MAX over an arbitrary total order —
    the max-monoid twin of two_level_prefix_sum (same order-aligned
    bucket contract, same NULL-bucket-first placement, same
    shape, same shared explicit bucket repartition read by both
    branches — two identical static Exchange copies deduplicated at
    runtime by AQE stage reuse, one evaluation of `d`): per-bucket
    running max
    (partitioned window), one window over the bucket MAXIMA aggregate
    for the carry-in from all earlier buckets (exclusive prefix-max,
    null for the first bucket), broadcast back, combine with GREATEST.
    This is the 'shard-local running max + prefix-max of shard boundary
    maxima' recipe the lateness profile documents."""
    wb = (
        Window.partitionBy(bucket_col)
        .orderBy(*order_by)
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    d = d.repartition(F.col(bucket_col))
    totals = d.groupBy(bucket_col).agg(F.max(value_col).alias("_bmax"))
    d = d.withColumn("_max_in_bucket", F.max(value_col).over(wb))
    wo = Window.orderBy(bucket_col).rowsBetween(Window.unboundedPreceding, -1)
    offsets = totals.withColumn("_bcarry", F.max("_bmax").over(wo)).select(
        bucket_col, "_bcarry"
    )
    return (
        _join_carry(d, offsets, bucket_col)
        .withColumn(
            out_col,
            F.greatest(
                F.col("_max_in_bucket"),
                F.coalesce(F.col("_bcarry"), F.col("_max_in_bucket")),
            ).cast("long"),
        )
        .drop("_max_in_bucket", "_bcarry")
    )


def exact_ntile(
    d: DataFrame,
    metric_col: str,
    n_col: str,
    tie_col: str | list[str],
    out_col: str,
    n_tiles: int = 5,
    descending: bool = False,
    width: int = 64,
) -> DataFrame:
    """Exact NTILE(n_tiles) over (metric, tie) order WITHOUT a global
    sort: the row's exact rank comes from a two-level prefix COUNT
    (two_level_prefix_sum of ones over -(metric DIV width) /
    (metric DIV width) order-aligned buckets), then rank maps to its
    tile with the closed-form NTILE law — with base = n DIV t and
    r = n % t, the first r tiles hold base+1 rows (the SQL-standard
    larger-groups-first rule every engine implements), so

        tile(k) = ceil(k / (base+1))                 while k <= r*(base+1)
                = r + ceil((k - r*(base+1)) / base)  after

    (integer ceil(a/b) = (a+b-1) DIV b; the ELSE branch needs base >= 1,
    which holds whenever it is reached: base = 0 implies n = r and every
    rank satisfies the WHEN). Bit-identical to a flat NTILE window —
    the oracle twin — at every scale, with no single-partition sort.
    `n_col` must already hold the total row count (1-row broadcast).
    `tie_col` may be a list for composite tie-breaks (e.g. the z-order
    layout ranks by (z, user_id, es)); rows still tied after every tie
    column must be fully indistinguishable for the result to be
    engine-independent — same as a flat NTILE over the same order."""
    sign = "-" if descending else ""
    ties = [tie_col] if isinstance(tie_col, str) else list(tie_col)
    order = [
        F.col(metric_col).desc() if descending else F.col(metric_col).asc(),
        *[F.col(t).asc() for t in ties],
    ]
    d = two_level_prefix_sum(
        d.withColumn("_nt_one", F.lit(1).cast("long"))
        .withColumn("_nt_bkt", F.expr(f"{sign}({metric_col} DIV {width})")),
        "_nt_one", "_nt_bkt", order, out_col="_nt_rank",
    ).drop("_nt_bkt", "_nt_one")
    b = f"({n_col} DIV {n_tiles})"
    r = f"({n_col} % {n_tiles})"
    tile = (
        f"CASE WHEN _nt_rank <= {r} * ({b} + 1)"
        f" THEN (_nt_rank + {b}) DIV ({b} + 1)"
        f" ELSE {r} + (_nt_rank - {r} * ({b} + 1) + {b} - 1) DIV {b} END"
    )
    return d.withColumn(out_col, F.expr(tile).cast("long")).drop("_nt_rank")


def pack_sequences(
    docs: DataFrame,
    budget: int = 256,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """(seq_id, doc_id, n_tokens, tok_offset): concatenate-and-chunk
    packing of the id-ordered corpus token stream into fixed `budget`
    windows. `seq_id` is the window the doc's FIRST token lands in,
    `tok_offset` its position there; docs may straddle into the next
    window (GPT-style pretraining layout — see module docstring)."""
    toks = F.size(F.split(F.col(text_col), " "))
    w = Window.orderBy(id_col).rowsBetween(Window.unboundedPreceding, 0)
    d = docs.select(F.col(id_col), toks.alias("n_tokens"))
    d = d.withColumn("cum", F.sum("n_tokens").over(w))
    # a doc starts a new sequence when the tokens BEFORE it fill prior bins
    return d.select(
        F.floor((F.col("cum") - F.col("n_tokens")) / budget).cast("long").alias("seq_id"),
        id_col,
        "n_tokens",
        ((F.col("cum") - F.col("n_tokens")) % budget).cast("long").alias("tok_offset"),
    )


def pack_sequences_sharded(
    docs: DataFrame,
    budget: int = 256,
    n_shards: int = 16,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """The 100 TB variant of `pack_sequences` (see module docstring): the
    single global ordering window is replaced by a per-shard window
    (shard = doc_id mod n_shards), so the cumsum runs partition-parallel —
    the one serial constraint of the global version removed at the cost of
    ≤1 partially-filled final window per shard. seq_id is globally unique
    via (shard, local window) packing: shard · 2⁴⁰ + local_seq. Same
    deterministic concat-and-chunk semantics within each shard."""
    toks = F.size(F.split(F.col(text_col), " "))
    shard = F.pmod(F.col(id_col), F.lit(n_shards)).cast("long")
    w = Window.partitionBy("shard").orderBy(id_col).rowsBetween(
        Window.unboundedPreceding, 0
    )
    d = docs.select(
        F.col(id_col), shard.alias("shard"), toks.alias("n_tokens")
    ).withColumn("cum", F.sum("n_tokens").over(w))
    local_seq = F.floor((F.col("cum") - F.col("n_tokens")) / budget).cast("long")
    return d.select(
        (F.col("shard") * F.lit(1 << 40) + local_seq).alias("seq_id"),
        id_col,
        "n_tokens",
        ((F.col("cum") - F.col("n_tokens")) % budget).cast("long").alias("tok_offset"),
    )


def temperature_resample(
    docs: DataFrame,
    alpha: float = 0.5,
    group_col: str = "lang",
    id_col: str = "doc_id",
) -> DataFrame:
    """Deterministic temperature sampling without upsampling: kept counts
    follow k_l ∝ n_l^alpha (the T=1/alpha rebalancing of multilingual
    pretraining), scaled so the SMALLEST group is kept whole — i.e.
    quota_l = ⌈n_l^alpha · n_min^(1-alpha)⌉, which downsamples head
    languages toward the flattened distribution. Keep choice is
    md5-ranked (stable across runs/partitionings). For alpha=0.5 the
    quota is ⌈√(n_l·n_min)⌉ computed via sqrt, which IEEE-754 rounds
    correctly — bit-identical across engines, so the DuckDB oracle can
    replay the exact quotas (pow is not correctly-rounded and could
    differ in the last ulp right at a ceil boundary)."""
    counts = docs.groupBy(group_col).agg(F.count("*").alias("n"))
    n_min = counts.agg(F.min("n")).collect()[0][0]
    if not n_min:
        return docs.select(id_col, group_col).limit(0)
    if alpha == 0.5:
        raw = F.sqrt(F.col("n") * F.lit(int(n_min)))
    else:
        raw = F.pow(F.col("n"), F.lit(alpha)) * F.lit(float(n_min) ** (1.0 - alpha))
    quotas = counts.select(
        group_col, F.least(F.col("n"), F.ceil(raw)).alias("quota")
    )
    rank_w = Window.partitionBy(group_col).orderBy(
        F.md5(F.concat_ws(":", F.col(id_col).cast("string"), F.lit("temp"))),
        F.col(id_col),
    )
    return (
        docs.select(id_col, group_col)
        .withColumn("_rk", F.row_number().over(rank_w))
        .join(F.broadcast(quotas), group_col)
        .filter(F.col("_rk") <= F.col("quota"))
        .select(id_col, group_col)
    )


def token_budget_select(
    docs: DataFrame,
    budget: int,
    id_col: str = "doc_id",
    text_col: str = "text",
    score_col: str = "n_chars",
) -> DataFrame:
    """Greedy token-budget selection: walk the corpus best-score-first and
    keep every doc whose tokens still fit the remaining budget of a fixed
    total token target (the "give me the best 50B tokens" cut every
    pretraining run starts with). Greedy-by-rank with a hard prefix budget
    is exactly a cumsum gate: keep doc d iff cumsum(tokens) through d is
    <= budget in (score desc, id) order. No iteration, no driver state;
    deterministic ties by id. Docs that would overflow are dropped, later
    smaller docs are NOT backfilled — that knapsack variant is
    order-dependent sequential state no window expresses, and the prefix
    cut is the standard corpus-selection semantics.

    The cumsum is the TWO-LEVEL decomposition (two_level_prefix_sum —
    the shard_manifest recipe), not one unpartitioned window: buckets
    are score ranges, order-aligned with (score desc, id) because the
    bucket key -(score DIV width) is monotone in the leading sort key
    and score ties never straddle a bucket. At 100 TB the per-doc work
    is partition-parallel; only the bucket-totals window (range-count-
    sized) is global. The DuckDB oracle replays ONE flat cumsum —
    equality is the decomposition proof, exactly as for shard_manifest.

    Token count is space-count arithmetic (len(text) - len(without-spaces)
    + 1) rather than size(split(...)): pure integer string ops with
    identical semantics in every engine, so the DuckDB oracle replays it
    with no list-function edge cases (empty text, trailing separators).
    Every output column is cast to BIGINT and the result carries a
    deterministic final ordering so the row stream is bit-stable."""
    toks = (
        F.length(F.col(text_col))
        - F.length(F.regexp_replace(F.col(text_col), " ", ""))
        + F.lit(1)
    )
    d = docs.select(
        F.col(id_col).cast("long").alias(id_col),
        F.col(score_col).cast("long").alias(score_col),
        toks.cast("long").alias("n_tokens"),
    ).withColumn("_bkt", -F.expr(f"{score_col} DIV 64"))
    d = two_level_prefix_sum(
        d,
        "n_tokens",
        "_bkt",
        [F.col(score_col).desc(), F.col(id_col).asc()],
        out_col="cum_tokens",
    )
    return (
        d.filter(F.col("cum_tokens") <= budget)
        .select(id_col, score_col, "n_tokens", "cum_tokens")
        .orderBy(F.col("cum_tokens").asc(), F.col(id_col).asc())
    )


def quality_percentile_filter(
    docs_with_score: DataFrame,
    keep_top: float = 0.5,
    group_col: str = "source",
    score_col: str = "score",
    id_col: str = "doc_id",
) -> DataFrame:
    """Keep the top `keep_top` fraction by score WITHIN each group
    (per-source gates prevent a high-scoring source from crowding out the
    rest — the standard per-domain quality filter). percent_rank ties are
    broken by id for determinism; one shuffle on the group key."""
    w = Window.partitionBy(group_col).orderBy(
        F.col(score_col).desc(), F.col(id_col).asc()
    )
    return (
        docs_with_score
        .withColumn("_pr", F.percent_rank().over(w))
        .filter(F.col("_pr") < keep_top)
        .select(id_col, group_col, score_col)
    )


def shard_manifest(
    docs: DataFrame,
    target_tokens: int = 1000,
    id_col: str = "doc_id",
    text_col: str = "text",
    bucket_width: int = 64,
) -> DataFrame:
    """Token-balanced contiguous export shards (the WebDataset / MDS
    shard-writing shape): walking the corpus in id order, doc d goes to
    shard floor(cum_tokens_before_d / target_tokens) — shards are
    contiguous id ranges holding ~target_tokens each (one oversized doc
    may push a shard past target; docs are never split). Returns the
    per-shard manifest (shard, n_docs, total_tokens, min_id, max_id).

    The global cumsum is TWO-LEVEL, not one single-partition window:
    (1) per-bucket cumsum, bucket = id div bucket_width (order-
    preserving by construction); (2) a window over the BUCKET TOTALS —
    bucket-count-sized, thousands of rows where the corpus has
    millions — yields each bucket's starting offset, broadcast back.
    cum_before = bucket_offset + within_bucket_cum_before. That is the
    scalable global-prefix-sum recipe; the DuckDB oracle replays it as
    ONE flat cumsum, and their equality at every scale is exactly the
    two-level decomposition's correctness proof.

    Token count is the engine-exact space-count arithmetic; every
    output column BIGINT."""
    toks = (
        F.length(F.col(text_col))
        - F.length(F.regexp_replace(F.col(text_col), " ", ""))
        + F.lit(1)
    )
    d = docs.select(
        F.col(id_col).cast("long").alias("id"),
        toks.cast("long").alias("n_tokens"),
    ).withColumn("bucket", F.expr("id DIV " + str(int(bucket_width))))
    wb = (
        Window.partitionBy("bucket")
        .orderBy("id")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    d = d.withColumn("cum_in_bucket", F.sum("n_tokens").over(wb))
    totals = d.groupBy("bucket").agg(F.max("cum_in_bucket").alias("btot"))
    wo = Window.orderBy("bucket").rowsBetween(
        Window.unboundedPreceding, -1
    )
    offsets = totals.withColumn(
        "offset", F.coalesce(F.sum("btot").over(wo), F.lit(0))
    ).select("bucket", "offset")
    assigned = (
        d.join(F.broadcast(offsets), "bucket")
        .withColumn(
            "shard",
            F.expr(
                "(offset + cum_in_bucket - n_tokens) DIV "
                + str(int(target_tokens))
            ),
        )
    )
    return (
        assigned.groupBy("shard")
        .agg(
            F.count("*").cast("long").alias("n_docs"),
            F.sum("n_tokens").cast("long").alias("total_tokens"),
            F.min("id").cast("long").alias("min_id"),
            F.max("id").cast("long").alias("max_id"),
        )
        .select(
            F.col("shard").cast("long"),
            "n_docs", "total_tokens", "min_id", "max_id",
        )
    )


def shard_manifest_incremental(
    docs: DataFrame,
    watermark_id: int | None = None,
    target_tokens: int = 1000,
    id_col: str = "doc_id",
    text_col: str = "text",
    bucket_width: int = 64,
) -> DataFrame:
    """Incremental-ingest extension of `shard_manifest`: docs with id >
    `watermark_id` are a NEW BATCH appended to an already-manifested
    corpus. Their shard assignment needs exactly ONE scalar of state —
    the old corpus's total token count (in production read from the
    stored manifest; derived here with one aggregate so the oracle can
    replay it) — so the batch is assigned WITHOUT rescanning or
    re-shuffling a single old document: cum_before = old_total +
    batch_cumsum, shard = cum_before div target. The full-recompute
    oracle restricted to batch docs proves the offset math: incremental
    == recompute, which is what lets a 100 TB corpus absorb hourly
    drops at per-drop cost.

    `watermark_id` defaults to 4/5 of max id (scale-independent).
    Returns the manifest rows the batch contributes (a boundary shard
    already partially filled by old docs shows only its NEW docs/tokens
    here; merging with the stored manifest row is an addition)."""
    toks = (
        F.length(F.col(text_col))
        - F.length(F.regexp_replace(F.col(text_col), " ", ""))
        + F.lit(1)
    )
    base = docs.select(
        F.col(id_col).cast("long").alias("id"),
        toks.cast("long").alias("n_tokens"),
    )
    if watermark_id is None:
        wmark = base.agg(
            F.expr("CAST(max(id) * 4 DIV 5 AS BIGINT)").alias("_w")
        )
    else:
        wmark = base.sparkSession.range(1).select(
            F.lit(int(watermark_id)).cast("long").alias("_w")
        )
    based = base.crossJoin(F.broadcast(wmark))  # 1-row scalar join
    old_total = (
        based.filter(F.col("id") <= F.col("_w"))
        .agg(F.coalesce(F.sum("n_tokens"), F.lit(0)).alias("old_total"))
    )
    batch = based.filter(F.col("id") > F.col("_w")).withColumn(
        "bucket", F.expr(f"id DIV {int(bucket_width)}")
    )
    wb = (
        Window.partitionBy("bucket")
        .orderBy("id")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    batch = batch.withColumn("cum_in_bucket", F.sum("n_tokens").over(wb))
    totals = batch.groupBy("bucket").agg(F.max("cum_in_bucket").alias("btot"))
    wo = Window.orderBy("bucket").rowsBetween(Window.unboundedPreceding, -1)
    offsets = totals.withColumn(
        "offset", F.coalesce(F.sum("btot").over(wo), F.lit(0))
    ).select("bucket", "offset")
    assigned = (
        batch.join(F.broadcast(offsets), "bucket")
        .crossJoin(F.broadcast(old_total))
        .withColumn(
            "shard",
            F.expr(
                "(old_total + offset + cum_in_bucket - n_tokens) DIV "
                + str(int(target_tokens))
            ),
        )
    )
    return (
        assigned.groupBy("shard")
        .agg(
            F.count("*").cast("long").alias("n_docs"),
            F.sum("n_tokens").cast("long").alias("total_tokens"),
            F.min("id").cast("long").alias("min_id"),
            F.max("id").cast("long").alias("max_id"),
        )
        .select(
            F.col("shard").cast("long"),
            "n_docs", "total_tokens", "min_id", "max_id",
        )
    )
