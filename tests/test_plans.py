"""Physical-plan assertions: the plans we designed for are the plans Spark
actually runs (broadcasts where intended, pruned scans, no nested-loop
fallbacks). Guards against regressions that stay correct but stop scaling.
"""

from __future__ import annotations

import pytest

import __spark_entry__ as entry

SF = "/root/testdata/sf0.001"


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


@pytest.fixture(scope="module")
def qs():
    return entry.queries()


def test_flagship_broadcasts_dims_and_prunes_columns(spark, qs):
    df = qs["flagship_region_revenue"](spark, SF)
    plan = _plan(df)
    assert "BroadcastHashJoin" in plan, plan[:1500]
    # lineitem scan must not read the full table width
    assert "l_comment" not in plan and "l_shipdate" not in plan


def test_range_join_is_hash_not_nested_loop(spark, qs):
    plan = _plan(qs["j12_range_join_coverage"](spark, SF))
    assert "BroadcastNestedLoopJoin" not in plan, plan[:1500]


def test_tfidf_broadcasts_vocabulary(spark, qs):
    plan = _plan(qs["text_tfidf_topterms"](spark, SF))
    assert "BroadcastHashJoin" in plan, plan[:1500]


def test_neighbors_broadcasts_id_seeds(spark, qs):
    plan = _plan(qs["j1_out_neighbors"](spark, SF))
    assert "BroadcastHashJoin" in plan, plan[:1500]
    assert "BroadcastNestedLoopJoin" not in plan


def test_point_lookup_filters_before_limit(spark, qs):
    plan = _plan(qs["p1_point_lookup_by_name"](spark, SF))
    assert any(op in plan for op in ("TakeOrderedAndProject", "CollectLimit")), plan[:1500]
    # the name/label predicates must reach the cached-relation scan, not
    # run as a post-scan filter only
    assert "InMemoryTableScan" in plan
    scan = plan[plan.index("InMemoryTableScan"):]
    assert "array_contains" in scan.split("InMemoryRelation")[0]


def test_contamination_broadcasts_probe_shingles(spark, qs):
    """The probe side must broadcast and the match must be an equi-join on
    the shingle — a substring theta-join (BroadcastNestedLoopJoin) is the
    anti-pattern this operator exists to avoid."""
    plan = _plan(qs["contamination_ngram"](spark, SF))
    assert "BroadcastHashJoin" in plan, plan[:1500]
    assert "BroadcastNestedLoopJoin" not in plan


def test_stratified_sample_is_single_window_shuffle(spark, qs):
    plan = _plan(qs["sample_stratified"](spark, SF))
    assert plan.count("Exchange hashpartitioning") == 1, plan[:2000]
    assert "RunningWindowFunction" in plan or "Window" in plan


def test_dedup_clusters_corpus_join_no_nested_loop(spark, qs):
    plan = _plan(qs["dedup_clusters"](spark, SF))
    assert "BroadcastNestedLoopJoin" not in plan


def test_subgraph_broadcasts_are_request_sized(spark, qs):
    """J4: the left-outer chain must never build a hash side from the whole
    graph. Every BroadcastExchange in the plan must sit over the seed set,
    the seed-pruned edge hits, or the semi-joined dst nodes — i.e. a
    subtree that is itself seed-filtered (contains a join back to the
    seeds), never a bare full-relation scan."""
    plan = _plan(qs["j4_subgraph_sample"](spark, SF))
    assert "BroadcastNestedLoopJoin" not in plan
    # the full-edges/full-nodes broadcast of the old shape surfaced as a
    # BroadcastExchange directly over an InMemoryTableScan with no join or
    # limit below it
    import re

    for m in re.finditer(r"BroadcastExchange", plan):
        subtree = plan[m.start():m.start() + 2500]
        assert ("TakeOrderedAndProject" in subtree  # seeds
                or "BroadcastHashJoin" in subtree   # seed-pruned hits / dsts
                or "Join" in subtree), subtree[:600]


def test_pii_redact_is_jvm_map_only(spark, qs):
    """PII redaction: zero shuffles, zero Python workers — pure
    whole-stage-codegen regexp over the scan."""
    plan = _plan(qs["pii_redact"](spark, SF))
    assert "Exchange hashpartitioning" not in plan, plan[:1500]
    assert "MapInPandas" not in plan and "ArrowEvalPython" not in plan
    assert "BatchEvalPython" not in plan  # row-at-a-time UDF is the anti-pattern


def test_weighted_sample_single_shuffle(spark, qs):
    """Both window functions (rank + stratum count) share one exchange."""
    plan = _plan(qs["sample_weighted"](spark, SF))
    assert plan.count("Exchange hashpartitioning") == 1, plan[:2000]


def test_cohort_retention_two_shuffles(spark, qs):
    """Window on user + rollup on (cohort, offset): two keys, exactly two
    exchanges — the groupBy+self-join alternative would need three."""
    plan = _plan(qs["cohort_retention"](spark, SF))
    assert plan.count("Exchange hashpartitioning") == 2, plan[:2000]


def test_token_repetition_map_only(spark, qs):
    plan = _plan(qs["text_repetition"](spark, SF))
    assert "Exchange hashpartitioning" not in plan, plan[:1500]
    assert "MapInPandas" in plan  # Arrow kernel, not an exploded shuffle


def test_commit_hash_range_index_prunes(spark, tmp_path):
    """X4 (reference git_graph.py:29-33): the hash-range node layout must
    give each parquet file a disjoint hash range (footer min/max => file
    skipping) and push the hash equality into the scan."""
    import pyarrow.parquet as pq
    from pyspark.sql import functions as F

    from code_graph_backend_spark.graph.model import NODES_SCHEMA, PropertyGraph

    hashes = [f"{i:040x}" for i in range(997, 0, -7)]  # unsorted-ish input
    nodes = spark.createDataFrame(
        [(hash(h) & 0x7FFFFFFF, ["Commit"], h, "", None, None, None, None, None, None)
         for h in hashes],
        NODES_SCHEMA,
    )
    g = PropertyGraph(spark, "xfour_git", nodes, None, root=str(tmp_path))
    d = g.save_range_indexed("name", n_files=8)

    import glob as globmod
    ranges = []
    for f in sorted(globmod.glob(d + "/part-*.parquet")):
        md = pq.ParquetFile(f).metadata
        col_idx = next(i for i in range(len(md.schema))
                       if md.schema.column(i).name == "name")
        mins, maxs = [], []
        for rg in range(md.num_row_groups):
            st = md.row_group(rg).column(col_idx).statistics
            assert st is not None and st.has_min_max
            mins.append(st.min); maxs.append(st.max)
        ranges.append((min(mins), max(maxs)))
    assert len(ranges) > 1  # actually split into multiple range files
    ranges.sort()
    for (lo1, hi1), (lo2, hi2) in zip(ranges, ranges[1:]):
        assert hi1 <= lo2, (hi1, lo2)  # disjoint => skippable

    target = hashes[3]
    lookup = g.range_indexed_nodes("name").filter(F.col("name") == target)
    plan = _plan(lookup)
    assert "PushedFilters: [IsNotNull(name), EqualTo(name," in plan, plan[:1500]
    assert lookup.count() == 1


def test_bucketed_graph_join_has_no_exchange(spark):
    """save_bucketed: a hop join over the bucketed layout must read both
    sides bucket-aligned — no Exchange in the physical plan even with
    broadcast disabled (the 100 TB case where nothing broadcasts)."""
    from code_graph_backend_spark.graph.tpch import build_graph

    g = build_graph(spark, SF)
    nt, et = g.save_bucketed(n_buckets=4)
    thresh = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        joined = (
            spark.table(et)
            .join(spark.table(nt), spark.table(et)["src"] == spark.table(nt)["id"])
            .select("src", "dst", "type", "name")
        )
        plan = _plan(joined)
        assert "Exchange" not in plan, plan[:2000]
        assert "SortMergeJoin" in plan, plan[:2000]
        assert joined.count() > 0
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", thresh)


def test_media_kernels_are_map_only(spark, qs):
    """Real BMP/WAV decode (r4): payload build + decode compose into a
    zero-Exchange map-only plan — binary payloads never shuffle."""
    for q in ("mm_media_features", "mm_wav_features"):
        plan = _plan(qs[q](spark, SF))
        assert "Exchange" not in plan, (q, plan[:1200])


def test_pack_sequences_single_window_shuffle(spark, qs):
    """Concat-and-chunk packing is ONE global window: exactly one
    Exchange, no join of any kind."""
    plan = _plan(qs["pack_sequences"](spark, SF))
    assert plan.count("Exchange") == 1, plan[:1500]
    assert "Join" not in plan


def test_quality_percentile_single_shuffle(spark, qs):
    plan = _plan(qs["quality_percentile"](spark, SF))
    assert plan.count("Exchange") == 1, plan[:1500]
    assert "Join" not in plan


def test_temperature_broadcasts_quotas(spark, qs):
    """The per-language quota table is tiny and must broadcast onto the
    ranked doc stream — never shuffle the docs for it."""
    plan = _plan(qs["sample_temperature"](spark, SF))
    assert "BroadcastHashJoin" in plan, plan[:1500]
    assert "BroadcastNestedLoopJoin" not in plan


def test_graph_analytics_no_nested_loop(spark, qs):
    """Triangles / Jaccard / LPA / k-core are all equi-join pipelines —
    a BroadcastNestedLoopJoin anywhere means a filter degenerated into a
    cartesian scan."""
    for q in ("graph_triangle_count", "graph_jaccard_neighbors",
              "graph_label_propagation", "graph_kcore"):
        plan = _plan(qs[q](spark, SF))
        assert "BroadcastNestedLoopJoin" not in plan, (q, plan[:1200])
        assert "CartesianProduct" not in plan, (q, plan[:1200])


def test_token_budget_windows_are_bucketed(spark, qs):
    """The budget gate's cumsum is the two-level decomposition (same
    recipe as shard_manifest): the per-doc window is PARTITIONED on the
    score bucket; only the bucket-totals window (range-count-sized) is
    global, and the offsets come back as a broadcast join."""
    plan = _plan(qs["token_budget_select"](spark, SF))
    assert "BroadcastHashJoin" in plan, plan[:1500]
    assert "BroadcastNestedLoopJoin" not in plan
    assert plan.count("Window") >= 2, plan[:1500]


def test_events_rollup_is_one_expand_one_agg(spark, qs):
    """ROLLUP must run as one scan + Expand + hash-agg — never one scan
    per granularity unioned together."""
    plan = _plan(qs["events_rollup"](spark, SF))
    assert "Expand" in plan, plan[:1500]
    assert "Union" not in plan, plan[:1500]
    assert plan.count("Scan parquet") <= 1, plan[:1500]


def test_hits_and_incremental_dedup_no_nested_loop(spark, qs):
    for q in ("graph_hits", "dedup_minhash_incremental"):
        plan = _plan(qs[q](spark, SF))
        assert "BroadcastNestedLoopJoin" not in plan, (q, plan[:1200])
        assert "CartesianProduct" not in plan, (q, plan[:1200])


def test_pq_shortlist_broadcasts_onto_corpus(spark, qs):
    """The rerank join must broadcast the request-sized shortlist onto
    the corpus scan, and the ADC scan must read codes via chained
    map-only kernels (no Exchange between encode and score)."""
    plan = _plan(qs["ann_pq_topk"](spark, SF))
    assert "BroadcastHashJoin" in plan, plan[:1500]
    assert "BroadcastNestedLoopJoin" not in plan


def test_outlier_gate_broadcasts_stats(spark, qs):
    """The 7-row per-type stats table must broadcast onto the events scan
    — a shuffle join here would shuffle the full corpus for a lookup."""
    plan = _plan(qs["events_outliers"](spark, SF))
    assert "BroadcastHashJoin" in plan, plan[:1500]
    assert "BroadcastNestedLoopJoin" not in plan


def test_length_regression_single_agg(spark, qs):
    """All five sums reduce in ONE hash-agg pass (one Exchange), no join."""
    plan = _plan(qs["corpus_length_regression"](spark, SF))
    assert plan.count("Exchange") <= 2, plan[:1500]  # partial+final agg pair
    assert "Join" not in plan


def test_hll_register_agg_bounds_shuffle(spark, qs):
    """The sketch's whole point: the exchange after the register agg
    carries (group, bucket, max-rho) rows, never raw items — the plan
    must show partial aggregation (map-side combine) feeding the
    exchange, and no nested-loop anywhere."""
    plan = _plan(qs["corpus_distinct_hll"](spark, SF))
    assert "BroadcastNestedLoopJoin" not in plan
    # partial_max before the exchange = map-side register combine
    assert "partial_max" in plan or "partial max" in plan.lower(), plan[:2000]


def test_boilerplate_no_corpus_join_back(spark, qs):
    """source rides through the explode (no doc_id join back to the
    corpus) and the df join is an equi-join."""
    plan = _plan(qs["boilerplate_stats"](spark, SF))
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


def test_spans_window_over_anchors_only(spark, qs):
    plan = _plan(qs["dedup_substring_spans"](spark, SF))
    assert "BroadcastNestedLoopJoin" not in plan
    assert "Window" in plan


def test_kmeans_assign_broadcasts_centroids(spark, qs):
    """The n*d exploded vectors join the k*d centroid table — the
    centroid side must broadcast (it is bounded by construction)."""
    plan = _plan(qs["emb_kmeans_assign"](spark, SF))
    assert "BroadcastHashJoin" in plan, plan[:2000]
    assert "BroadcastNestedLoopJoin" not in plan


def test_power_iteration_broadcasts_vector(spark, qs):
    """Each matvec joins the exploded corpus against the d-row vector —
    broadcast, never shuffle, on the vector side."""
    plan = _plan(qs["emb_power_iteration"](spark, SF))
    assert "BroadcastHashJoin" in plan, plan[:2000]
    assert "BroadcastNestedLoopJoin" not in plan


def test_hard_negatives_partials_then_rank(spark, qs):
    """Kernel emits bounded local top-k partials; the global pass is one
    window — no pair-space join anywhere."""
    plan = _plan(qs["emb_hard_negatives"](spark, SF))
    assert "CartesianProduct" not in plan and "BroadcastNestedLoopJoin" not in plan
    assert "Window" in plan


def test_pivot_is_single_aggregate(spark, qs):
    """Pinned-values pivot must stay one hash-agg pass — no per-column
    scan, no expand-join."""
    plan = _plan(qs["corpus_lang_pivot"](spark, SF))
    assert plan.count("Scan parquet") <= 1, plan[:2000]
    assert "BroadcastNestedLoopJoin" not in plan


def test_trending_counts_then_bounded_rank(spark, qs):
    plan = _plan(qs["trending_events"](spark, SF))
    assert "Window" in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_salted_join_replicates_dim_no_nested_loop(spark, qs):
    """The salted join must stay a hash equi-join on (key, salt) — the
    dim explode must not degrade it to a nested loop."""
    plan = _plan(qs["skew_salted_join"](spark, SF))
    assert "BroadcastNestedLoopJoin" not in plan and "CartesianProduct" not in plan


def test_train_val_split_single_agg(spark, qs):
    """md5-bucket assignment is map-only; the rollup is the only
    aggregate — one scan, no joins."""
    plan = _plan(qs["corpus_train_val_split"](spark, SF))
    assert "Join" not in plan, plan[:2000]
    assert plan.count("Scan parquet") <= 1


def test_linear_score_broadcasts_weight_table(spark, qs):
    """The 4096-row model side must broadcast onto the exploded feature
    stream — a shuffled weight join would re-key the whole corpus on
    bucket."""
    plan = _plan(qs["quality_linear_score"](spark, SF))
    assert "BroadcastHashJoin" in plan, plan[:1500]
    assert "BroadcastNestedLoopJoin" not in plan


def test_shard_manifest_windows_are_bucketed(spark, qs):
    """Two-level prefix sum: the corpus-wide window must be PARTITIONED
    (per-bucket); only the bucket-totals window (bucket-count-sized
    input) may be global. No join other than the broadcast offsets."""
    plan = _plan(qs["shard_manifest"](spark, SF))
    assert "BroadcastHashJoin" in plan, plan[:1500]
    assert "BroadcastNestedLoopJoin" not in plan
    # both windows present; the per-doc one keys on bucket
    assert plan.count("Window") >= 2, plan[:1500]


def test_containment_no_nested_loop(spark, qs):
    """The containment pair join is an equi-join on the shingle key —
    never a cartesian pair scan."""
    plan = _plan(qs["dedup_containment"](spark, SF))
    assert "BroadcastNestedLoopJoin" not in plan, plan[:1500]
    assert "CartesianProduct" not in plan


def test_semdedup_groups_by_cell_no_pair_scan(spark, qs):
    """SemDeDup's whole point: the O(n²) mass lives inside the per-cell
    Arrow kernel (FlatMapGroupsInPandas keyed on cell) — never a pair
    join or cartesian scan in the Catalyst plan."""
    plan = _plan(qs["dedup_semdedup"](spark, SF))
    assert "FlatMapGroupsInPandas" in plan, plan[:1500]
    assert "CartesianProduct" not in plan, plan[:1500]
    assert "BroadcastNestedLoopJoin" not in plan, plan[:1500]


def test_modularity_equi_joins_only(spark, qs):
    """Label-map joins and degree aggs are all equi-joins — a nested
    loop would mean the community filter degenerated."""
    plan = _plan(qs["graph_modularity"](spark, SF))
    assert "BroadcastNestedLoopJoin" not in plan, plan[:1500]
    assert "CartesianProduct" not in plan, plan[:1500]


def test_fuzzy_er_blocks_on_token_and_broadcasts_support(spark, qs):
    """Candidates come from the token equi-join (never an all-pairs
    name scan); the dictionary support joins broadcast."""
    plan = _plan(qs["er_fuzzy_name_pairs"](spark, SF))
    assert "BroadcastHashJoin" in plan, plan[:1500]
    assert "CartesianProduct" not in plan, plan[:1500]
    assert "BroadcastNestedLoopJoin" not in plan, plan[:1500]


def test_kn_model_join_broadcasts(spark, qs):
    """The KN model join onto the bigram stream must be a broadcast
    hash join; only the 1-row bigram-type-count scalar may ride the
    nested-loop path (the established scalar-crossJoin idiom)."""
    plan = _plan(qs["text_kn_bigram_logprob"](spark, SF))
    assert "BroadcastHashJoin" in plan, plan[:1500]


# Queries with a DOCUMENTED corpus-ordering window and a standing waiver:
# pack_sequences is the spec twin of the pressure-tested sharded variant
# (functions/packing.py module docstring), corpus_quantile_summary's flat
# cumsum is the oracle-side exact-rank error report the GK sketch exists
# to avoid (functions/sketches.py), and o1's window input is one
# customer's orders (request-bounded). Everything else must either
# partition its windows or feed them from an Aggregate / WindowGroupLimit
# / Limit (bounded input). VERDICT r9 item 5.
_GLOBAL_WINDOW_ALLOWLIST = {
    "pack_sequences",
    "corpus_quantile_summary",
    "o1_commit_list_ordering",
}


_BOUNDED_NODES = {"Aggregate", "WindowGroupLimit", "GlobalLimit", "LocalLimit"}
_SMALL_LEAVES = {"LocalRelation", "Range", "OneRowRelation"}


def _walk_plan(node):
    yield node
    ch = node.children()
    for i in range(ch.size()):
        yield from _walk_plan(ch.apply(i))


def _bounded(node) -> bool:
    """Row count flowing OUT of `node` is small at any corpus scale —
    computed RECURSIVELY along the dataflow, not by scanning the subtree
    for an Aggregate anywhere. The flat scan the r10 tripwire first
    shipped had a hole: a 1-row max() Aggregate on the BROADCAST side of
    a cross join made the whole subtree 'contain an Aggregate' while the
    streamed side still flowed corpus-proportional rows into the Window
    above (shard_zonemap_prune's NTILE(64) hid exactly there). Rules: an
    agg/limit bounds its output; a join's output is bounded only if BOTH
    inputs are (1-row x corpus = corpus); literal leaves (LocalRelation /
    Range / OneRowRelation) are bounded; scans and cached relations are
    not; unary nodes pass through; Union needs every child bounded."""
    cls = node.getClass().getSimpleName()
    if cls in _BOUNDED_NODES or cls in _SMALL_LEAVES:
        return True
    ch = node.children()
    if ch.size() == 0:
        return False
    return all(_bounded(ch.apply(i)) for i in range(ch.size()))


def _unbounded_global_windows(df) -> int:
    """Count Window nodes with an EMPTY partitionSpec over unbounded
    input — i.e. windows that move corpus-proportional data to one
    partition (the WindowExec 'No Partition Defined' scale-killer)."""
    plan = df._jdf.queryExecution().optimizedPlan()
    bad = 0
    for n in _walk_plan(plan):
        if n.getClass().getSimpleName() == "Window" and n.partitionSpec().isEmpty():
            if not _bounded(n.children().apply(0)):
                bad += 1
    return bad


def test_no_unpartitioned_window_over_corpus_input(spark, qs):
    """Tripwire (VERDICT r9 item 5): no registered query may plan an
    unpartitioned Window over non-aggregated, non-limited input — that
    is a single-partition sort of corpus-proportional data at 100 TB.
    Global cumsums must use the two-level decomposition
    (functions/packing.py:two_level_prefix_sum); global quantile cuts
    must use broadcast boundaries or the exact-rank prefix count
    (events_rfm). The allowlist holds exactly the three documented
    waivers and may not rot: each allowlisted query must still carry
    its global window, so a future fix removes it from the list."""
    offenders, waived = [], []
    for name, fn in qs.items():
        try:
            bad = _unbounded_global_windows(fn(spark, SF))
        except Exception as ex:  # build failure is its own finding
            pytest.fail(f"{name}: plan build failed: {ex}")
        if bad and name not in _GLOBAL_WINDOW_ALLOWLIST:
            offenders.append(name)
        if bad and name in _GLOBAL_WINDOW_ALLOWLIST:
            waived.append(name)
    assert not offenders, (
        "unpartitioned corpus-scale Window in: "
        + ", ".join(sorted(offenders))
    )
    assert sorted(waived) == sorted(_GLOBAL_WINDOW_ALLOWLIST), (
        "allowlist rot — these no longer plan a global window and must "
        f"leave the list: {sorted(set(_GLOBAL_WINDOW_ALLOWLIST) - set(waived))}"
    )


def test_no_corpus_cartesian_join(spark, qs):
    """Tripwire (r10 sweep, tools/plan_sweep.py): no registered query may
    plan a condition-free Join whose BOTH inputs are unbounded and
    neither side is explicitly broadcast-hinted. A shuffled corpus x
    corpus cartesian is quadratic at any scale; a broadcast-hinted
    cross of a literal dimension (the 7-lag / 3-threshold expand
    pattern) is a deliberate map-side replicate and is waived by the
    hint itself — the author asserted smallness where the optimizer
    cannot see it (e.g. a persisted aggregate behind an
    InMemoryRelation leaf)."""
    offenders = []
    for name, fn in qs.items():
        plan = fn(spark, SF)._jdf.queryExecution().optimizedPlan()
        for n in _walk_plan(plan):
            if (
                n.getClass().getSimpleName() == "Join"
                and n.condition().isEmpty()
                and "broadcast" not in n.hint().toString().lower()
            ):
                ch = n.children()
                if not _bounded(ch.apply(0)) and not _bounded(ch.apply(1)):
                    offenders.append(name)
                    break
    assert not offenders, (
        "unhinted corpus-scale cartesian join in: " + ", ".join(sorted(offenders))
    )


def test_no_row_at_a_time_python_udf(spark, qs):
    """Tripwire (r10 sweep): every Python-side computation in a
    registered plan must cross the JVM boundary Arrow-batched
    (ArrowEvalPython / MapInPandas / FlatMapGroupsInPandas), never as a
    row-pickling BatchEvalPython — the 10-100x slow path. Today the
    registry plans ZERO BatchEvalPython nodes; this pins that at zero
    with no allowlist."""
    offenders = []
    for name, fn in qs.items():
        plan = fn(spark, SF)._jdf.queryExecution().optimizedPlan()
        if any(
            n.getClass().getSimpleName() == "BatchEvalPython"
            for n in _walk_plan(plan)
        ):
            offenders.append(name)
    assert not offenders, (
        "row-at-a-time Python UDF (BatchEvalPython) in: "
        + ", ".join(sorted(offenders))
    )


def test_shuffle_count_never_regresses():
    """Fleet-wide shuffle-budget gate (r10): every registered query's
    static shuffle-exchange count (hash/range/single-partition Exchange
    in the pre-execution physical plan; BroadcastExchange excluded) must
    EQUAL the committed cold-session census
    (tests/plan_shuffle_baseline.json, generated by
    `python tools/plan_sweep.py --exchanges`, deterministic across fresh
    sessions — verified by back-to-back runs). The census re-runs in its
    own subprocess because the count is only deterministic COLD: in the
    shared suite session an earlier test's persisted table can flip a
    size-estimated BroadcastHashJoin into a SortMergeJoin and add
    exchanges that say nothing about the plan as written. Equality, not
    <=, so silent improvements also force a baseline refresh (keeping
    the census honest). After a deliberate plan change, regenerate the
    baseline and justify the movers in the commit."""
    import json
    import os
    import subprocess
    import sys

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    out = subprocess.run(
        [sys.executable, os.path.join(repo, "tools", "plan_sweep.py"),
         "--exchanges"],
        capture_output=True, text=True, cwd=repo, timeout=1200,
        env={**os.environ, "SPARK_GRAFT_SF_DIR": SF},
    )
    assert out.returncode == 0, out.stderr[-2000:]
    got = json.loads(out.stdout)
    with open(os.path.join(repo, "tests", "plan_shuffle_baseline.json")) as f:
        baseline = json.load(f)
    assert set(baseline) == set(got), (
        "baseline rot — regenerate tools/plan_sweep.py --exchanges: "
        f"only-in-baseline={sorted(set(baseline) - set(got))[:5]} "
        f"new={sorted(set(got) - set(baseline))[:5]}"
    )
    moved = {k: (baseline[k], got[k]) for k in got if got[k] != baseline[k]}
    assert not moved, f"shuffle-count moved (baseline, got): {moved}"
