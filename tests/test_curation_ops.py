"""Round-3 curation operators: PII redaction, token-repetition stats,
weighted data-mix sampling (functions/pii.py, text.py, sampling.py)."""

from __future__ import annotations

from pyspark.sql import functions as F

from code_graph_backend_spark.functions.pii import redact_pii
from code_graph_backend_spark.functions.sampling import weighted_sample
from code_graph_backend_spark.functions.text import token_repetition


def test_redact_pii_patterns(spark):
    docs = spark.createDataFrame(
        [
            (1, "mail a.b-c@corp.example.com now"),
            (2, "server 10.0.255.1 and 192.168.0.7 up"),
            (3, "call +44 555 123456 or +1 555 0199"),
            (4, "nothing sensitive here"),
            (5, "combo x@y.io at 8.8.8.8 +1 555 7777"),
        ],
        "doc_id long, text string",
    )
    rows = {r["doc_id"]: r for r in redact_pii(docs).collect()}
    assert rows[1]["clean_text"] == "mail <EMAIL> now"
    assert rows[1]["n_email"] == 1 and rows[1]["n_pii"] == 1
    assert rows[2]["clean_text"] == "server <IP> and <IP> up"
    assert rows[2]["n_ipv4"] == 2
    assert rows[3]["clean_text"] == "call <PHONE> or <PHONE>"
    assert rows[3]["n_phone"] == 2
    assert rows[4]["clean_text"] == "nothing sensitive here" and rows[4]["n_pii"] == 0
    assert rows[5]["clean_text"] == "combo <EMAIL> at <IP> <PHONE>"
    assert rows[5]["n_pii"] == 3


def test_token_repetition_stats(spark):
    docs = spark.createDataFrame(
        [
            (1, "a b c d"),          # all distinct, no dup bigrams
            (2, "x x x x"),          # one token repeated
            (3, "a b a b a b"),      # looping bigrams
            (4, ""),                 # empty
        ],
        "doc_id long, text string",
    )
    rows = {r["doc_id"]: r for r in token_repetition(docs).collect()}
    assert rows[1]["n_tokens"] == 4 and rows[1]["n_distinct"] == 4
    assert rows[1]["top_freq"] == 1 and rows[1]["dup_bigram_ratio"] == 0.0
    assert rows[2]["n_distinct"] == 1 and rows[2]["top_freq"] == 4
    # "x x" appears 3 times -> 1 distinct of 3 bigrams
    assert abs(rows[2]["dup_bigram_ratio"] - (1 - 1 / 3)) < 1e-6
    # "a b","b a" alternate: 2 distinct of 5
    assert abs(rows[3]["dup_bigram_ratio"] - (1 - 2 / 5)) < 1e-6
    # tokenization is pinned to string_split(text, ' ') (ADVICE r3): an
    # empty text yields one empty token, exactly as the oracle counts it
    assert rows[4]["n_tokens"] == 1 and rows[4]["n_distinct"] == 1
    assert rows[4]["dup_bigram_ratio"] == 0.0


def test_weighted_sample_quotas_and_determinism(spark):
    df = spark.range(0, 300).select(
        F.col("id").alias("doc_id"),
        F.concat(F.lit("s"), (F.col("id") % 3).cast("string")).alias("source"),
    )
    weights = {"s0": 1.0, "s1": 0.5}
    out = weighted_sample(df, "source", weights, "doc_id", default_weight=0.1)
    per = {r["source"]: r["n"] for r in
           out.groupBy("source").agg(F.count("*").alias("n")).collect()}
    assert per["s0"] == 100          # keep all
    assert per["s1"] == 50           # half
    assert per["s2"] == 10           # default 10%
    # deterministic: same input -> identical sample
    ids1 = sorted(r["doc_id"] for r in out.collect())
    ids2 = sorted(r["doc_id"] for r in
                  weighted_sample(df, "source", weights, "doc_id", 0.1).collect())
    assert ids1 == ids2


def test_extract_frames_fanout_and_stub(spark):
    from code_graph_backend_spark.functions import multimodal

    media = multimodal.synthetic_media(spark, 9)  # ids 2,5,8 are video
    out = multimodal.extract_frames(media, every_n=30, fake=True).collect()
    by_media = {}
    for r in out:
        by_media.setdefault(r["media_id"], []).append(r["frame_idx"])
    # videos have n_frames = 30+i -> 1-2 sampled frames at stride 30
    assert set(by_media) == {"m0002", "m0005", "m0008"}
    assert by_media["m0008"] == [0, 30]  # n_frames=38 -> idx 0 and 30
    # deterministic per-frame hash
    import hashlib
    r0 = next(r for r in out if r["media_id"] == "m0002" and r["frame_idx"] == 0)
    payload = bytes([2]) * 102
    assert r0["frame_hash"] == hashlib.md5(payload + b":0").hexdigest()
    # real decode path stays honestly stubbed
    import pytest as _pytest
    with _pytest.raises(NotImplementedError):
        multimodal.extract_frames(media, fake=False)


# -- r4: training-sequence assembly (functions/packing.py) ------------------


def test_pack_sequences_budget_and_offsets(spark):
    from code_graph_backend_spark.functions.packing import pack_sequences

    docs = spark.createDataFrame(
        [(i, " ".join(["t"] * n)) for i, n in
         enumerate([3, 4, 5, 10, 2, 9, 1])],
        "doc_id long, text string",
    )
    rows = sorted(pack_sequences(docs, budget=8).collect(),
                  key=lambda r: r["doc_id"])
    # concat-and-chunk: token stream [3,4,5,10,2,9,1], cumulative starts
    # [0,3,7,12,22,24,33] -> window = start // 8, offset = start % 8
    starts = [0, 3, 7, 12, 22, 24, 33]
    assert [r["seq_id"] for r in rows] == [s // 8 for s in starts]
    assert [r["tok_offset"] for r in rows] == [s % 8 for s in starts]
    # zero waste: every window boundary is inside or adjacent to a doc
    # (the stream is contiguous by construction)
    assert [r["n_tokens"] for r in rows] == [3, 4, 5, 10, 2, 9, 1]
    # determinism
    again = sorted(pack_sequences(docs, budget=8).collect(),
                   key=lambda r: r["doc_id"])
    assert [tuple(r) for r in rows] == [tuple(r) for r in again]


def test_temperature_resample_flattens_and_keeps_min_group(spark):
    from code_graph_backend_spark.functions.packing import temperature_resample

    rows = [(i, "big") for i in range(900)] + \
           [(1000 + i, "small") for i in range(100)]
    docs = spark.createDataFrame(rows, "doc_id long, lang string")
    kept = temperature_resample(docs, alpha=0.5, group_col="lang")
    per = {r["lang"]: r["n"] for r in
           kept.groupBy("lang").agg(F.count("*").alias("n")).collect()}
    assert per["small"] == 100                    # smallest group kept whole
    assert per["big"] == 300                      # ceil(sqrt(900*100))
    # determinism
    again = {r["lang"]: r["n"] for r in
             temperature_resample(docs, alpha=0.5, group_col="lang")
             .groupBy("lang").agg(F.count("*").alias("n")).collect()}
    assert per == again


def test_quality_percentile_keeps_top_half_per_group(spark):
    from code_graph_backend_spark.functions.packing import (
        quality_percentile_filter,
    )

    rows = [(i, "a", float(i)) for i in range(10)] + \
           [(100 + i, "b", float(i % 3)) for i in range(6)]
    docs = spark.createDataFrame(rows, "doc_id long, source string, score double")
    kept = quality_percentile_filter(docs, keep_top=0.5)
    by_src = {}
    for r in kept.collect():
        by_src.setdefault(r["source"], []).append(r)
    # group a: strictly decreasing ranks, top half = scores 9..5
    assert sorted(x["score"] for x in by_src["a"]) == [5.0, 6.0, 7.0, 8.0, 9.0]
    # every kept score >= every dropped score within the group
    dropped_a = {float(i) for i in range(10)} - {x["score"] for x in by_src["a"]}
    assert all(k["score"] >= max(dropped_a) - 4 for k in by_src["a"])


def test_bpe_pair_stats_merge_semantics(spark):
    from code_graph_backend_spark.functions.text import bpe_pair_stats

    docs = spark.createDataFrame(
        [(1, "low low lower"), (2, "lowest low")],
        "doc_id long, text string",
    )
    rows = {r["pair"]: r["n_pair"] for r in bpe_pair_stats(docs, top=50).collect()}
    # "lo" appears once per word occurrence: low x3, lower, lowest -> 5
    assert rows["lo"] == 5 and rows["ow"] == 5
    # "we" only from lower/lowest
    assert rows["we"] == 2
    # argmax pair is deterministic (ties lexicographic)
    top = bpe_pair_stats(docs, top=1).collect()[0]
    assert top["pair"] in ("lo", "ow") and top["n_pair"] == 5


def test_label_centroids_exact(spark):
    from code_graph_backend_spark.functions.similarity import label_centroids

    emb = spark.createDataFrame(
        [(1, [1.0, 2.0], 0), (2, [3.0, 4.0], 0), (3, [10.0, 20.0], 1)],
        "vec_id long, embedding array<float>, label int",
    )
    rows = {(r["label"], r["dim"]): r["c_val"] for r in label_centroids(emb).collect()}
    assert rows[(0, 0)] == 2.0 and rows[(0, 1)] == 3.0
    assert rows[(1, 0)] == 10.0 and rows[(1, 1)] == 20.0


def test_two_level_prefix_sum_edges(spark):
    """Edge shapes for the global-cumsum kernel: empty input, one
    bucket, all rows tied on the leading key (order falls to the tie
    column), and negative bucket keys (the score-desc alignment trick)."""
    from pyspark.sql.window import Window

    from code_graph_backend_spark.functions.packing import two_level_prefix_sum

    empty = spark.range(0).selectExpr("id", "id as w", "id as b")
    assert two_level_prefix_sum(
        empty, "w", "b", [F.col("id").asc()], out_col="c"
    ).count() == 0

    # all rows in ONE bucket + ties on the leading key
    d = spark.createDataFrame(
        [(i, 5, (i * 3) % 7 + 1) for i in range(40)], "id long, s long, w long"
    ).withColumn("b", F.expr("-(s DIV 64)"))
    got = two_level_prefix_sum(
        d, "w", "b", [F.col("s").desc(), F.col("id").asc()], out_col="c"
    )
    flat = d.withColumn(
        "c",
        F.sum("w").over(
            Window.orderBy(F.col("s").desc(), F.col("id").asc()).rowsBetween(
                Window.unboundedPreceding, 0
            )
        ).cast("long"),
    )
    assert got.select("id", "c").exceptAll(flat.select("id", "c")).count() == 0
    assert flat.select("id", "c").exceptAll(got.select("id", "c")).count() == 0


def test_two_level_prefix_max_carry_in(spark):
    """Running max must carry across buckets: a huge early value
    dominates every later bucket; the first bucket has no carry-in
    (coalesce path)."""
    from pyspark.sql.window import Window

    from code_graph_backend_spark.functions.packing import two_level_prefix_max

    d = spark.createDataFrame(
        [(0, 100), (1, 5), (17, 3), (33, 999), (49, 2), (65, 7)],
        "id long, v long",
    ).withColumn("b", F.expr("id DIV 16"))
    got = two_level_prefix_max(
        d, "v", "b", [F.col("id").asc()], out_col="m"
    ).orderBy("id")
    flat = d.withColumn(
        "m",
        F.max("v").over(
            Window.orderBy("id").rowsBetween(Window.unboundedPreceding, 0)
        ).cast("long"),
    ).orderBy("id")
    assert [r["m"] for r in got.collect()] == [r["m"] for r in flat.collect()]
    assert [r["m"] for r in got.collect()] == [100, 100, 100, 999, 999, 999]


def test_two_level_prefix_null_bucket_is_kept_and_first(spark):
    """A nullable bucket: NULL-bucket rows survive the offsets join and
    sit first in the global order, as a flat ascending window puts them
    — for both the running sum and the running max."""
    from pyspark.sql.window import Window

    from code_graph_backend_spark.functions.packing import (
        two_level_prefix_max,
        two_level_prefix_sum,
    )

    d = spark.createDataFrame(
        [(i, None if i % 5 == 0 else i % 23, (i * 7) % 11 + 1) for i in range(60)],
        "id long, s long, v long",
    ).withColumn("b", F.expr("s DIV 8"))
    order = [F.col("s").asc_nulls_first(), F.col("id").asc()]
    flat_w = Window.orderBy(*order).rowsBetween(Window.unboundedPreceding, 0)
    flat = d.select(
        "id",
        F.sum("v").over(flat_w).cast("long").alias("c"),
        F.max("v").over(flat_w).cast("long").alias("m"),
    )
    got_c = two_level_prefix_sum(d, "v", "b", order, out_col="c").select("id", "c")
    got_m = two_level_prefix_max(d, "v", "b", order, out_col="m").select("id", "m")
    assert got_c.count() == got_m.count() == 60
    want_c = sorted((r["id"], r["c"]) for r in flat.collect())
    want_m = sorted((r["id"], r["m"]) for r in flat.collect())
    assert sorted(map(tuple, got_c.collect())) == want_c
    assert sorted(map(tuple, got_m.collect())) == want_m


def test_exact_ntile_matches_flat_ntile_including_remainders(spark):
    """The closed-form NTILE law at n % t != 0 (larger groups first),
    with ties broken by the tie column, for ascending AND descending
    metrics — bit-equal to F.ntile on the flat window."""
    from pyspark.sql.window import Window

    from code_graph_backend_spark.functions.packing import exact_ntile

    for n, t in [(7, 5), (23, 5), (4, 5), (10, 3)]:
        d = spark.createDataFrame(
            [(i, (i * 5) % 4) for i in range(n)], "id long, v long"
        )
        base = d.crossJoin(
            F.broadcast(d.agg(F.count("*").cast("long").alias("_n")))
        )
        for desc in (False, True):
            got = exact_ntile(
                base, "v", "_n", "id", "tile",
                n_tiles=t, descending=desc, width=2,
            ).select("id", "tile")
            order = [F.col("v").desc() if desc else F.col("v").asc(),
                     F.col("id").asc()]
            flat = d.withColumn(
                "tile", F.ntile(t).over(Window.orderBy(*order)).cast("long")
            ).select("id", "tile")
            assert got.exceptAll(flat).count() == 0, (n, t, desc)
            assert flat.exceptAll(got).count() == 0, (n, t, desc)
