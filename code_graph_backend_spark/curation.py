"""Shared curation gates, persisted once per (session, sf_dir).

The curation pipelines (v1/v2/v3) and the gate-ablation report build
the same gates with identical code and literals, so each gate is
persisted once through memo.cached and every consumer reads that table.

The near-dup CLUSTERING (3-gram Jaccard pairs → connected components →
canonical flags) feeds four consumers: the three pipeline variants'
canonical gate, the gate-ablation report, and the cluster-size
histogram. The full assignment is what gets persisted, and every
consumer derives from it (a filter over a persisted table is free).
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .memo import cached


def _gate(spark: SparkSession, name: str, sf_dir: str,
          build: Callable[[], DataFrame]) -> DataFrame:
    return cached(spark, (name, sf_dir), lambda: build().persist())


def curation_clusters(spark: SparkSession, sf_dir: str, docs: DataFrame) -> DataFrame:
    """Memoized full near-dup assignment (doc_id, cluster_id,
    is_canonical) at threshold 0.5 — the pipelines' clustering."""
    from .functions.dedup import ngram_jaccard_pairs
    from .operators.components import dedup_clusters

    return _gate(
        spark, "curation_clusters", sf_dir,
        lambda: dedup_clusters(
            spark, docs, ngram_jaccard_pairs(docs, threshold=0.5)
        ),
    )


def curation_canon(spark: SparkSession, sf_dir: str, docs: DataFrame) -> DataFrame:
    """Canonical-survivor doc_ids — a filter over the memoized
    assignment."""
    return (
        curation_clusters(spark, sf_dir, docs)
        .filter(F.col("is_canonical"))
        .select("doc_id")
    )


def curation_quality(spark: SparkSession, sf_dir: str, docs: DataFrame) -> DataFrame:
    """Repetition/length quality gate: doc_ids with >= 30 tokens and a
    duplicated-bigram ratio <= 0.05."""
    from .functions.text import token_repetition

    return _gate(
        spark, "curation_quality", sf_dir,
        lambda: token_repetition(docs)
        .filter((F.col("n_tokens") >= 30) & (F.col("dup_bigram_ratio") <= 0.05))
        .select("doc_id"),
    )


def curation_boiler(spark: SparkSession, sf_dir: str, docs: DataFrame) -> DataFrame:
    """Boilerplate gate: doc_ids with at most half their 5-shingles
    boilerplate."""
    from .functions.boilerplate import boilerplate_stats

    return _gate(
        spark, "curation_boiler5", sf_dir,
        lambda: boilerplate_stats(docs, n=5)
        .filter(F.col("n_boiler") * 2 <= F.col("n_shingles"))
        .select("doc_id"),
    )


def curation_ntok(spark: SparkSession, sf_dir: str, docs: DataFrame) -> DataFrame:
    """(doc_id, n_tokens) per document."""
    from .functions.text import token_count

    return _gate(
        spark, "curation_ntok", sf_dir,
        lambda: docs.select(
            "doc_id", token_count("text").cast("long").alias("n_tokens")
        ),
    )


def curation_span(spark: SparkSession, sf_dir: str, docs: DataFrame) -> DataFrame:
    """Duplicated-span gate: doc_ids with at most half their tokens
    inside duplicated 13-gram spans."""
    from .functions.boilerplate import duplicated_spans

    ntok = curation_ntok(spark, sf_dir, docs)
    return _gate(
        spark, "curation_span13", sf_dir,
        lambda: ntok.join(
            duplicated_spans(docs, n=13)
            .groupBy("doc_id")
            .agg(F.sum("span_tokens").alias("covered")),
            "doc_id", "left",
        )
        .filter(F.coalesce("covered", F.lit(0)) * 2 <= F.col("n_tokens"))
        .select("doc_id"),
    )


def curation_contam(spark: SparkSession, sf_dir: str, docs: DataFrame) -> DataFrame:
    """doc_ids sharing a 13-gram with a benchmark probe (every 97th
    document)."""
    from .functions.sampling import contamination_ngram

    def build():
        probes = docs.filter(F.col("doc_id") % 97 == 0).select(
            F.col("doc_id").alias("probe_id"), F.col("text").alias("probe_text")
        )
        return contamination_ngram(docs, probes).select("doc_id").distinct()

    return _gate(spark, "curation_contam", sf_dir, build)
