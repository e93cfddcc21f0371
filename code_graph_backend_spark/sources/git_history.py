"""The commit graph of a repository, and switch paths derived from commit
dates.

Reference (api/git_utils/git_utils.py:73-258 build_commit_graph): the
commits and their PARENT/CHILD edges become a `{repo}_git` graph beside
the code graph. The reference also walks history hop by hop, re-analysing
each hop's changed files against the checked-out tree and logging the
mutations on the commit edges for switch_commit (git_utils.py:260-333) to
replay. Here `CodeGraphService.switch_commit` analyses the target commit's
whole tree instead, through the same `analyze_folder` as ingest, so no
transition log is built or stored: name resolution is whole-graph, and a
hop analysed apart from the rest of the tree resolves differently.

`derive_commit_path` keeps the reference's date-ordered hop derivation
for the `OpLog` replay of the m8 registry query.
"""

from __future__ import annotations

from pyspark.sql import SparkSession
from pyspark.sql import functions as F

from ..graph.model import PropertyGraph
from .git_ingest import commit_edges_df, commits_df


def build_commit_graph(
    spark: SparkSession, repo_path: str, name: str
) -> PropertyGraph:
    """The commit graph `{name}_git`: one Commit node per commit and the
    PARENT/CHILD edges between them (reference git_utils.py:73-258)."""
    cdf = commits_df(spark, repo_path)
    # commit nodes: props carry date + seq (log order) so path derivation
    # can break same-second date ties deterministically
    commit_nodes = cdf.select(
        F.xxhash64("hash").alias("id"),
        F.array(F.lit("Commit")).alias("labels"),
        F.col("hash").alias("name"),
        F.lit("").alias("path"),
        F.lit(None).cast("string").alias("ext"),
        F.lit(None).cast("int").alias("src_start"),
        F.lit(None).cast("int").alias("src_end"),
        F.col("message").alias("doc"),
        F.map_from_arrays(
            F.array(F.lit("author"), F.lit("date"), F.lit("seq")),
            F.array(
                F.col("author"),
                F.col("date").cast("string"),
                F.col("ord").cast("string"),
            ),
        ).alias("props"),
        F.lit(None).cast("double").alias("coverage"),
    )
    edges = commit_edges_df(spark, repo_path)
    commit_edges = edges.select(
        F.xxhash64("src_hash").alias("src"),
        F.xxhash64("dst_hash").alias("dst"),
        "type",
        F.lit(None).cast("map<string,string>").alias("props"),
    )
    return PropertyGraph(spark, f"{name}_git", commit_nodes, commit_edges)


def derive_commit_path(
    git_graph: PropertyGraph, current: str, target: str
) -> list[str]:
    """Ordered hash path current → target, direction chosen by commit DATE
    (reference git_utils.py:309-320: backward iff current.date > target.date;
    the chain itself is date-ordered, git_graph.py:64). Commits sort as
    `list_commits` gives them: a date that is not a number reads as NULL
    and sorts first; ties break on `seq`, then on the hash."""
    rows = (
        git_graph.nodes.filter(F.array_contains("labels", "Commit"))
        .select(
            "name",
            F.col("props").getItem("date").try_cast("long").alias("date"),
            F.coalesce(F.col("props").getItem("seq").try_cast("long"), F.lit(0)).alias("seq"),
        )
        .collect()
    )
    by_hash = {r["name"]: (r["date"] is not None, r["date"] or 0, r["seq"], r["name"])
               for r in rows}
    if current not in by_hash or target not in by_hash:
        raise ValueError("Commits not found")
    ordered = sorted(by_hash, key=by_hash.get)
    ci, ti = ordered.index(current), ordered.index(target)
    if ci == ti:
        return [current]
    if ti > ci:
        return ordered[ci : ti + 1]
    # backward: slice ascending then reverse (a `: ti-1 : -1` slice would
    # read "last element" when ti == 0)
    return ordered[ti : ci + 1][::-1]
