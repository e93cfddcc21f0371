"""S4: git history → commit chain and PARENT/CHILD edges.

Reference (api/git_utils/git_utils.py): pygit2 walks commits backward from
HEAD (S4) to build the commit graph.

Spark design: `git log` runs in the Python process that holds the clone,
as the reference's subprocess steps do, and lands in DataFrames
immediately; everything downstream — the commit chain table and the
PARENT/CHILD edges — is DataFrame work. At fleet scale (thousands of
repos) the subprocess step shards per-repo across executors via
mapInPandas over a repo list; the per-repo logic is identical.
"""

from __future__ import annotations

import subprocess

from pyspark.sql import DataFrame, SparkSession


def _git(repo: str, *args: str) -> str:
    return subprocess.run(
        ["git", "-C", repo, *args], capture_output=True, text=True, check=True
    ).stdout


def commits_df(spark: SparkSession, repo: str) -> DataFrame:
    """Commit nodes (hash, author, message, date:int epoch) — reference
    git_graph.py:45-57; ordered chain follows `date` (O1). `ord` is the
    topological `git log --reverse` position — it breaks date ties between
    commits created in the same second."""
    out = _git(repo, "log", "--reverse", "--format=%H%x1f%an%x1f%s%x1f%ct")
    rows = [
        tuple(line.split("\x1f")) for line in out.splitlines() if line.strip()
    ]
    rows = [(h, a, m, int(d), i) for i, (h, a, m, d) in enumerate(rows)]
    return spark.createDataFrame(
        rows, "hash string, author string, message string, date long, ord int"
    )


def commit_edges_df(spark: SparkSession, repo: str) -> DataFrame:
    """PARENT (child→parent) and CHILD (parent→child) edges
    (reference git_graph.py:99-141)."""
    out = _git(repo, "log", "--reverse", "--format=%H %P")
    rows = []
    for line in out.splitlines():
        parts = line.split()
        child, parents = parts[0], parts[1:]
        for p in parents:
            rows.append((child, p, "PARENT"))
            rows.append((p, child, "CHILD"))
    return spark.createDataFrame(rows, "src_hash string, dst_hash string, type string")
