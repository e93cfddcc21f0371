"""Registry batch 4 (round 2): Java/C# analyzer coverage and other
round-2 operators, as (query, oracle) pairs.

The analyzer query runs the REAL distributed pipeline (binary rows →
mapInPandas parse → name-resolution joins) over an embedded two-language
fixture; its oracle is the golden constant inventory (a VALUES table —
DuckDB needs no input tables), which is the same shape of assertion the
reference's own analyzer tests make (tests/test_csharp_analyzer.py:30-69).
"""

from __future__ import annotations

from pyspark.sql import functions as F

from .graph.tpch import SQL_EDGES, SQL_NODES
from .registry import register

CSHARP_FIXTURE = """\
using System;

namespace TestProject
{
    public interface ILogger
    {
        void Log(string message);
    }

    public class ConsoleLogger : ILogger
    {
        public void Log(string message)
        {
            Console.WriteLine(message);
        }
    }

    /// <summary>
    /// Represents a task to be executed.
    /// </summary>
    public class Task
    {
        public string Name { get; set; }
        private ILogger _logger;

        public Task(string name, ILogger logger)
        {
            Name = name;
            _logger = logger;
            _logger.Log("Task created: " + name);
        }

        public bool Execute()
        {
            _logger.Log("Executing: " + Name);
            return true;
        }

        public void Abort(float delay)
        {
            _logger.Log("Aborting: " + Name);
            Execute();
        }
    }
}
"""

JAVA_FIXTURE = """\
/** Greets people. */
public class Greeter extends Base implements Hello, Goodbye {
    private String name;

    /** ctor doc */
    public Greeter(String name) {
        this.name = name;
        register(name);
    }

    public String greet(int times) {
        register(name);
        return name;
    }
}

interface Hello extends Salutation {
    void sayHello(String who);
}

interface Goodbye {
    void sayGoodbye(String who);
}

class Base {
    public void register(String name) {
    }
}

enum Color { RED, GREEN }
"""

_S2_GOLDEN = [
    # (label, name, path, src_start, defines, calls, extends, implements, returns, parameters)
    ("Class", "Greeter", "Greeter.java", 1, 2, 0, 1, 2, 0, 0),
    ("Constructor", "Greeter", "Greeter.java", 5, 0, 1, 0, 0, 0, 0),
    ("Method", "greet", "Greeter.java", 10, 0, 1, 0, 0, 0, 0),
    ("Interface", "Hello", "Greeter.java", 16, 1, 0, 0, 0, 0, 0),
    ("Method", "sayHello", "Greeter.java", 17, 0, 0, 0, 0, 0, 0),
    ("Interface", "Goodbye", "Greeter.java", 20, 1, 0, 0, 0, 0, 0),
    ("Method", "sayGoodbye", "Greeter.java", 21, 0, 0, 0, 0, 0, 0),
    ("Class", "Base", "Greeter.java", 24, 1, 0, 0, 0, 0, 0),
    ("Method", "register", "Greeter.java", 25, 0, 0, 0, 0, 0, 0),
    ("Enum", "Color", "Greeter.java", 29, 0, 0, 0, 0, 0, 0),
    ("Interface", "ILogger", "Program.cs", 4, 1, 0, 0, 0, 0, 0),
    ("Method", "Log", "Program.cs", 6, 0, 0, 0, 0, 0, 0),
    ("Class", "ConsoleLogger", "Program.cs", 9, 1, 0, 0, 1, 0, 0),
    ("Method", "Log", "Program.cs", 11, 0, 0, 0, 0, 0, 0),
    ("Class", "Task", "Program.cs", 20, 3, 0, 0, 0, 0, 0),
    ("Constructor", "Task", "Program.cs", 25, 0, 1, 0, 0, 0, 1),
    ("Method", "Execute", "Program.cs", 32, 0, 1, 0, 0, 0, 0),
    ("Method", "Abort", "Program.cs", 38, 0, 2, 0, 0, 0, 0),
]

_S2_ORACLE = "SELECT * FROM (VALUES " + ", ".join(
    f"('{l}', '{n}', '{p}', {s}, {d}, {c}, {e}, {i}, {r}, {pa})"
    for (l, n, p, s, d, c, e, i, r, pa) in _S2_GOLDEN
) + (
    ") t(label, name, path, src_start, defines_out, calls_out, "
    "extends_out, implements_out, returns_out, parameters_out)"
)


@register("s2_cfamily_analyzer", _S2_ORACLE)
def s2_cfamily_analyzer(spark, sf_dir):
    """S2 (Java/C# parse) + J13 (typed symbol resolution): full pipeline
    over the embedded fixture, summarized as per-entity out-edge counts
    (reference java/analyzer.py:41-107, csharp/analyzer.py:33-110)."""
    from .sources.python_analyzer import graph_from_parsed, parse_files

    files = spark.createDataFrame(
        [("Program.cs", CSHARP_FIXTURE.encode()),
         ("Greeter.java", JAVA_FIXTURE.encode())],
        "path string, content binary",
    )
    nodes, edges = graph_from_parsed(spark, parse_files(files))
    ent = nodes.filter(F.element_at("labels", 1) != "File")
    out = ent.select(
        F.element_at("labels", 1).alias("label"),
        "name", "path",
        F.col("src_start").cast("int").alias("src_start"),
        F.col("id").alias("_id"),
    )
    types = ["DEFINES", "CALLS", "EXTENDS", "IMPLEMENTS", "RETURNS", "PARAMETERS"]
    # one conditional-count aggregate (a single shuffle; a pivot plans two)
    cnt = edges.groupBy("src").agg(
        *[F.count(F.when(F.col("type") == t, 1)).alias(f"{t.lower()}_out") for t in types]
    )
    out = out.join(cnt, out["_id"] == cnt["src"], "left_outer").drop("src")
    return out.select(
        "label", "name", "path", "src_start",
        *[
            F.coalesce(F.col(f"{t.lower()}_out"), F.lit(0)).cast("int").alias(f"{t.lower()}_out")
            for t in ["DEFINES", "CALLS", "EXTENDS", "IMPLEMENTS", "RETURNS", "PARAMETERS"]
        ],
    )


# ---------------------------------------------------------------------------
# M8 — switch_commit with DERIVED direction + path (reference
# git_utils.py:260-333): the hop sequence comes from commit dates on the
# stored chain, not from the caller; replay then applies each hop's logged
# ops in order. A wrong derivation (direction, endpoints, hop order) yields
# different node/edge counts and fails the oracle.
# ---------------------------------------------------------------------------

@register(
    "m8_switch_commit_derived",
    f"""
    WITH nodes AS ({SQL_NODES}), edges AS ({SQL_EDGES}),
    after_nodes AS (
        SELECT id, label FROM nodes WHERE id NOT BETWEEN 40000010 AND 40000024
        UNION ALL SELECT 72000000 + i, 'Tag' FROM generate_series(0, 3) t(i)
        UNION ALL SELECT 72000100 + i, 'Tag' FROM generate_series(0, 1) t(i)
    ),
    after_edges AS (
        SELECT * FROM edges
        WHERE NOT (src BETWEEN 40000010 AND 40000024 OR dst BETWEEN 40000010 AND 40000024)
          AND NOT (src = 40000000 AND dst = 40000001 AND type = 'NEXT')
    )
    SELECT kind, n FROM (
        SELECT label AS kind, CAST(COUNT(*) AS BIGINT) AS n
        FROM after_nodes GROUP BY label
        UNION ALL
        SELECT '_edges', CAST(COUNT(*) AS BIGINT) FROM after_edges
    ) t
    """,
)
def m8_switch_commit_derived(spark, sf_dir):
    from .graph.model import PropertyGraph
    from .mutations.oplog import OpLog
    from .registry import _graph, _label
    from .sources.git_history import derive_commit_path

    nodes, edges = _graph(spark, sf_dir)

    # synthetic 5-commit chain h0..h4 (dates 100..500)
    commit_nodes = spark.createDataFrame(
        [
            (1000 + i, ["Commit"], f"h{i}", "", None, None, None, None,
             {"date": str(100 * (i + 1)), "seq": str(i)}, None)
            for i in range(5)
        ],
        PropertyGraph(spark, "empty").nodes.schema,
    )
    gg = PropertyGraph(spark, "m8_git", commit_nodes, None)

    log = OpLog()
    log.record("h4", "h3", "merge_nodes", {"rows": [
        {"id": 72000000 + i, "labels": ["Tag", "Searchable"], "name": f"tag-{i}"}
        for i in range(4)
    ]})
    log.record("h3", "h2", "delete_cascade", {"ids": [40000010], "edge_type": "NEXT"})
    log.record("h2", "h1", "delete_edges",
               {"rows": [{"src": 40000000, "dst": 40000001, "type": "NEXT"}]})
    log.record("h2", "h1", "merge_nodes", {"rows": [
        {"id": 72000100 + i, "labels": ["Tag", "Searchable"], "name": f"late-{i}"}
        for i in range(2)
    ]})

    path = derive_commit_path(gg, "h4", "h1")
    assert path == ["h4", "h3", "h2", "h1"], path
    g = log.replay_path(PropertyGraph(spark, "m8_tmp", nodes, edges), path)
    return (
        g.nodes.groupBy(_label("labels")).agg(F.count("*").alias("n"))
        .select(F.col("label").alias("kind"), "n")
        .unionByName(
            g.edges.agg(F.count("*").alias("n")).select(F.lit("_edges").alias("kind"), "n")
        )
    )


# ---------------------------------------------------------------------------
# Training-pipeline curation ops (round 2): near-dup clustering (connected
# components over the candidate pair graph), deterministic stratified
# sampling, and n-gram benchmark-contamination scanning. All three are
# DuckDB-oracle-checkable (components via recursive CTE).
# ---------------------------------------------------------------------------

@register(
    "dedup_clusters",
    """
    WITH RECURSIVE toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
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
    cc AS (SELECT node, MIN(m) AS component FROM reach GROUP BY node)
    SELECT d.doc_id,
           COALESCE(cc.component, d.doc_id) AS cluster_id,
           d.doc_id = COALESCE(cc.component, d.doc_id) AS is_canonical
    FROM documents d LEFT JOIN cc ON cc.node = d.doc_id
    """,
)
def dedup_clusters_q(spark, sf_dir):
    """Near-dup pairs (exact n-gram Jaccard ≥ 0.5) → connected components →
    per-doc cluster id + canonical flag. The oracle's recursive CTE computes
    the same min-reachable-id closure the alternating-star kernel converges
    to (operators/components.py)."""
    from .functions.dedup import ngram_jaccard_pairs
    from .operators.components import dedup_clusters
    from .session import read_table

    docs = read_table(spark, sf_dir, "documents")
    pairs = ngram_jaccard_pairs(docs, threshold=0.5)
    return dedup_clusters(spark, docs, pairs)


@register(
    "sample_stratified",
    """
    SELECT doc_id, lang FROM (
        SELECT doc_id, lang,
               ROW_NUMBER() OVER (
                   PARTITION BY lang
                   ORDER BY md5(CAST(doc_id AS VARCHAR)) ASC, doc_id ASC
               ) AS rk
        FROM documents
    ) t WHERE rk <= 10
    """,
)
def sample_stratified_q(spark, sf_dir):
    """Deterministic 10-per-language quota sample: rank by md5(doc_id)
    inside each stratum — same sample every run, any engine, any
    partitioning (functions/sampling.py)."""
    from .functions.sampling import stratified_sample
    from .session import read_table

    docs = read_table(spark, sf_dir, "documents")
    return stratified_sample(docs, "lang", 10, "doc_id").select("doc_id", "lang")


@register(
    "contamination_ngram",
    """
    WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
    dsh AS (
        SELECT DISTINCT doc_id, array_to_string(t[i:i+12], ' ') AS s
        FROM toks, UNNEST(generate_series(1, len(t) - 12)) u(i)
    ),
    psh AS (SELECT doc_id AS probe_id, s FROM dsh WHERE doc_id % 97 = 0)
    SELECT d.doc_id, p.probe_id, COUNT(*) AS n_hits
    FROM dsh d JOIN psh p ON d.s = p.s
    GROUP BY 1, 2
    """,
)
def contamination_ngram_q(spark, sf_dir):
    """Benchmark decontamination: docs sharing any 13-token shingle with a
    probe set (here: every doc_id ≡ 0 mod 97 plays the benchmark). Equi-join
    on the shingle — never a substring theta-join (functions/sampling.py)."""
    from .functions.sampling import contamination_ngram
    from .session import read_table

    docs = read_table(spark, sf_dir, "documents")
    probes = docs.filter(F.col("doc_id") % 97 == 0).select(
        F.col("doc_id").alias("probe_id"), F.col("text").alias("probe_text")
    )
    return contamination_ngram(docs, probes)


# ---------------------------------------------------------------------------
# Corpus analytics: per-stratum distribution rollup (exact interpolated
# percentiles) and a value histogram. Both pure JVM aggregates — at scale
# `percentile` is one shuffle with map-side partial aggregation, and the
# histogram is a two-level hash agg on a computed bin key. (For 100 TB
# latency-critical paths swap `percentile` for `approx_percentile` — same
# plan shape, sketch-merged instead of exact; the oracle pins the exact
# variant.)
# ---------------------------------------------------------------------------

@register(
    "corpus_stats",
    """
    SELECT lang,
           COUNT(*) AS n_docs,
           ROUND(AVG(n_chars), 3) AS mean_chars,
           ROUND(quantile_cont(n_chars, 0.5), 3) AS p50_chars,
           ROUND(quantile_cont(n_chars, 0.9), 3) AS p90_chars,
           ROUND(quantile_cont(n_chars, 0.99), 3) AS p99_chars
    FROM documents GROUP BY lang
    """,
)
def corpus_stats(spark, sf_dir):
    """Per-language corpus distribution: doc count, mean and interpolated
    p50/p90/p99 of document length. Spark's `percentile` and DuckDB's
    `quantile_cont` share the linear-interpolation definition, so the
    rollup is exactly oracle-checkable."""
    from .session import read_table

    docs = read_table(spark, sf_dir, "documents")
    pct = F.expr("percentile(n_chars, array(0.5, 0.9, 0.99))")
    return (
        docs.groupBy("lang")
        .agg(
            F.count("*").alias("n_docs"),
            F.round(F.avg("n_chars"), 3).alias("mean_chars"),
            F.round(pct[0], 3).alias("p50_chars"),
            F.round(pct[1], 3).alias("p90_chars"),
            F.round(pct[2], 3).alias("p99_chars"),
        )
    )


@register(
    "value_histogram",
    """
    SELECT CAST(FLOOR(value / 50.0) AS BIGINT) AS bin,
           COUNT(*) AS n,
           ROUND(SUM(value), 2) AS value_sum
    FROM events GROUP BY 1
    """,
)
def value_histogram(spark, sf_dir):
    """Fixed-width histogram of event values (bin = floor(value/50)):
    the canonical distribution profile, one hash aggregate."""
    from .operators.aggregates import dec_sum
    from .session import read_table

    events = read_table(spark, sf_dir, "events")
    return (
        events.groupBy(
            F.floor(F.col("value") / F.lit(50.0)).cast("long").alias("bin")
        )
        .agg(F.count("*").alias("n"), dec_sum("value", 2).alias("value_sum"))
    )


@register(
    "text_char_entropy",
    """
    WITH ch AS (
        SELECT doc_id, unnest(string_split(text, '')) AS c FROM documents
    ),
    freq AS (SELECT doc_id, c, COUNT(*)::DOUBLE AS n FROM ch GROUP BY 1, 2),
    tot AS (SELECT doc_id, SUM(n) AS t FROM freq GROUP BY 1),
    e AS (
        SELECT f.doc_id, -SUM((n / t) * log2(n / t)) AS ent
        FROM freq f JOIN tot USING (doc_id) GROUP BY 1
    )
    SELECT d.doc_id, ROUND(COALESCE(e.ent, 0) + 0, 6) AS entropy
    FROM documents d LEFT JOIN e USING (doc_id)
    """,
)
def text_char_entropy(spark, sf_dir):
    """Per-doc character-distribution Shannon entropy (quality signal):
    map-only Arrow kernel — the oracle's explode-every-char shuffle is
    exactly the plan we refuse at scale (functions/text.py)."""
    from .functions.text import char_entropy
    from .session import read_table

    return char_entropy(read_table(spark, sf_dir, "documents"))
