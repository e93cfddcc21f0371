"""S2/J13: Python source → property-graph rows, as a distributed parse UDF.

Reference pipeline (api/analyzers/python/analyzer.py + source_analyzer.py):
tree-sitter parses each file; a DFS turns class/function defs into entities
with DEFINES edges (first pass); an LSP resolves call/annotation symbols to
def-sites, emitting CALLS/EXTENDS/RETURNS/PARAMETERS edges (second pass).

Spark design:
- first pass  = `mapInPandas` over the binaryFile scan: Python's own `ast`
  module (stdlib, per-executor, no service) parses and emits FLAT rows —
  entities and symbol references share one discriminated schema so one
  parse produces everything.
- second pass = name resolution (J13): references matched to definitions
  by name. The reference's LSP is def-site-precise; a name join is the
  scalable batch equivalent (divergence documented in SURVEY §3.1).
  Unresolved names (builtins like `print`) become external nodes, matching
  the reference's behavior of creating callable nodes for builtins
  (tests/test_py_analyzer.py:55-59).
- where the second pass runs depends on size, split at
  `graph.model.ROW_CAP`, the bound the resident serving tier uses too.
  A parse of at most that many rows is collected in one job with its ids
  and resolved on the driver (sources/local_resolver.py), as the
  reference resolves in process; a larger one is resolved by a Spark
  plan of joins and windows (`_spark_graph`). Both give the same graph,
  row for row (tests/test_ingest_paths.py).

Line numbers are 0-based like tree-sitter rows (FIXTURES.md).
"""

from __future__ import annotations

import ast
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window
from pyspark.sql.types import (
    IntegerType,
    StringType,
    StructField,
    StructType,
)

from ..graph.model import EDGES_SCHEMA, NODES_SCHEMA, ROW_CAP, node_id_expr

# __init__ re-export chains are followed through this many facade hops
# (an unrolled bounded fixpoint — see _spark_graph); resolved rows
# pass through surplus hops unchanged, so the cap only bounds DEPTH.
_REEXPORT_HOPS = 5

# parse row kinds that name a symbol to resolve
_REF_KINDS = ("call", "extends", "returns", "params", "implements", "cs_base")

PARSE_SCHEMA = StructType(
    [
        StructField("kind", StringType(), False),  # file|entity|call|extends|returns|params|import
        StructField("label", StringType(), True),  # entity: Class|Function
        StructField("name", StringType(), True),
        StructField("path", StringType(), False),
        StructField("src_start", IntegerType(), True),
        StructField("src_end", IntegerType(), True),
        StructField("doc", StringType(), True),
        StructField("parent_name", StringType(), True),
        StructField("parent_start", IntegerType(), True),
        StructField("target", StringType(), True),  # call/extends/returns/params
        StructField("line", IntegerType(), True),  # call site row
        StructField("text", StringType(), True),  # call source text
    ]
)


def _annotation_name(node) -> str | None:
    if node is None:
        return None
    if isinstance(node, ast.Name):
        return node.id
    if isinstance(node, ast.Constant):  # `-> None`
        return str(node.value)
    if isinstance(node, ast.Attribute):
        return node.attr
    if isinstance(node, ast.Subscript):
        return _annotation_name(node.value)
    return None


def _call_name(node: ast.Call) -> tuple[str | None, str | None]:
    """(callee, receiver): `f()` → (f, None); `x.f()` → (f, x) when the
    receiver is a plain name — the receiver lets resolution follow module
    bindings (`from . import x; x.f()` resolves f into x's module)."""
    f = node.func
    if isinstance(f, ast.Name):
        return f.id, None
    if isinstance(f, ast.Attribute):
        recv = f.value.id if isinstance(f.value, ast.Name) else None
        return f.attr, recv
    return None, None


def parse_python_source(path: str, source: str) -> list[tuple]:
    """Pure-python kernel: one file → flat rows (shared by the Spark UDF and
    the unit tests)."""
    rows: list[tuple] = []
    try:
        tree = ast.parse(source)
    except SyntaxError:
        return rows
    src_lines = source.splitlines()

    def _module_suffix(level: int, module: str | None) -> str | None:
        """Expected def-site path suffix for an imported module.

        Absolute `a.b` → "a/b.py" (matched by endswith, so any repo-root
        prefix works); relative `from ..m import f` resolves against this
        file's directory, giving a concrete path.
        """
        modpart = (module or "").replace(".", "/")
        if level == 0:
            return modpart + ".py" if modpart else None
        base = path.rsplit("/", 1)[0] if "/" in path else ""
        for _ in range(level - 1):
            base = base.rsplit("/", 1)[0] if "/" in base else ""
        if not modpart:
            return None
        # leading "/" marks the suffix as ANCHORED: a relative import
        # resolves against this file's directory, so the result is a
        # concrete repo-relative path that must match exactly — an
        # endswith match would let any same-named module in a deeper
        # package shadow it
        return "/" + (base + "/" if base else "") + modpart + ".py"

    # import bindings (J13 second half: the reference's LSP follows import
    # chains to the def-site, api/analyzers/analyzer.py:49-54; we record
    # the binding and let the resolution join follow it). Row shape:
    # name=local binding, target=original symbol (None for module
    # imports), text=expected def-site path suffix.
    for sub in ast.walk(tree):
        if isinstance(sub, ast.ImportFrom):
            suffix = _module_suffix(sub.level, sub.module)
            for a in sub.names:
                if a.name == "*":
                    continue
                if sub.level >= 1 and sub.module is None:
                    # `from . import x` / `from .. import y`: each name is
                    # a sibling MODULE of the resolved package dir — a
                    # module binding (target None), like plain `import x`,
                    # with a concrete relative path
                    base = path.rsplit("/", 1)[0] if "/" in path else ""
                    for _ in range(sub.level - 1):
                        base = base.rsplit("/", 1)[0] if "/" in base else ""
                    mod_suffix = "/" + (base + "/" if base else "") + a.name + ".py"
                    rows.append(
                        ("import", None, a.asname or a.name, path, None,
                         None, None, None, None, None, sub.lineno - 1,
                         mod_suffix)
                    )
                    continue
                rows.append(
                    ("import", None, a.asname or a.name, path, None, None,
                     None, None, None, a.name, sub.lineno - 1, suffix)
                )
        elif isinstance(sub, ast.Import):
            for a in sub.names:
                binding = a.asname or a.name.split(".")[0]
                rows.append(
                    ("import", None, binding, path, None, None, None,
                     None, None, None, sub.lineno - 1,
                     _module_suffix(0, a.name))
                )

    def visit(node, parent_name: str | None, parent_start: int | None):
        for child in ast.iter_child_nodes(node):
            if isinstance(child, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
                label = "Class" if isinstance(child, ast.ClassDef) else "Function"
                start, end = child.lineno - 1, (child.end_lineno or child.lineno) - 1
                doc = ast.get_docstring(child)
                rows.append(
                    ("entity", label, child.name, path, start, end, doc,
                     parent_name, parent_start, None, None, None)
                )
                if isinstance(child, ast.ClassDef):
                    for base in child.bases:
                        t = _annotation_name(base)
                        if t:
                            rows.append(
                                ("extends", None, child.name, path, start, end, None,
                                 None, None, t, None, None)
                            )
                else:
                    for arg in child.args.args + child.args.kwonlyargs:
                        t = _annotation_name(arg.annotation)
                        if t:
                            rows.append(
                                ("params", None, child.name, path, start, end, None,
                                 None, None, t, None, None)
                            )
                    t = _annotation_name(child.returns)
                    if t:
                        rows.append(
                            ("returns", None, child.name, path, start, end, None,
                             None, None, t, None, None)
                        )
                    # calls within this function body (not nested defs)
                    for sub in ast.walk(child):
                        if isinstance(sub, ast.Call):
                            callee, receiver = _call_name(sub)
                            if callee:
                                line = sub.lineno - 1
                                text = (
                                    src_lines[line].strip()
                                    if 0 <= line < len(src_lines)
                                    else None
                                )
                                # call rows repurpose parent_name for the
                                # attribute RECEIVER (x in x.f()) — the
                                # resolution join matches it against
                                # module import bindings
                                rows.append(
                                    ("call", None, child.name, path, start, end, None,
                                     receiver, None, callee, line, text)
                                )
                visit(child, child.name, start)
            else:
                visit(child, parent_name, parent_start)

    visit(tree, None, None)
    return rows


def parse_files(files: DataFrame) -> DataFrame:
    """files(path, content[, ...]) → PARSE_SCHEMA rows, distributed.

    Dispatches per file extension like the reference's analyzer registry
    (api/analyzers/source_analyzer.py:24-29): .py → ast, .java/.cs/.c → the
    brace-aware C-family kernels (C is DISABLED in the reference's
    registry, source_analyzer.py:25 — enabled for real here). Unknown extensions parse to nothing;
    every handled file also yields one `kind="file"` row (its File node).
    """
    from .cfamily_analyzer import (
        parse_c_source,
        parse_csharp_source,
        parse_java_source,
    )

    parsers = {
        "py": parse_python_source,
        "java": parse_java_source,
        "cs": parse_csharp_source,
        "c": parse_c_source,
    }

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        cols = [f.name for f in PARSE_SCHEMA.fields]
        for pdf in batches:
            out: list[tuple] = []
            for _, r in pdf.iterrows():
                parser = parsers.get(r["path"].rsplit(".", 1)[-1].lower())
                if parser is None:
                    continue
                content = r["content"]
                source = content.decode("utf-8", errors="replace") if isinstance(
                    content, (bytes, bytearray)
                ) else str(content)
                # one "file" row per handled file, so a file that defines
                # nothing still gets its File node
                out.append(("file", None, None, r["path"]) + (None,) * 8)
                out.extend(parser(r["path"], source))
            yield pd.DataFrame(out, columns=cols)

    return files.mapInPandas(kernel, PARSE_SCHEMA)


def graph_from_parsed(spark: SparkSession, parsed: DataFrame) -> tuple[DataFrame, DataFrame]:
    """Second pass: rows → (nodes, edges).

    A parse of at most `ROW_CAP` rows is collected in one job and resolved
    on the driver (sources/local_resolver.py); the frames handed back are
    driver data, so no job runs until they are read. A larger parse is
    resolved by the Spark plan below. `parsed` is cached before the
    collect, so the Spark plan reads the rows the collect parsed instead
    of parsing the tree again; on that path the caller unpersists it once
    the graph is written."""
    from . import local_resolver

    parsed = parsed.cache()
    rows = local_resolver.collect_parse(parsed, ROW_CAP)
    if rows is None:
        return _spark_graph(parsed)
    parsed.unpersist()
    nodes, edges = local_resolver.resolve(rows)
    return (local_resolver.to_frame(spark, nodes, NODES_SCHEMA),
            local_resolver.to_frame(spark, edges, EDGES_SCHEMA))


def _spark_graph(parsed: DataFrame) -> tuple[DataFrame, DataFrame]:
    """The distributed second pass: resolution by name join. `parsed` is
    read by several branches of the plan; `graph_from_parsed` caches it."""
    ent = parsed.filter(F.col("kind") == "entity")

    # Import-aware reference rewrite (J13): each file's import bindings
    # (alias → original name + module path suffix) follow `import x as y` /
    # `from m import f` chains, the cheap equivalent of the reference's
    # LSP def-site resolution for the common cross-module case.
    imports = parsed.filter(F.col("kind") == "import").select(
        F.col("path").alias("ipath"), F.col("name").alias("alias"),
        F.col("target").alias("iorig"), F.col("text").alias("isuffix"),
        F.col("line").alias("iline"),
    ).distinct()

    # A file may bind the same name more than once (sequential rebinding
    # `from a import f ... from b import f`, conditional try/except
    # imports). LSP goto-definition is OCCURRENCE-sensitive: the binding
    # in effect at the use site is the nearest one AT OR ABOVE it. The
    # binding joins below therefore pick, per reference row, the
    # matching binding with the largest line <= the use line (falling
    # back to the first binding below it for forward references) —
    # never a fan-out of one reference across all same-named bindings.
    def _pick_binding(df, ref_pos_col, iline_col, isuffix_col):
        above = F.col(iline_col).isNull() | (
            F.col(iline_col) <= F.coalesce(ref_pos_col, F.lit(2**31 - 1))
        )
        w = Window.partitionBy("_rid").orderBy(
            F.when(above, 0).otherwise(1).asc(),
            F.when(above, -F.coalesce(F.col(iline_col), F.lit(-1)))
            .otherwise(F.coalesce(F.col(iline_col), F.lit(2**31 - 1)))
            .asc(),
            # deterministic final tie-break (as hop_w does): two distinct
            # same-alias bindings on ONE line (semicolon-joined imports)
            # must resolve identically across runs/partitions
            F.col(isuffix_col).asc_nulls_last(),
        )
        return (
            df.withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") == 1)
            .drop("_rn")
        )

    refs_sym = _pick_binding(
        parsed.filter(F.col("kind").isin(*_REF_KINDS))
        .withColumn("_rid", F.monotonically_increasing_id()).alias("r")
        .join(
            imports,
            (F.col("r.path") == F.col("ipath"))
            & (F.col("r.target") == F.col("alias")),
            "left_outer",
        ),
        F.coalesce(F.col("r.line"), F.col("r.src_start")),
        "iline",
        "isuffix",
    ).select(
        "r.*",  # includes _rid, reused by the receiver-binding pick
        # aliased binding: the def-site's real name, not the alias
        F.coalesce(F.col("iorig"), F.col("r.target")).alias("eff_target"),
        F.col("isuffix").alias("sym_suffix"),
    )
    # Receiver bindings: `x.f()` where x is an import binding — call rows
    # carry the attribute receiver in parent_name (parse_python_source).
    # A module binding (`import m` / `from . import m`) points f's def-site
    # at the module file itself; a symbol binding used as a receiver
    # (`from pkg import m; m.f()` with m a submodule) points one level
    # deeper: <pkg>/<m>.py.
    recv = imports.select(
        F.col("ipath").alias("ipath2"), F.col("alias").alias("alias2"),
        F.col("iorig").alias("iorig2"), F.col("isuffix").alias("isuffix2"),
        F.col("iline").alias("iline2"),
    )
    recv_suffix = F.when(F.col("iorig2").isNull(), F.col("isuffix2")).otherwise(
        F.concat(
            F.regexp_replace(F.col("isuffix2"), r"\.py$", ""),
            F.lit("/"), F.col("alias2"), F.lit(".py"),
        )
    )
    refs_recv = (
        _pick_binding(
            refs_sym.join(
                recv,
                (F.col("path") == F.col("ipath2"))
                & (F.col("parent_name") == F.col("alias2"))
                & (F.col("kind") == "call"),
                "left_outer",
            ),
            F.coalesce(F.col("line"), F.col("src_start")),
            "iline2",
            "isuffix2",
        )
        .withColumn("imp_suffix1", F.coalesce(F.col("sym_suffix"), recv_suffix))
        .drop("ipath2", "alias2", "iorig2", "isuffix2", "iline2", "sym_suffix",
              "_rid")
    )
    # __init__ re-export chains: `from pkg import f` landing on
    # pkg/__init__.py which itself does `from .a import f` — follow that
    # file's import row to the true def-site (the reference's LSP resolves
    # the chain natively, analyzer.py:49-54). The hop join is a BOUNDED
    # FIXPOINT unrolled to _REEXPORT_HOPS levels: a fully-resolved row
    # stops matching and passes through every remaining hop unchanged, so
    # the unroll converges exactly like iterate-until-no-new-bindings for
    # any chain within the cap (5 covers `pkg.sub.sub2 → ... → module`
    # facades; real-world chains deeper than that are vanishingly rare —
    # they fall back to ranked resolution). Each hop is a left-outer join
    # against the broadcast request-sized imports table; re-export under a
    # new name (`from .a import f as g`) chains through the alias coalesce.
    refs_eff = refs_recv.withColumnRenamed("imp_suffix1", "imp_suffix")
    # one binding per (facade file, name) for the chain hops: a facade
    # __init__ with conditional re-exports (try/except import of the
    # same name) must chain through ONE branch deterministically (first
    # binding in file order), not fan the reference out across both
    hop_w = Window.partitionBy("ipath", "alias").orderBy(
        F.coalesce(F.col("iline"), F.lit(2**31 - 1)).asc(),
        F.col("isuffix").asc_nulls_last(),
    )
    hop_base = (
        imports.withColumn("_hn", F.row_number().over(hop_w))
        .filter(F.col("_hn") == 1)
        .drop("_hn")
    )
    for i in range(3, 3 + _REEXPORT_HOPS):
        hop = hop_base.select(
            F.col("ipath").alias(f"ipath{i}"), F.col("alias").alias(f"alias{i}"),
            F.col("iorig").alias(f"iorig{i}"), F.col("isuffix").alias(f"isuffix{i}"),
        )
        prev_cols = refs_eff.columns
        refs_eff = (
            refs_eff.join(
                F.broadcast(hop),
                (F.col(f"ipath{i}")
                 == F.regexp_replace(
                     F.regexp_replace(F.col("imp_suffix"), r"^/", ""),
                     r"\.py$", "/__init__.py"))
                & (F.col(f"alias{i}") == F.col("eff_target")),
                "left_outer",
            )
            .select(
                *[c for c in prev_cols
                  if c not in ("eff_target", "imp_suffix")],
                F.coalesce(F.col(f"iorig{i}"), F.col("eff_target")).alias("eff_target"),
                F.coalesce(F.col(f"isuffix{i}"), F.col("imp_suffix")).alias("imp_suffix"),
            )
        )

    # Lineage cut (this plan only runs above ROW_CAP): refs_eff carries
    # the 5-level re-export hop unroll (five broadcast left-outer joins
    # over two window dedups) and feeds FOUR downstream consumers
    # (external nodes + three edge-kind joins) — with lineage intact
    # Catalyst re-ANALYZES that whole subtree per consumer, and for
    # repo-sized inputs the optimizer time dwarfs execution. This is the
    # engine's ingest materialization boundary — the reference
    # materializes the resolved graph into FalkorDB at exactly this point
    # (api/analyzers/source_analyzer.py:118 second_pass writes edges as it
    # resolves) — so truncating lineage here is the Spark-native analogue,
    # not a cache-for-speed hack. ids are deterministic (xxhash64 business
    # key, graph/model.py), so re-derivation vs checkpoint replay is
    # value-identical either way. Even with eager=False the checkpoint
    # launches jobs while the plan is built: the AQE stages beneath it
    # run then.
    refs_eff = refs_eff.localCheckpoint(eager=False)

    # entity nodes (labels + Searchable, reference api/graph.py:250,400)
    ent_nodes = ent.select(
        F.array(F.col("label"), F.lit("Searchable")).alias("labels"),
        "name", "path",
        F.lit(None).cast("string").alias("ext"),
        "src_start", "src_end", "doc",
    )
    # file nodes (reference api/graph.py:392-406)
    file_nodes = (
        parsed.select("path").distinct()
        .select(
            F.array(F.lit("File"), F.lit("Searchable")).alias("labels"),
            F.element_at(F.split("path", "/"), -1).alias("name"),
            F.col("path"),
            F.concat(F.lit("."), F.element_at(F.split("path", "\\."), -1)).alias("ext"),
            F.lit(None).cast("int").alias("src_start"),
            F.lit(None).cast("int").alias("src_end"),
            F.lit(None).cast("string").alias("doc"),
        )
    )

    # unresolved targets → external nodes (builtins: print, str, None, ...).
    # PYTHON refs only: the reference's Python analyzer materializes builtin
    # callables as nodes (tests/test_py_analyzer.py:55-59), while Java/C#
    # skip unresolved symbols entirely (source_analyzer.py:155-157).
    defs = ent.select("name").distinct()
    ext_nodes = (
        refs_eff.filter(F.col("kind").isin("call", "extends", "returns", "params"))
        .filter(F.col("path").endswith(".py"))
        .select(F.col("eff_target").alias("name")).distinct()
        .join(defs, "name", "left_anti")
        .select(
            F.array(F.lit("Function"), F.lit("Searchable")).alias("labels"),
            "name",
            F.lit("").alias("path"),
            F.lit(None).cast("string").alias("ext"),
            F.lit(None).cast("int").alias("src_start"),
            F.lit(None).cast("int").alias("src_end"),
            F.lit(None).cast("string").alias("doc"),
        )
    )

    all_nodes = ent_nodes.unionByName(file_nodes).unionByName(ext_nodes)
    # second lineage cut (above ROW_CAP too): the node table fans out
    # into every edge-kind resolution join below (ids is read 5+ times) —
    # same analysis-time rationale as refs_eff above
    nodes = all_nodes.select(
        node_id_expr().alias("id"),
        "labels", "name", "path", "ext", "src_start", "src_end", "doc",
        F.lit(None).cast("map<string,string>").alias("props"),
        F.lit(None).cast("double").alias("coverage"),
    ).localCheckpoint(eager=False)

    # id lookup views ----------------------------------------------------
    ids = nodes.select("id", F.element_at("labels", 1).alias("label"),
                       "name", "path", "src_start")

    # DEFINES: parent entity (or file) → child entity
    child_ids = ent.alias("c").join(
        ids.alias("ci"),
        (F.col("c.name") == F.col("ci.name"))
        & (F.col("c.path") == F.col("ci.path"))
        & (F.col("c.src_start").eqNullSafe(F.col("ci.src_start")))
        & (F.col("ci.label") == F.col("c.label")),
    ).select(
        F.col("ci.id").alias("child_id"),
        F.col("c.path").alias("path"),
        F.col("c.parent_name").alias("parent_name"),
        F.col("c.parent_start").alias("parent_start"),
    )
    # parent = entity with matching (name, path, start) else the File node
    parent_ent = ids.filter(F.col("label") != "File").select(
        F.col("id").alias("parent_id"), F.col("name").alias("pname"),
        F.col("path").alias("ppath"), F.col("src_start").alias("pstart"),
    )
    file_ids = ids.filter(F.col("label") == "File").select(
        F.col("id").alias("file_id"), F.col("path").alias("fpath")
    )
    defines = (
        child_ids.join(
            parent_ent,
            (F.col("parent_name") == F.col("pname"))
            & (F.col("path") == F.col("ppath"))
            & (F.col("parent_start").eqNullSafe(F.col("pstart"))),
            "left_outer",
        )
        .join(file_ids, F.col("path") == F.col("fpath"))
        .select(
            F.coalesce("parent_id", "file_id").alias("src"),
            F.col("child_id").alias("dst"),
            F.lit("DEFINES").alias("type"),
            F.lit(None).cast("map<string,string>").alias("props"),
        )
    )

    # symbol edges: resolve target by name — entity definitions win over
    # the external nodes created above (J13 name-resolution join). Among
    # same-named entity definitions the choice is QUALIFIED: same file as
    # the reference site first, then same package (directory), then global
    # smallest-id — approximating the reference's LSP def-site precision
    # (api/analyzers/analyzer.py:49-54) without an LSP process.
    entity_cands = (
        ids.filter(F.col("label") != "File")
        .filter(F.col("path") != "")
        .select(
            F.col("name").alias("tname"),
            F.col("id").alias("target_id"),
            F.col("path").alias("tpath"),
            F.lit(False).alias("is_ext"),
        )
    )
    external_cands = (
        ids.filter((F.col("label") != "File") & (F.col("path") == ""))
        .join(entity_cands.select(F.col("tname").alias("name")), "name", "left_anti")
        .select(
            F.col("name").alias("tname"),
            F.col("id").alias("target_id"),
            F.lit("").alias("tpath"),
            F.lit(True).alias("is_ext"),
        )
    )
    target_cands = entity_cands.unionByName(external_cands)

    src_resolved = refs_eff.alias("r").join(
        ids.alias("si"),
        (F.col("r.name") == F.col("si.name"))
        & (F.col("r.path") == F.col("si.path"))
        & (F.col("r.src_start").eqNullSafe(F.col("si.src_start")))
        & (F.col("si.label") != "File"),
    ).select(
        F.col("si.id").alias("src"),
        F.col("r.kind").alias("kind"),
        F.col("r.path").alias("rpath"),
        F.col("r.eff_target").alias("target"),
        F.col("r.imp_suffix").alias("imp_suffix"),
        F.col("r.line").alias("line"),
        F.col("r.text").alias("text"),
    )

    _dir = lambda c: F.regexp_extract(c, r"^(.*)/[^/]*$", 1)  # noqa: E731
    # an explicit import binding is the strongest evidence — the def in
    # the imported module beats even a same-file candidate (LSP would
    # follow the import too); then file → package → global → external.
    def _suffix_hit(sfx):
        # ANCHORED suffixes (leading "/", from relative imports) are
        # concrete repo-relative paths: exact match only. Unanchored
        # (absolute imports, matched by module-path suffix) match at path
        # component boundaries — "top.py" must not hit "pkg/top.py".
        slashed = F.concat(F.lit("/"), F.col("tpath"))
        return F.when(sfx.startswith("/"), slashed == sfx).otherwise(
            slashed.endswith(F.concat(F.lit("/"), sfx))
        )

    imp_hit = F.col("imp_suffix").isNotNull() & (
        _suffix_hit(F.col("imp_suffix"))
        | _suffix_hit(
            F.regexp_replace(F.col("imp_suffix"), r"\.py$", "/__init__.py"))
        # `from . import x` with x defined IN the package __init__ (not a
        # sibling module): accept the package's own __init__.py as def-site
        | _suffix_hit(
            F.regexp_replace(F.col("imp_suffix"), r"[^/]+\.py$", "__init__.py"))
    )
    rank = (
        F.when(F.col("is_ext"), 4)
        .when(imp_hit, -1)
        .when(F.col("tpath") == F.col("rpath"), 0)
        .when(_dir(F.col("tpath")) == _dir(F.col("rpath")), 1)
        .otherwise(2)
    )
    pick = Window.partitionBy("src", "kind", "target", "line", "text").orderBy(
        rank.asc(), F.col("target_id").asc()
    )
    py_resolved = (
        src_resolved.filter(F.col("rpath").endswith(".py"))
        .join(target_cands, F.col("target") == F.col("tname"))
        .withColumn("_rn", F.row_number().over(pick))
        .filter(F.col("_rn") == 1)
        .select(
            "src", F.col("target_id").alias("dst"), "kind", "line", "text",
            F.lit(None).cast("string").alias("dst_label"),
        )
    )

    # Java/C# resolution is TYPED, mirroring the reference's resolve_symbol
    # dispatch (java/analyzer.py:130-136): calls resolve only to callables,
    # type references only to type declarations; unresolved are dropped.
    # The same qualified (file → package → global) ranking applies.
    type_cands = (
        ids.filter(F.col("label").isin("Class", "Interface", "Enum", "Struct"))
        .filter(F.col("path") != "")
        .select(
            F.col("name").alias("tname"), F.col("id").alias("target_id"),
            F.col("path").alias("tpath"), F.lit(False).alias("is_ext"),
            F.col("label").alias("dst_label"),
        )
    )
    callable_cands = (
        ids.filter(F.col("label").isin("Function", "Method", "Constructor"))
        .filter(F.col("path") != "")
        .select(
            F.col("name").alias("tname"), F.col("id").alias("target_id"),
            F.col("path").alias("tpath"), F.lit(False).alias("is_ext"),
            F.lit(None).cast("string").alias("dst_label"),
        )
    )
    cf = src_resolved.filter(~F.col("rpath").endswith(".py"))
    cf_resolved = (
        cf.filter(F.col("kind") == "call")
        .join(callable_cands, F.col("target") == F.col("tname"))
        .unionByName(
            cf.filter(F.col("kind") != "call")
            .join(type_cands, F.col("target") == F.col("tname"))
        )
        .withColumn("_rn", F.row_number().over(pick))
        .filter(F.col("_rn") == 1)
        .select("src", F.col("target_id").alias("dst"), "kind", "line", "text",
                "dst_label")
    )

    sym_edges = (
        py_resolved.unionByName(cf_resolved)
        .select(
            "src",
            "dst",
            F.when(F.col("kind") == "call", "CALLS")
            .when(F.col("kind") == "extends", "EXTENDS")
            .when(F.col("kind") == "implements", "IMPLEMENTS")
            # C# class first-base: EXTENDS unless the target resolved to an
            # Interface (reference csharp/analyzer.py:80-87 NOTE — the
            # correction it delegates to LSP happens here, label-aware)
            .when(
                F.col("kind") == "cs_base",
                F.when(F.col("dst_label") == "Interface", "IMPLEMENTS")
                .otherwise("EXTENDS"),
            )
            .when(F.col("kind") == "returns", "RETURNS")
            .otherwise("PARAMETERS")
            .alias("type"),
            "line",
            "text",
        )
        .distinct()  # before the map build: set ops reject MAP columns
        .select(
            "src",
            "dst",
            "type",
            F.when(
                F.col("type") == "CALLS",
                F.map_filter(
                    F.create_map(
                        F.lit("line"), F.col("line").cast("string"),
                        F.lit("text"), F.col("text"),
                    ),
                    lambda _, v: v.isNotNull(),
                ),
            ).alias("props"),
        )
    )

    edges = defines.unionByName(sym_edges)
    return nodes, edges


def analyze_python_files(spark: SparkSession, files: DataFrame) -> tuple[DataFrame, DataFrame]:
    """End-to-end: binaryFile rows → (nodes, edges)."""
    return graph_from_parsed(spark, parse_files(files))
