"""The two resolution paths of `graph_from_parsed` give the same graph.

A parse of at most `ROW_CAP` rows is resolved on the driver
(sources/local_resolver.py), a larger one by the Spark plan; patching the
cap to 0 forces the Spark plan. Every input here runs both ways, and the
two graphs must be equal row for row on every column. The last tests
bound the Spark jobs an ingest launches."""

from __future__ import annotations

import os
from unittest import mock

import pytest
from analyzer_files import CFAMILY_FILE_SETS, FIXTURE_PY, PY_FILE_SETS
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from code_graph_backend_spark.sources import local_resolver, python_analyzer
from code_graph_backend_spark.sources.source_scan import scan_source_tree


def _rows(df) -> list[tuple]:
    """Every row as a tuple of its columns (maps as sorted items, arrays
    as tuples), sorted."""
    def norm(v):
        if isinstance(v, dict):
            return tuple(sorted(v.items()))
        return tuple(v) if isinstance(v, list) else v

    return sorted((tuple(norm(v) for v in r) for r in df.collect()), key=repr)


def _assert_paths_agree(spark, files) -> None:
    """`files(path, content)` resolved on the driver and by the Spark plan."""
    parsed = python_analyzer.parse_files(files)
    with mock.patch.object(local_resolver, "resolve", wraps=local_resolver.resolve) as spy:
        nodes, edges = python_analyzer.graph_from_parsed(spark, parsed)
        assert spy.call_count == 1  # the driver path ran
        local = _rows(nodes), _rows(edges)
        with mock.patch.object(python_analyzer, "ROW_CAP", 0):
            nodes, edges = python_analyzer.graph_from_parsed(spark, parsed)
        assert spy.call_count == 1  # the Spark plan ran
    try:
        assert local[0] == _rows(nodes)
        assert local[1] == _rows(edges)
    finally:
        parsed.unpersist()


def _frame(spark, files: dict[str, str]):
    return spark.createDataFrame([(p, s.encode()) for p, s in files.items()],
                                 "path string, content binary")


def _s2_fixture() -> dict[str, str]:
    from code_graph_backend_spark.registry_ext3 import CSHARP_FIXTURE, JAVA_FIXTURE

    return {"Program.cs": CSHARP_FIXTURE, "Greeter.java": JAVA_FIXTURE}


CASES = {
    "fixture": {"src.py": FIXTURE_PY},
    **{f"py-{k}": v for k, v in PY_FILE_SETS.items()},
    **{f"cfamily-{k}": v for k, v in CFAMILY_FILE_SETS.items()},
}


@pytest.mark.parametrize("name", sorted(CASES))
def test_analyzer_file_sets_agree(spark, name):
    _assert_paths_agree(spark, _frame(spark, CASES[name]))


def test_empty_tree_agrees(spark):
    """A tree with nothing to parse gives an empty graph both ways (a cap
    of 0 still admits 0 rows, so the Spark plan is called directly)."""
    parsed = python_analyzer.parse_files(_frame(spark, {}))
    local = python_analyzer.graph_from_parsed(spark, parsed)
    distributed = python_analyzer._spark_graph(parsed)
    try:
        assert [_rows(df) for df in local] == [_rows(df) for df in distributed] == [[], []]
    finally:
        parsed.unpersist()


def test_s2_fixture_agrees(spark):
    _assert_paths_agree(spark, _frame(spark, _s2_fixture()))


def test_own_source_tree_agrees(spark):
    import code_graph_backend_spark

    root = os.path.dirname(code_graph_backend_spark.__file__)
    _assert_paths_agree(spark, scan_source_tree(spark, root))


# Generated packages: 2-5 modules among these paths (package __init__
# files, a subpackage, same-named modules in two packages), defs drawn
# from three names so that several files define the same name.
MODULES = ["pkg/__init__.py", "pkg/a.py", "pkg/b.py", "pkg/sub/__init__.py",
           "pkg/sub/c.py", "top.py", "other/a.py"]
NAMES = ["f", "g", "h"]


def _module_name(path: str) -> str:
    return path[:-3].removesuffix("/__init__").replace("/", ".")


@st.composite
def packages(draw):
    """{path: source}: Python modules whose imports are absolute, aliased,
    relative (`from .m import f`, `from . import m`, `from .. import m`),
    `__init__` re-exports, conditional rebindings (try/except) and one
    name rebound around a use, with calls through names, aliases and
    module receivers; plus one Java or C# file whose class and method
    names overlap the Python ones."""
    paths = draw(st.lists(st.sampled_from(MODULES), min_size=2, max_size=5, unique=True))
    name, module = st.sampled_from(NAMES), st.sampled_from(paths)
    siblings = st.sampled_from(["a", "b", "c", "sub", "top"])

    def statement() -> str:
        kind = draw(st.sampled_from(["from", "alias", "rel", "rel_mod", "up_mod",
                                     "import_as", "try", "def", "def", "class"]))
        n, m = draw(name), _module_name(draw(module))
        if kind == "from":
            return f"from {m} import {n}"
        if kind == "alias":
            return f"from {m} import {n} as {n}{n}"
        if kind == "rel":
            return f"from .{draw(siblings)} import {n}"
        if kind == "rel_mod":
            return f"from . import {draw(siblings)}"
        if kind == "up_mod":
            return f"from .. import {draw(siblings)}"
        if kind == "import_as":
            return f"import {m} as mod"
        if kind == "try":
            return (f"try:\n    from {m} import {n}\n"
                    f"except ImportError:\n    from {_module_name(draw(module))} import {n}")
        callee = draw(st.sampled_from([f"{c}()" for c in NAMES]
                                      + ["ff()", "mod.g()", "a.f()", "sub.h()", "print()"]))
        if kind == "class":
            return f"class {n.upper()}({draw(st.sampled_from(['F', 'G', 'object']))}):\n" \
                   f"    def {n}(self) -> {n.upper()}:\n        return {callee}"
        return f"def {n}(x: {draw(st.sampled_from(['int', 'F', 'G']))}) -> str:\n" \
               f"    return {callee}"

    files = {p: "\n".join(statement() for _ in range(draw(st.integers(1, 5)))) + "\n"
             for p in paths}
    # a name bound twice around a use: the call takes the import above it
    # (a def in the second module); the one below names no module here,
    # which would leave the same-file def to win
    n, other = draw(name), paths[1]
    files[other] += f"def {n}() -> str:\n    return 'b'\n"
    files[paths[0]] += (f"from {_module_name(other)} import {n}\n"
                        f"def use_{n}() -> str:\n    return {n}()\n"
                        f"from nowhere import {n}\n"
                        f"def {n}() -> str:\n    return 'a'\n")
    java = draw(st.booleans())
    decls = []
    for cls in draw(st.lists(st.sampled_from(["F", "G", "I"]), min_size=1, max_size=3,
                             unique=True)):
        bases = draw(st.lists(st.sampled_from(["F", "G", "I", "Ext"]), max_size=2, unique=True))
        if java:
            head = f"class {cls}" + "".join(
                f" {kw} {b}" for kw, b in zip(("extends", "implements"), bases))
        else:
            head = f"class {cls}" + (f" : {', '.join(bases)}" if bases else "")
        if cls == "I":
            head = "interface I"
        m, callee = draw(name), draw(name)
        decls.append(f"{head} {{\n    public void {m}() {{ {callee}(); }}\n}}")
    files["Gen.java" if java else "Gen.cs"] = "\n".join(decls) + "\n"
    return files


@settings(max_examples=6, deadline=None, suppress_health_check=[HealthCheck.too_slow])
@given(files=packages())
def test_generated_packages_agree(spark, files):
    _assert_paths_agree(spark, _frame(spark, files))


def _jobs(spark, group: str, fn) -> int:
    """Spark jobs `fn` launches, counted in a job group of its own."""
    sc = spark.sparkContext
    try:
        sc.setJobGroup(group, group)
        fn()
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        return len(sc.statusTracker().getJobIdsForGroup(group))
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)


def _package(tmp_path):
    """8 modules of 6 functions that call each other: 58 nodes, 192 edges."""
    src = tmp_path / "pkg"
    src.mkdir()
    for i in range(8):
        (src / f"m{i}.py").write_text("".join(
            f"def f{i}_{j}(x: int) -> str:\n    return f{i}_{(j + 1) % 6}(x)\n\n"
            for j in range(6)))
    return str(src)


def test_analyze_folder_job_budget(spark, tmp_path):
    """Collect the parse, write nodes, write edges: an ingest under the cap
    launches at most 4 jobs (the Spark plan launched about 59), and its
    counts are the stored graph's."""
    from code_graph_backend_spark.service import CodeGraphService

    src = _package(tmp_path)
    svc = CodeGraphService(spark, str(tmp_path / "store"))
    out = {}
    assert _jobs(spark, "ingest-budget",
                 lambda: out.update(svc.analyze_folder(src, "budget"))) <= 4
    assert (out["nodes"], out["edges"]) == svc._graph("budget").counts() == (58, 192)


def test_ingest_over_the_cap_parses_once(spark, tmp_path):
    """Over the cap the Spark plan reads the parse cached by the collect,
    not a second parse of the tree, and `analyze_folder` still reports
    the stored graph's counts."""
    from code_graph_backend_spark.service import CodeGraphService

    spark_graph = python_analyzer._spark_graph
    seen = []

    def spy(parsed):
        seen.append(parsed.is_cached)
        return spark_graph(parsed)

    svc = CodeGraphService(spark, str(tmp_path / "store"))
    with mock.patch.object(python_analyzer, "ROW_CAP", 0), \
            mock.patch.object(python_analyzer, "_spark_graph", spy):
        out = svc.analyze_folder(_package(tmp_path), "over")
    assert seen == [True]
    assert (out["nodes"], out["edges"]) == svc._graph("over").counts() == (58, 192)


def test_s2_cfamily_analyzer_job_budget(spark):
    """The `s2_cfamily_analyzer` registry query, built and run to a noop
    sink, launches at most 4 jobs."""
    from code_graph_backend_spark.registry import QUERIES
    from code_graph_backend_spark.registry_ext3 import s2_cfamily_analyzer  # noqa: F401

    def build_and_run():
        df = QUERIES["s2_cfamily_analyzer"](spark, None)
        df.write.format("noop").mode("overwrite").save()

    assert _jobs(spark, "s2-budget", build_and_run) <= 4
