from __future__ import annotations

import sys
from pathlib import Path

import pytest
from analyzer_files import FIXTURE_PY

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))


@pytest.fixture(scope="session")
def spark():
    from code_graph_backend_spark.session import get_spark

    s = get_spark(app_name="tests", master="local[4]", shuffle_partitions=4)
    s.sparkContext.setLogLevel("ERROR")
    yield s


@pytest.fixture()
def fixture_graph(spark, tmp_path):
    """The golden mini-graph from FIXTURES.md §1 (tests/source_files/py/src.py
    of the reference), ingested through the real analyzer pipeline."""
    p = tmp_path / "src.py"
    p.write_text(FIXTURE_PY)
    from code_graph_backend_spark.sources.python_analyzer import analyze_python_files
    from code_graph_backend_spark.sources.source_scan import scan_source_tree

    files = scan_source_tree(spark, str(tmp_path), exts=(".py",))
    nodes, edges = analyze_python_files(spark, files)
    return nodes.cache(), edges.cache()
