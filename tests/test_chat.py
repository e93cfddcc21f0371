"""/chat text→query compiler (reference api/llm.py + api/prompts.py):
intent compilation unit tests plus end-to-end execution on the fixture
service graph."""

from __future__ import annotations

import pytest

from code_graph_backend_spark.service.chat import compile_question


@pytest.mark.parametrize(
    "question,intent",
    [
        ("How many functions are in the repo?", "count_label"),
        ("how many classes?", "count_label"),
        ("number of commits", "count_commits"),
        ("how many edges are there?", "count_edges"),
        ("which functions are unreachable?", "unreachable"),
        ("show me dead code", "unreachable"),
        ("what are the most called functions?", "most_called"),
        ("find paths from top to low", "paths"),
        ("who calls 'low'?", "callers"),
        ("callers of mid", "callers"),
        ("what does top call?", "callees"),
        ("where is mid defined?", "defined_in"),
        ("functions starting with lo", "prefix_search"),
        ("classes containing elp", "name_contains"),
        ("list all classes", "list_label"),
        ("list commits", "list_commits"),
    ],
)
def test_compile_intents(question, intent):
    plan = compile_question(question)
    assert plan is not None and plan.intent == intent, (question, plan)
    assert plan.query  # Cypher-equivalent text always present


@pytest.mark.parametrize(
    "question,intent,args",
    [
        ("what implements 'Logger'?", "implements", {"name": "Logger"}),
        ("implementations of Logger", "implements", {"name": "Logger"}),
        ("what extends Base?", "extends", {"name": "Base"}),
        ("subclasses of 'Base'", "extends", {"name": "Base"}),
        ("which classes inherit from Base", "extends", {"name": "Base"}),
        ("what are the least covered files?", "least_covered", {"k": 10}),
        ("functions defined in main.py", "entities_in_file",
         {"file": "main.py", "label": "Function"}),
        ("classes in util.py", "entities_in_file",
         {"file": "util.py", "label": "Class"}),
    ],
)
def test_compile_new_intents(question, intent, args):
    plan = compile_question(question)
    assert plan is not None and plan.intent == intent, (question, plan)
    assert plan.args == args


def test_compile_unknown_returns_none():
    assert compile_question("please order a pizza") is None


def test_llm_hook_env_var(monkeypatch):
    """$CODE_GRAPH_LLM_CMD overrides the deterministic compiler; invalid
    output falls back to it (reference api/llm.py:237-267 contract)."""
    monkeypatch.setenv(
        "CODE_GRAPH_LLM_CMD",
        """python -c 'import json; print(json.dumps({"intent": "callers", "args": {"name": "low"}}))'""",
    )
    plan = compile_question("anything at all")
    assert plan.intent == "callers" and plan.args == {"name": "low"}
    # invalid intent from the LLM -> deterministic fallback
    monkeypatch.setenv(
        "CODE_GRAPH_LLM_CMD",
        """python -c 'print("{\\"intent\\": \\"drop_tables\\"}")'""",
    )
    plan = compile_question("how many edges are there?")
    assert plan.intent == "count_edges"
    # command failure -> fallback too
    monkeypatch.setenv("CODE_GRAPH_LLM_CMD", "false")
    assert compile_question("how many edges?").intent == "count_edges"


def test_compile_extracts_names():
    p = compile_question("who calls 'low'?")
    assert p.args["name"] == "low"
    p = compile_question("find paths from top to low")
    assert p.args == {"src": "top", "dest": "low"}
    p = compile_question("classes containing elp")
    assert p.args == {"label": "Class", "text": "elp"}


# -- end-to-end over the fixture service graph (reuses svc from the
#    endpoint suite's module fixture shape) --------------------------------

SRC = '''\
def low(x: int) -> int:
    return x + 1

def mid(x: int) -> int:
    return low(x) * 2

def top(x: int) -> int:
    return mid(low(x))

class Helper:
    def run(self):
        return top(1)

class Base:
    pass

class Child(Base):
    pass
'''


@pytest.fixture(scope="module")
def chat_svc(spark, tmp_path_factory):
    import subprocess

    from code_graph_backend_spark.service import CodeGraphService

    root = tmp_path_factory.mktemp("chat_graphs")
    repo = tmp_path_factory.mktemp("chat_repo")
    (repo / "main.py").write_text(SRC)
    for cmd in (
        ["git", "init", "-q"],
        ["git", "add", "."],
        ["git", "-c", "user.email=t@t", "-c", "user.name=t", "commit", "-qm", "init"],
    ):
        subprocess.run(cmd, cwd=repo, check=True)
    s = CodeGraphService(spark, str(root))
    s.analyze_repo(str(repo), "chatfix")
    return s


def test_chat_count_and_unreachable(chat_svc):
    assert chat_svc.chat("chatfix", "how many functions are there?")["answer"] >= 4
    out = chat_svc.chat("chatfix", "which functions are unreachable?")
    assert isinstance(out["answer"], list)


def test_chat_callers(chat_svc):
    out = chat_svc.chat("chatfix", "who calls 'low'?")
    names = {n["name"] for n in out["answer"]}
    assert names == {"mid", "top"}
    assert "CALLS" in out["query"]


def test_chat_most_called(chat_svc):
    out = chat_svc.chat("chatfix", "what are the most called functions?")
    top_entry = out["answer"][0]
    assert top_entry["name"] == "low" and top_entry["usage_count"] == 2


def test_chat_paths(chat_svc):
    out = chat_svc.chat("chatfix", "find paths from top to low")
    assert out["answer"], "top reaches low directly and via mid"
    for p in out["answer"]:
        assert p[0]["name"] == "top" and p[-1]["name"] == "low"


def test_chat_defined_in(chat_svc):
    out = chat_svc.chat("chatfix", "where is mid defined?")
    assert {n["name"] for n in out["answer"]} == {"main.py"}


def test_chat_unknown(chat_svc):
    out = chat_svc.chat("chatfix", "please order a pizza")
    assert out["answer"] is None and "error" in out


def test_chat_extends(chat_svc):
    out = chat_svc.chat("chatfix", "what extends Base?")
    assert {n["name"] for n in out["answer"]} == {"Child"}
    assert "EXTENDS" in out["query"]


def test_chat_entities_in_file(chat_svc):
    out = chat_svc.chat("chatfix", "functions defined in main.py")
    assert {n["name"] for n in out["answer"]} >= {"low", "mid", "top"}
    out = chat_svc.chat("chatfix", "classes in main.py")
    assert {n["name"] for n in out["answer"]} == {"Helper", "Base", "Child"}


def test_chat_least_covered(chat_svc):
    # no lcov ingested: every coverage is null -> empty list, not an error
    out = chat_svc.chat("chatfix", "what are the least covered files?")
    assert out["answer"] == []


def test_chat_raw_cypher_passthrough(chat_svc):
    """A pasted Cypher template executes through the read front-end
    (the reference's chat executes its generated Cypher the same way)."""
    out = chat_svc.chat(
        "chatfix", "MATCH (n:Class) WHERE n.name STARTS WITH 'Help' RETURN n.name")
    assert [r["n_name"] for r in out["answer"]] == ["Helper"]
    # unsupported Cypher degrades to an error, not a crash
    bad = chat_svc.chat("chatfix", "MATCH (n) DELETE n RETURN n")
    assert bad["answer"] is None and "error" in bad


def test_chat_match_prefixed_natural_language_falls_back(chat_svc):
    """A natural-language question that happens to start with 'match' is
    not valid Cypher; instead of surfacing a parse error the service falls
    back to the deterministic compiler (ADVICE r3)."""
    out = chat_svc.chat("chatfix", "match functions defined in main.py")
    assert out.get("error") is None
    assert isinstance(out["answer"], list) and len(out["answer"]) >= 3
    assert {r["name"] for r in out["answer"]} >= {"low", "mid", "top"}


@pytest.mark.parametrize("cap", [0, 10**9], ids=["spark", "resident"])
def test_chat_node_answers_are_the_nodes(chat_svc, cap):
    """The intents that step from named nodes over an edge answer with the
    far nodes exactly as `_encode_node` gives them: no edge columns from
    the edge⋈node join, on either serving path."""
    from unittest import mock

    from code_graph_backend_spark.service import resident
    from code_graph_backend_spark.service.api import _encode_node

    want = {r["id"]: _encode_node(r) for r in chat_svc._graph("chatfix").nodes.collect()}
    chat_svc._forget("chatfix")
    try:
        with mock.patch.object(resident, "ROW_CAP", cap):
            for q in ("who calls 'low'?", "what does top call?", "where is mid defined?",
                      "what extends Base?", "what implements Base?", "functions defined in main.py"):
                ans = chat_svc.chat("chatfix", q)["answer"]
                assert ans or "implements" in q, q
                for n in ans:
                    assert n == want[n["id"]], q
    finally:
        chat_svc._forget("chatfix")
