"""serve_read: one client in a closed loop over the HTTP routes.

Set-up generates three packages of different sizes, ingests each with
`analyze_folder`, then sends 16 untimed requests that ask each kind on
each repo, and each chat question, once. The timed part
sends passes of 16 requests (6 neighbors, 3 entities, 3 paths, 2 chat,
1 complete, 1 info; 7/6/3 on the big, middle and small repo) through
`create_app(...).test_client()`: no socket, no server thread. Each pass is
a fresh seeded draw, and no request names a function an earlier request of
its kind named on that repo. The mix and the split are chosen by hand, not
taken from recorded traffic (NOTES.md).
"""

from __future__ import annotations

import os
import random
import time

from . import checks, repogen

REPOS = {"big": (16, 12), "mid": (8, 10), "small": (4, 6)}  # modules, functions each
# One pass: (kind, repo) for each request, so every pass costs about the
# same whatever the seed; the seed draws the targets and the order.
PASS = ([("neighbors", "big")] * 3 + [("neighbors", "mid")] * 2 + [("neighbors", "small")]
        + [("entities", r) for r in REPOS] + [("paths", r) for r in REPOS]
        + [("chat", "big"), ("chat", "mid"), ("complete", "big"), ("info", "mid")])
N_PASSES = 40
PASS_S = 6.5  # nominal time of a pass on a 4-core host: three per 20 s run
# Pass k asks the big repo question 2k and the middle one question 2k+1,
# in turn. Pass 1, the first traced pass of a traced run, asks the two
# that reach an operator layer: cypher and unreachable.
CHATS = ("count", "callees", "cypher", "unreachable", "callers")


class _Fresh:
    """Seeded draws that do not repeat: each (kind, repo) takes functions
    from its own shuffled deck and reshuffles only when the deck is used
    up, so within a run's first passes no request names a function that an
    earlier request of its kind and repo named (a per-target plan or result
    cache never hits), and every run sees the same share of repeats."""

    def __init__(self, rng: random.Random):
        self.rng = rng
        self.decks: dict[tuple[str, str], list[str]] = {}
        self.seen: set[tuple[str, str, str]] = set()

    def function(self, kind: str, repo: str, pkg: repogen.Package) -> str:
        deck = self.decks.get((kind, repo))
        if not deck:
            deck = self.decks[kind, repo] = self.rng.sample(pkg.functions, len(pkg.functions))
        return deck.pop()

    def unseen(self, kind: str, repo: str, key: str) -> bool:
        """True the first time (kind, repo, key) is asked about."""
        new = (kind, repo, key) not in self.seen
        self.seen.add((kind, repo, key))
        return new


def _path_pair(rng: random.Random, fresh: _Fresh, repo: str, pkg: repogen.Package,
               want_paths: bool) -> tuple[str, str]:
    """A (src, dst) pair with 1-8 call paths, or with none, of functions
    no earlier path request on the repo named. Failing that after 64
    draws: the last draw, or a pair with no path."""
    order = [f for f in pkg.functions if ("paths", repo, f) not in fresh.seen]
    if len(order) < 2:
        fresh.seen -= {("paths", repo, f) for f in pkg.functions}
        order = pkg.functions
    for _ in range(64):
        i = rng.randrange(len(order) - 1)
        src, dst = order[i], order[rng.randrange(i + 1, min(len(order), i + 40))]
        if (1 <= len(pkg.paths(src, dst, checks.MAX_DEPTH)) <= 8) == want_paths:
            break
    else:
        if not want_paths:
            src, dst = order[-1], order[0]  # a DAG: no path back
    fresh.unseen("paths", repo, src)
    fresh.unseen("paths", repo, dst)
    return src, dst


def _request(rng: random.Random, fresh: _Fresh, kind: str, repo: str,
             pkg: repogen.Package, chat: str) -> list:
    if kind == "neighbors":
        return [kind, repo, fresh.function(kind, repo, pkg)]
    if kind == "paths":  # the small repo's pair has no path
        return [kind, repo, *_path_pair(rng, fresh, repo, pkg, repo != "small")]
    if kind == "complete":
        for _ in range(64):
            prefix = fresh.function(kind, repo, pkg)[: rng.choice((2, 3, 5, 7))]
            if fresh.unseen(kind, repo, prefix):
                break
        return [kind, repo, prefix]
    if kind == "chat":
        return [kind, repo, chat, fresh.function(kind, repo, pkg)]
    return [kind, repo]


def generate(seed: int) -> tuple[dict, list[list], list[list[list]]]:
    """The packages by repo name, the warm-up pass and the request passes."""
    rng = random.Random(seed)
    repos = {name: repogen.make_package(rng, *size) for name, size in REPOS.items()}
    fresh = _Fresh(rng)
    # Warm-up: each (kind, repo) of a pass once, and each chat question
    # once, so no timed pass is the first to ask anything.
    warm = [_request(rng, fresh, k, r, repos[r], "") for k, r in dict.fromkeys(PASS) if k != "chat"]
    warm += [_request(rng, fresh, "chat", ("big", "mid")[j % 2], repos[("big", "mid")[j % 2]], q)
             for j, q in enumerate(CHATS)]
    passes = []
    for i in range(N_PASSES):
        chats = {"big": CHATS[2 * i % len(CHATS)], "mid": CHATS[(2 * i + 1) % len(CHATS)]}
        plan = PASS[:]
        rng.shuffle(plan)
        passes.append([_request(rng, fresh, k, r, repos[r], chats.get(r, ""))
                       for k, r in plan])
    return repos, warm, passes


QUESTIONS = {
    "count": "how many functions are there?",
    "callees": "what does {} call?",
    "callers": "who calls {}?",
    "unreachable": "which functions are never called?",
    "cypher": "MATCH (a:Function)-[:CALLS]->(b:Function) WHERE a.name = '{}' RETURN b.name AS name",
}


def send(client, ids: dict[str, dict[str, int]], req: list):
    kind, repo, *args = req
    if kind == "neighbors":
        return client.post("/get_neighbors", json={"repo": repo, "node_ids": [ids[repo][args[0]]]})
    if kind == "paths":
        return client.post("/find_paths", json={"repo": repo, "src": ids[repo][args[0]],
                                                "dest": ids[repo][args[1]]})
    if kind == "complete":
        return client.post("/auto_complete", json={"repo": repo, "prefix": args[0]})
    if kind == "entities":
        return client.get("/graph_entities", query_string={"repo": repo})
    if kind == "info":
        return client.post("/repo_info", json={"repo": repo})
    return client.post("/chat", json={"repo": repo, "msg": QUESTIONS[args[0]].format(args[1])})


def check(pkg: repogen.Package, id_name: dict[int, str], req: list, status: int, body: dict) -> bool:
    if status != 200 or not isinstance(body, dict):
        return False
    kind, _, *args = req
    if kind == "neighbors":
        return checks.neighbors(pkg, args[0], body)
    if kind == "paths":
        return checks.paths(pkg, args[0], args[1], body)
    if kind == "complete":
        return checks.complete(pkg, args[0], body)
    if kind == "entities":
        return checks.entities(pkg, id_name, body)
    if kind == "info":
        return checks.info(pkg, body)
    return checks.chat(pkg, args[0], args[1], body)


def run(ctx) -> None:
    from code_graph_backend_spark.graph.model import PropertyGraph
    from code_graph_backend_spark.service import CodeGraphService
    from code_graph_backend_spark.service.http import create_app

    truth, warm, passes = generate(ctx.seed)
    svc = CodeGraphService(ctx.spark, os.path.join(ctx.work, "store"))
    t0 = time.perf_counter()
    for name, pkg in truth.items():
        repogen.write_tree(pkg, os.path.join(ctx.work, name))
        svc.analyze_folder(os.path.join(ctx.work, name), name)
    ctx.values["ingest_s"] = time.perf_counter() - t0
    ids = {}
    files = 0  # File nodes the ingest stored: one per source file it parsed
    for name, pkg in truth.items():
        rows = PropertyGraph.load(ctx.spark, svc.root, name).nodes.select(
            "id", "name", "labels").collect()
        ids[name] = {r["name"]: r["id"] for r in rows}
        files += sum("File" in r["labels"] for r in rows)
        ctx.tally.record(f"ids:{name}", len(ids[name]) == len(rows)
                         and set(ids[name]) == set(pkg.functions + pkg.file_names))
    ctx.values["sources.files_parsed"] = files
    id_name = {name: {i: n for n, i in m.items()} for name, m in ids.items()}

    client = create_app(svc).test_client()

    def one(req: list, timed: bool) -> None:
        if timed:
            ctx.begin_op("request")
        t0 = time.perf_counter()
        try:
            with ctx.span("service.http"):
                resp = send(client, ids, req)
            status, body = resp.status_code, resp.get_json(silent=True)
        except Exception as ex:  # a failed request is counted, not fatal
            ctx.log(f"{req}: {ex!r}")
            status, body = 0, None
        lat = time.perf_counter() - t0
        ok = status != 0 and check(truth[req[1]], id_name[req[1]], req, status, body)
        ctx.tally.record(" ".join(map(str, req)), ok)
        if timed:
            ctx.sample(req[0], lat, f"{req[0]}:{req[1]}")

    for req in warm:
        one(req, False)
    ctx.timed_passes([lambda p=p: [one(req, True) for req in p] for p in passes], PASS_S)
