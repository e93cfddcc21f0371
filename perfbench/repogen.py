"""Seeded generator of Python packages.

Each generated package comes with the graph it defines: the files, the
functions, and every call between them. The serve checks compare the
service's answers with this graph, never with anything the service
computed. Function names are unique inside a package and the call graph is
a DAG (a function only calls functions generated after it), so path sets
stay small enough to enumerate exactly.
"""

from __future__ import annotations

import os
import random
from dataclasses import dataclass

VERBS = ("load", "save", "parse", "build", "check", "merge", "scan", "emit",
         "fetch", "store", "split", "join", "sort", "read", "write", "index")
NOUNS = ("user", "node", "edge", "file", "graph", "token", "batch", "table",
         "query", "cache", "block", "page", "event", "frame", "chunk", "row")
PKG = "pkg"  # a namespace package: modules only, no __init__.py


@dataclass
class Package:
    """Generated source and the graph it defines."""

    files: dict[str, str]  # repo-relative path -> source text
    modules: list[list[str]]  # function names, per module, in file order
    calls: dict[str, tuple[str, ...]]  # function -> the functions it calls

    @property
    def functions(self) -> list[str]:
        return [f for mod in self.modules for f in mod]

    @property
    def file_names(self) -> list[str]:
        return [p.rsplit("/", 1)[-1] for p in self.files]

    def callers(self, name: str) -> set[str]:
        return {f for f, cs in self.calls.items() if name in cs}

    def edges(self) -> set[tuple[str, str, str]]:
        """(src name, dst name, type): DEFINES file->function, CALLS."""
        out = {(f, c, "CALLS") for f, cs in self.calls.items() for c in cs}
        for m, mod in enumerate(self.modules):
            out |= {(f"mod{m}.py", f, "DEFINES") for f in mod}
        return out

    def paths(self, src: str, dst: str, max_depth: int) -> list[tuple[str, ...]]:
        """Every simple CALLS path src -> dst of at most max_depth hops."""
        out: list[tuple[str, ...]] = []
        stack = [(src, (src,))]
        while stack:
            head, path = stack.pop()
            if len(path) - 1 >= max_depth:
                continue
            for nxt in self.calls.get(head, ()):
                if nxt == dst:
                    out.append(path + (nxt,))
                elif nxt not in path:
                    stack.append((nxt, path + (nxt,)))
        return sorted(out)


def _names(rng: random.Random, n: int, taken: set[str]) -> list[str]:
    out = []
    while len(out) < n:
        name = f"{rng.choice(VERBS)}_{rng.choice(NOUNS)}{rng.randrange(100)}"
        if name not in taken:
            taken.add(name)
            out.append(name)
    return out


def _render(modules: list[list[str]], calls: dict[str, tuple[str, ...]]) -> dict[str, str]:
    home = {f: m for m, mod in enumerate(modules) for f in mod}
    files = {}
    for m, mod in enumerate(modules):
        imports = sorted({(home[c], c) for f in mod for c in calls[f] if home[c] != m})
        lines = [f"from .mod{im} import {c}\n" for im, c in imports]
        lines.append(f'"""Generated module {m}."""\n\n')
        for f in mod:
            lines.append(f"def {f}():\n")
            lines.extend(f"    {c}()\n" for c in calls[f])
            lines.append(f"    return {len(calls[f])}\n\n")
        files[f"{PKG}/mod{m}.py"] = "".join(lines)
    return files


def _wire(rng: random.Random, modules: list[list[str]]) -> dict[str, tuple[str, ...]]:
    """Callees of every function: 0-3 each, all later in generation order
    and at most 24 positions ahead."""
    order = [f for mod in modules for f in mod]
    calls = {}
    for i, f in enumerate(order):
        ahead = order[i + 1: i + 25]
        k = min(len(ahead), rng.choice((0, 1, 1, 2, 2, 3)))
        calls[f] = tuple(sorted(rng.sample(ahead, k)))
    return calls


def make_package(rng: random.Random, n_mod: int, n_fun: int) -> Package:
    taken: set[str] = set()
    modules = [_names(rng, n_fun, taken) for _ in range(n_mod)]
    calls = _wire(rng, modules)
    return Package(_render(modules, calls), modules, calls)


def write_tree(pkg: Package, root: str) -> None:
    for rel, src in pkg.files.items():
        path = os.path.join(root, rel)
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as fh:
            fh.write(src)
