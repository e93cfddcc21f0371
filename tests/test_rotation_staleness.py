"""The grading rotation: `__spark_entry__._PRIORITY` is the hand-kept
order in which `queries()` yields the registry, and grading reads only
its head.

Hermetic: the checks read the registry and the list, never git history
or grading artifacts.
"""

from __future__ import annotations

import __spark_entry__ as entry
from code_graph_backend_spark import registry

# Grading reads at most ROWS_PER_ROUND queries from the head of queries()
# each round, and a row counts as fresh for STALE_ROUNDS rounds, so at
# most ROWS_PER_ROUND * STALE_ROUNDS queries can all stay fresh.
ROWS_PER_ROUND = 50
STALE_ROUNDS = 5
FROZEN_SIZE = 234


def test_all_registered_queries_have_a_rotation_position():
    names = entry._PRIORITY
    assert len(names) == len(set(names)), "_PRIORITY names a query twice"
    registered = set(registry.queries())
    unregistered = [q for q in names if q not in registered]
    assert not unregistered, f"_PRIORITY names unregistered queries: {unregistered}"
    unplaced = sorted(registered - set(names))
    assert not unplaced, f"registered queries missing from _PRIORITY: {unplaced}"
    assert list(entry.queries()) == names


def test_registry_frozen_at_evidence_budget_capacity():
    """The registry is frozen at 234 queries, inside the re-grading
    budget: a query past ROWS_PER_ROUND * STALE_ROUNDS could never be
    kept fresh."""
    size = len(registry.queries())
    assert size <= ROWS_PER_ROUND * STALE_ROUNDS
    assert size == FROZEN_SIZE, (
        f"registry holds {size} queries; it is frozen at {FROZEN_SIZE}"
    )
