"""Workload membership and the queries each run times.

Membership is derived from the module that registered each query
(``REGISTRY[name].fn.__module__``), so the three workloads partition the
whole registry and a new operator lands in exactly one of them without a
hand-kept list. A module that belongs to no workload fails the run.

A run times a pinned subset of its workload: the query names committed in
``subsets.json``. Adding a query, or re-recording the expected row counts,
leaves the subset alone, so a change and its parent time the same queries.
``record.py --pin`` re-draws the subset; do that only in a change to the
benchmark alone.
"""

from __future__ import annotations

import json
import os

MODULES = {
    "sql_telemetry": (
        "operators.aggregates",
        "operators.analytics",
        "operators.filters",
        "operators.joins",
        "operators.setops",
        "operators.sorts",
        "operators.subqueries",
        "operators.windows",
        "operators.telemetry",
        "functions.scalars",
        "functions.udfs",
    ),
    "llm_pipeline": ("operators.llm_text", "operators.llm_sim", "operators.llm_dedup", "operators.ml_eval"),
    "ingest_stream": ("sources.formats", "operators.multimodal", "streaming.streams"),
}
PACKAGE = "rvi_big_data_api_spark."
PINNED = os.path.join(os.path.dirname(os.path.abspath(__file__)), "subsets.json")
SIZED_FOR_S = 16  # the pinned subsets take about this many seconds on 4 CPUs
MIN_SAMPLE = 5


def module_of(name: str) -> str:
    """Registering module of a query, relative to the package
    (``operators.joins``)."""
    from rvi_big_data_api_spark.registry import REGISTRY

    return REGISTRY[name].fn.__module__.removeprefix(PACKAGE)


def layer_of(name: str) -> str:
    """Last component of the registering module: the per-layer metric suffix."""
    return module_of(name).rsplit(".", 1)[-1]


def members() -> dict[str, list[str]]:
    """Workload -> sorted query names, covering every registered query."""
    import rvi_big_data_api_spark as engine

    owner = {m: w for w, mods in MODULES.items() for m in mods}
    out: dict[str, list[str]] = {w: [] for w in MODULES}
    for name in sorted(engine.queries()):
        mod = module_of(name)
        if mod not in owner:
            raise LookupError(f"query {name!r} is registered by {mod!r}, which no workload owns")
        out[owner[mod]].append(name)
    return out


def subset(names: list[str], cost: dict[str, float], n: int) -> list[str]:
    """A cost-spread subset of about ``n`` queries of one workload, in name
    order.

    Each registering module gets a share of ``n`` in proportion to its size
    (at least one query). Within a module the queries are ranked by their
    cost, split into as many equal groups as the module's share, and the
    middle query of each group is taken, so the subset spans every module and
    each module's cost range. ``record.py --pin`` uses it to re-draw
    ``subsets.json``."""
    by_module: dict[str, list[str]] = {}
    for q in names:
        by_module.setdefault(module_of(q), []).append(q)
    quota = {m: n * len(qs) / len(names) for m, qs in by_module.items()}
    share = {m: max(1, int(quota[m])) for m in by_module}
    for m in sorted(by_module, key=lambda m: quota[m] - int(quota[m]), reverse=True)[: max(0, n - sum(share.values()))]:
        share[m] += 1
    out = []
    for m, qs in by_module.items():
        ranked = sorted(qs, key=lambda q: (cost[q], q))
        k = min(share[m], len(ranked))
        out += [ranked[(2 * i + 1) * len(ranked) // (2 * k)] for i in range(k)]
    return sorted(out)


def pinned() -> dict[str, list[str]]:
    """Workload -> its pinned queries, in name order."""
    with open(PINNED) as f:
        return json.load(f)


def pick(workload: str, seconds: float) -> list[str]:
    """The queries of one run, in the order they run: name order.

    At ``--seconds`` ``SIZED_FOR_S`` this is the whole pinned subset; a
    shorter run takes evenly spaced names from it (at least ``MIN_SAMPLE``).

    The order is the same in every run because a query's time depends on
    the queries before it: the first query of a memo family pays for the
    memo, and some queries run several times faster after others have warmed
    shared state. Seed-dependent orders moved those costs between queries
    and spread the run's percentiles."""
    names = pinned()[workload]
    n = min(len(names), max(MIN_SAMPLE, round(len(names) * seconds / SIZED_FOR_S)))
    return [names[(2 * i + 1) * len(names) // (2 * n)] for i in range(n)]
