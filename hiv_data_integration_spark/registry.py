"""The battery registry: every oracle-checked entry's query and DuckDB
oracle, merged once from the three battery modules, and the order in which
the driver's verification window visits them.

The driver hash-checks only the first 50 ``queries()`` entries per round
and commits each round's results as ``CORRECTNESS_r<N>.json``. The window
order is derived from that history (:func:`window_order`): entries never
green in any round first, then the rest by the round they were last green
in, oldest first — so verification keeps cycling over the whole battery
with nothing to rotate by hand.
"""

from __future__ import annotations

import json
import os
import re
from collections.abc import Iterable, Mapping

from hiv_data_integration_spark.battery import ORACLE as _CORE_ORACLE
from hiv_data_integration_spark.battery import QUERIES as _CORE_QUERIES
from hiv_data_integration_spark.battery import QueryFn
from hiv_data_integration_spark.battery_ext import EXT_ORACLE, EXT_QUERIES
from hiv_data_integration_spark.battery_sql import SQL2_ORACLE, SQL2_QUERIES
from hiv_data_integration_spark.benchmarks import pipeline_a_ist_scaled

__all__ = [
    "QUERIES",
    "ORACLE",
    "BENCH_QUERIES",
    "window_order",
    "correctness_history",
]

#: entry name → query, in registration order
QUERIES: dict[str, QueryFn] = {**_CORE_QUERIES, **EXT_QUERIES, **SQL2_QUERIES}
#: entry name → DuckDB oracle SQL producing the same column names
ORACLE: dict[str, str] = {**_CORE_ORACLE, **EXT_ORACLE, **SQL2_ORACLE}
#: what the bench and plan tools time: every battery entry plus the
#: bench-only full-width report pipeline (154-col IST contract × 86 rules
#: over a 107,800-row fact; no DuckDB oracle — the pipeline goldens in
#: tests/test_pipelines.py cover its correctness)
BENCH_QUERIES: dict[str, QueryFn] = {
    **QUERIES,
    "pipeline_a_ist_scaled": pipeline_a_ist_scaled,
}

_ROUND_FILE = re.compile(r"CORRECTNESS_r(\d+)\.json")


def _is_green(result: Mapping) -> bool:
    """One entry's result in one round passed every driver check."""
    checks = ("rows_match", "schema_match", "hash_match")
    return all(result.get(k) is True for k in checks) and result.get("err") is None


def window_order(
    names: Iterable[str], rounds: Iterable[Mapping[str, Mapping]]
) -> list[str]:
    """Order ``names`` for the verification window from per-round results
    (oldest round first, each ``{name: result}`` in the round's file order).

    Names with no green round come first, in their given order; the rest
    follow by ascending last-green round, ties broken by position in that
    round's results. A name red in a later round keeps its earlier green;
    history names that are not in ``names`` are ignored.
    """
    last_green: dict[str, tuple[int, int]] = {}
    for rnd, results in enumerate(rounds):
        for pos, (name, result) in enumerate(results.items()):
            if _is_green(result):
                last_green[name] = (rnd, pos)
    names = list(names)
    never = [n for n in names if n not in last_green]
    seen = sorted((n for n in names if n in last_green), key=last_green.__getitem__)
    return never + seen


def correctness_history(directory: str) -> list[dict[str, dict]]:
    """The parsed ``CORRECTNESS_r<N>.json`` files in ``directory``, in
    numeric round order (r2 before r10)."""
    found = sorted(
        (int(m.group(1)), name)
        for name in os.listdir(directory)
        if (m := _ROUND_FILE.fullmatch(name))
    )
    rounds = []
    for _, name in found:
        with open(os.path.join(directory, name), encoding="utf-8") as f:
            rounds.append(json.load(f))
    return rounds
