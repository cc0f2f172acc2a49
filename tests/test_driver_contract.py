"""Driver-contract invariants.

Two things break the driver's correctness gate silently:

1. the verification-window ordering in __spark_entry__ (only the first 50
   ``queries()`` entries are hash-checked per round), and
2. oracle SQL output typing — DuckDB renders HUGEINT (its int128 result
   type for ``sum()`` over integers) differently from Spark's BIGINT in
   the driver's value hash even when the values are identical (root cause
   of all 9 round-3 hash fails). Every integer aggregate in oracle SQL
   must be CAST to BIGINT; this suite DESCRIBEs every oracle to enforce
   it, and greps for bare ``ln(``/``log(`` (libm-dependent, not
   bit-portable across engines — keep them out of hashed projections).
"""

from __future__ import annotations

import glob
import json
import os
import re
import sys

import duckdb
import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

import __spark_entry__ as contract
from hiv_data_integration_spark import registry

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")


def test_registry_complete_and_oracled():
    q = contract.queries()
    o = contract.oracle_sql()
    assert len(q) >= 99
    # every registered query now carries a DuckDB oracle — the last
    # rows-only entry (fuzzy_resolve_suppliers) got a provable typo-mangle
    # construction in round 4
    missing = [k for k in q if k not in o]
    assert missing == []
    assert set(o) <= set(q)


def _history():
    """The committed CORRECTNESS_r<N>.json files, oldest round first."""
    found = []
    for path in glob.glob(os.path.join(ROOT, "CORRECTNESS_r*.json")):
        m = re.fullmatch(r"CORRECTNESS_r(\d+)\.json", os.path.basename(path))
        if m:
            found.append((int(m.group(1)), path))
    rounds = []
    for _, path in sorted(found):
        with open(path, encoding="utf-8") as f:
            rounds.append(json.load(f))
    return rounds


def _green(res):
    return (
        res["rows_match"] is True
        and res["schema_match"] is True
        and res["hash_match"] is True
        and res["err"] is None
    )


def test_window_prioritizes_unverified_entries():
    names = list(contract.queries())
    # nothing is dropped or duplicated by the ordering
    assert len(names) == len(set(names))
    assert set(names) == set(registry.QUERIES)
    rounds = _history()
    assert rounds, "no CORRECTNESS history next to __spark_entry__.py"
    last = {}
    for rnd, results in enumerate(rounds):
        for pos, (k, res) in enumerate(results.items()):
            if _green(res):
                last[k] = (rnd, pos)
    # never-green entries verify FIRST, in registration order
    never = [k for k in registry.QUERIES if k not in last]
    assert names[: len(never)] == never
    # then oldest signal first: last-green rounds never decrease, and a
    # tie keeps that round's file order
    signal = [last[k] for k in names[len(never):]]
    assert signal == sorted(signal)
    # the window moves on: when enough other entries exist, it never
    # re-verifies what the latest round just verified
    latest = {k for k, res in rounds[-1].items() if _green(res)}
    if len(set(names) - latest) >= 50:
        assert not latest & set(names[:50])


def test_window_order_on_synthetic_history():
    g = {"rows_match": True, "schema_match": True, "hash_match": True, "err": None}
    red = {**g, "hash_match": False}
    errored = {**g, "err": "boom"}
    rounds = [
        {"a": g, "b": g, "gone": g},
        {"c": g, "d": g, "b": g},
        {"a": red, "e": errored, "gone": g},
    ]
    names = ["d", "new", "a", "b", "c", "e"]
    # new: never seen; e: only errored → never green (registration order);
    # a: red in the latest round, sorts by its round-1 green; c, d, b tie
    # on round 2 and keep that file's order; gone: not registered, ignored
    assert registry.window_order(names, rounds) == ["new", "e", "a", "c", "d", "b"]
    assert registry.window_order([], rounds) == []
    assert registry.window_order(names, []) == names


@pytest.fixture(scope="module")
def duck():
    con = duckdb.connect()
    from hiv_data_integration_spark.battery import TABLES

    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS "
            f"SELECT * FROM read_parquet('{SF_DIR}/{t}.parquet')"
        )
    yield con
    con.close()


# types whose driver-hash rendering differs from the Spark schema the
# paired query produces: HUGEINT is DuckDB's int128 sum() result (no Spark
# twin); UTINYINT..UBIGINT can sneak in via positional arithmetic
_FORBIDDEN_DUCK_TYPES = re.compile(r"HUGEINT|UTINYINT|USMALLINT|UINTEGER|UBIGINT")


@pytest.mark.parametrize("name", sorted(contract.oracle_sql()))
def test_oracle_output_types_are_hash_portable(name, duck):
    sql = contract.oracle_sql()[name]
    cols = duck.execute(f"DESCRIBE {sql}").fetchall()
    bad = [
        (c[0], c[1]) for c in cols if _FORBIDDEN_DUCK_TYPES.search(c[1] or "")
    ]
    assert not bad, (
        f"{name}: oracle output columns {bad} have driver-hash-unportable "
        f"DuckDB types — CAST integer aggregates to BIGINT"
    )


def test_array_output_guard_catches_unhashable_schemas():
    """The round-4 lesson, generalized (like the HUGEINT guard): the
    driver's pandas canonicalizer cannot hash ArrayType/MapType output
    columns — ``factorize`` raises ``TypeError: unhashable type: 'list'``
    before any comparison happens, so such a query can NEVER go green.
    ``driver_hashable_violations`` must flag exactly those schemas; the
    battery-wide application runs in tests/test_oracle_parity.py against
    every ``queries()`` entry's actual result schema."""
    from pyspark.sql import types as T

    from hiv_data_integration_spark.battery import driver_hashable_violations

    bad = T.StructType(
        [
            T.StructField("user", T.LongType()),
            T.StructField("sequence", T.ArrayType(T.StringType())),
            T.StructField("attrs", T.MapType(T.StringType(), T.LongType())),
        ]
    )
    viols = driver_hashable_violations(bad)
    assert viols == [
        "sequence: array<string>",
        "attrs: map<string,bigint>",
    ]

    good = T.StructType(
        [
            T.StructField("user", T.LongType()),
            T.StructField("sequence", T.StringType()),
            T.StructField("val", T.DoubleType()),
        ]
    )
    assert driver_hashable_violations(good) == []


def test_no_libm_functions_in_oracles():
    # ln/log results are libm-dependent and differ across engines at the
    # last ulp — hashed projections must stay integer/IEEE-exact (the
    # float-score twins are verified by same-engine pytests instead)
    bare_log = re.compile(r"(?<![\w.])(ln|log|log2|log10|exp)\s*\(", re.I)
    offenders = {
        name: bare_log.findall(sql)
        for name, sql in contract.oracle_sql().items()
        if bare_log.search(sql)
    }
    assert not offenders, f"libm-dependent fns in hashed oracles: {offenders}"
