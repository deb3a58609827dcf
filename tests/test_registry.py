"""The query registry's surfaces agree with each other and with the oracles.

Pure checks over ``__spark_entry__``'s accessors and its record table; no
Spark session starts, so they run in the default suite.
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import __spark_entry__ as entrymod
from inde1_spark.oracles import ORACLES as ALL_ORACLES


def test_every_query_has_oracle():
    # moved from tests/test_oracle_parity.py: the production surface plus the
    # test-only twins, which ride the same parity harness
    QUERIES = {**entrymod.queries(), **entrymod.test_only_queries()}
    ORACLES = {**entrymod.oracle_sql(), **entrymod.test_only_oracle_sql()}
    missing = sorted(set(QUERIES) - set(ORACLES))
    # non-SQL-expressible ops may be absent from oracles; list them here.
    # Empty since r04: the minhash fast paths hash against the exact
    # ground-truth SQL (output equality pinned by test_dedup_fast_path),
    # and simhash-fast gates through its contract query.
    allowed_rows_only: set[str] = set()
    assert set(missing) <= allowed_rows_only, f"queries missing oracles: {missing}"
    stale = sorted(set(ORACLES) - set(QUERIES))
    assert not stale, f"oracles without queries: {stale}"


def test_every_staged_query_has_oracle():
    # moved from tests/test_staged_parity.py
    QUERIES = entrymod.staged_queries()
    ORACLES = entrymod.staged_oracle_sql()
    assert sorted(QUERIES) == sorted(ORACLES)


def test_staged_stay_out_of_production_surface():
    # moved from tests/test_staged_parity.py
    QUERIES = entrymod.staged_queries()
    ORACLES = entrymod.staged_oracle_sql()
    prod = set(entrymod.queries())
    assert not prod & set(QUERIES), "staged op leaked into queries()"
    assert not set(entrymod.oracle_sql()) & set(ORACLES), (
        "staged oracle leaked into oracle_sql()"
    )


def test_no_name_on_two_surfaces():
    # bench.py and tools/profile_bench.py merge {**staged_queries(),
    # **queries()}, which would silently hide a name on two surfaces; a name
    # twice on one surface would collapse in its accessor's dict
    names = [q.name for q in entrymod._table()]
    dups = sorted(n for n in set(names) if names.count(n) > 1)
    assert not dups, f"names registered twice: {dups}"


def test_every_oracle_has_a_record():
    records = {q.name for q in entrymod._table()}
    orphans = sorted(set(ALL_ORACLES) - records)
    assert not orphans, f"ORACLES keys without a query record: {orphans}"
