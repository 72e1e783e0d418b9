"""Registry integrity, checked without a Spark session: every query entry
has its oracle twin, every expected-parquet gate and generator names a live
entry, and the bench harness imports with callable entries. A half-deleted
entry fails here, in seconds, instead of only in tools/selfcheck.py.
"""

from __future__ import annotations

import os

import __spark_entry__ as E
from tools import gen_expected as G

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_every_query_has_an_oracle_and_back():
    assert set(E.queries()) == set(E.oracle_sql())


def test_expected_oracle_cases_name_live_entries():
    import test_expected_oracles as X

    queries = E.queries()
    for name, (qfn, _table, gfn) in X.CASES.items():
        assert queries.get(name) is qfn, name
        assert G.GENERATORS[name][1] is gfn, name


def test_generators_name_live_entries_and_committed_files():
    queries = E.queries()
    assert not set(G.GENERATORS) - set(queries)
    for sf in ("sf0.001", "sf0.01"):
        committed = {
            f.removesuffix(".parquet")
            for f in os.listdir(os.path.join(REPO, "expected", sf))
        }
        assert committed == set(G.GENERATORS), sf


def test_bench_imports_with_callable_entries():
    import bench

    assert bench.BENCH_QUERIES
    for name, fn in bench.BENCH_QUERIES.items():
        assert callable(fn), name
