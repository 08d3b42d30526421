"""Driver-contract invariants for __spark_entry__.

The correctness driver samples queries() front-to-back (~50 slots), so
ordering mistakes (a typo'd name in _DRIVER_PRIORITY, a no-oracle query
occupying an early slot) silently cost green rows.  These tests pin the
contract without needing a Spark session.
"""

import importlib
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

entry = importlib.import_module("__spark_entry__")

from parquet_query_spark.operators.catalog import load_all  # noqa: E402

CATALOG = load_all()


def test_priority_names_all_exist_in_catalog():
    missing = [n for n in entry._DRIVER_PRIORITY if n not in CATALOG]
    assert not missing, f"typo'd priority names: {missing}"
    missing_last = [n for n in entry._DRIVER_LAST if n not in CATALOG]
    assert not missing_last, f"typo'd _DRIVER_LAST names: {missing_last}"


def test_ordering_covers_catalog_exactly_once():
    order = list(entry._ordered(CATALOG))
    assert len(order) == len(CATALOG)
    assert len(set(order)) == len(order)


def test_first_fifty_sample_slots_are_all_oracle_backed():
    order = list(entry._ordered(CATALOG))
    no_oracle_early = [n for n in order[:50] if not CATALOG[n].oracle]
    assert not no_oracle_early, (
        f"no-oracle queries burning sample slots: {no_oracle_early}"
    )


def test_no_oracle_queries_are_last():
    order = list(entry._ordered(CATALOG))
    tail = order[-len(entry._DRIVER_LAST):] if entry._DRIVER_LAST else []
    assert tail == [n for n in entry._DRIVER_LAST if n in CATALOG]


def test_oracle_sql_is_subset_of_queries_with_same_names():
    qs = set(CATALOG)
    oracles = {n for n, s in CATALOG.items() if s.oracle}
    assert oracles <= qs
    # every catalog entry is oracle-backed (the xxhash64 fast path gained
    # a generated pure-SQL XXH64 oracle in round 5 — unverifiable set is
    # empty and must stay empty)
    assert qs == oracles, f"entries without an oracle: {qs - oracles}"


def test_rotation_is_staleness_ordered():
    """VERDICT r7 #2/#8: the computed portion of the presentation order
    must be oldest-driver-green first, with never-green ops at the very
    front — so the ~50-slot sample window always re-witnesses the stalest
    operators (or first-witnesses brand-new ones)."""
    latest = entry._latest_green_rounds()
    order = list(entry._ordered(CATALOG))
    manual = set(entry._DRIVER_PRIORITY) | set(entry._DRIVER_LAST)
    computed = [n for n in order if n not in manual]
    keys = [latest.get(n, 0) for n in computed]
    assert keys == sorted(keys), "rotation not oldest-green-first"


def test_latest_green_rounds_reads_committed_files():
    latest = entry._latest_green_rounds()
    # every round-7 sampled green op must be present at round >= 7
    assert latest.get("agg_weighted_median", 0) >= 7
    # r1-only ops must carry their r1 stamp, not be dropped
    assert latest.get("q1_pricing_summary") >= 1


def test_query_rejects_duplicate_name():
    """A second ``@query`` under a registered name raises instead of
    silently replacing the first registration."""
    import pytest

    from parquet_query_spark.operators.catalog import query

    first = CATALOG["q1_pricing_summary"]
    with pytest.raises(ValueError, match="q1_pricing_summary"):

        @query("q1_pricing_summary", oracle="SELECT 1")
        def q1_pricing_summary(spark, sf_dir):  # pragma: no cover
            raise AssertionError

    assert CATALOG["q1_pricing_summary"] is first
