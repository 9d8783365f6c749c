"""Driver-contract parity gate: every registered query vs its DuckDB oracle
(row count + column set + exact values — stricter than the driver's
order-insensitive value hash). Runs at sf0.001 for speed; the driver runs
the same comparison at sf0.01 (verified green in-session at both SFs)."""

import pytest

from corsearch_project_spark.queries import REGISTRY
from corsearch_project_spark.queries.parity import check_all, duck_connection, compare

from conftest import SF_CORRECT, SF_SMOKE


def test_entry_smoke(spark):
    import __spark_entry__ as E

    df = E.entry(spark)
    rows = df.collect()
    assert len(rows) > 0
    assert set(E.queries()) >= set(E.oracle_sql())


def test_coverage_header_query_count_matches_registry():
    """COVERAGE.md's status header states the registered-query count; it
    must not drift from the registry."""
    import os
    import re

    from corsearch_project_spark.queries import spark_queries

    path = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
                        "COVERAGE.md")
    with open(path) as f:
        header = f.read().split("\n\n", 2)[1]
    m = re.search(r"(\d+) registered queries", header)
    assert m, "COVERAGE.md status header lost its registered-query count"
    assert int(m.group(1)) == len(spark_queries())


@pytest.mark.parametrize("name", sorted(REGISTRY))
def test_query_parity(spark, name, _duck=[]):
    if not _duck:
        _duck.append(duck_connection(SF_SMOKE))
    qd = REGISTRY[name]
    df = qd.fn(spark, SF_SMOKE)
    if qd.oracle is None:
        assert df.count() >= 0
        return
    ok, msg = compare(df, _duck[0], qd.oracle)
    assert ok, f"{name}: {msg}"


def test_approx_distinct_within_rsd_bound_of_exact(spark):
    """Bounded-error oracle for the one rows-only query (round-2 verdict
    item 9): |approx - exact| / exact <= 3*rsd per group against DuckDB's
    exact distinct count at sf0.01."""
    import duckdb

    from corsearch_project_spark.queries.relational import q_approx_distinct

    sf = SF_CORRECT
    got = {
        r["o_orderstatus"]: r["approx_customers"]
        for r in q_approx_distinct(spark, sf).collect()
    }
    con = duckdb.connect()
    exact = {
        k: v
        for k, v in con.execute(
            "SELECT o_orderstatus, count(DISTINCT o_custkey) "
            f"FROM '{sf}/orders.parquet' GROUP BY 1"
        ).fetchall()
    }
    assert set(got) == set(exact)
    rsd = 0.02
    for k, ex in exact.items():
        assert abs(got[k] - ex) / ex <= 3 * rsd, (k, got[k], ex)
