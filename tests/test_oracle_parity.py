"""Local replica of the driver's correctness gate: run each
``__spark_entry__.queries()`` entry at sf0.01 AND its DuckDB oracle,
compare row count, column names, and order-insensitive values
(exact — including doubles, which both sides round identically). Each
query is also checked for leftovers: after ``collect()`` nothing it
ran may stay persisted or cached."""

import contextlib
import math
import os
import sys

import duckdb
import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import __spark_entry__ as entry_mod

# driver gate runs at sf0.01; override to re-prove parity at a larger
# scale factor (e.g. SPARK_GRAFT_ORACLE_SF=/root/testdata/sf0.1)
SF_DIR = os.environ.get("SPARK_GRAFT_ORACLE_SF", "/root/testdata/sf0.01")


@pytest.fixture(scope="module")
def duck():
    con = duckdb.connect()
    for t in entry_mod.TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{SF_DIR}/{t}.parquet'"
        )
    return con


def _normalize(rows, cols):
    """Sort columns by name, normalize cell values, sort rows."""
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    out = []
    for row in rows:
        vals = []
        for i in order:
            v = row[i]
            if isinstance(v, float):
                if math.isnan(v):
                    v = "nan"
                else:
                    v = round(v, 9)
            vals.append(v)
        out.append(tuple(vals))
    out.sort(key=lambda t: tuple(str(x) for x in t))
    return out


ORACLES = entry_mod.oracle_sql()
QUERIES = entry_mod.queries()
#: exempt from the leftover check: their results are read from
#: lineage-truncating localCheckpoints, which must live as long as the result
ITERATIVE = {"dedup_components", "domain_pagerank", "domain_hits"}


def _collect(spark, leaves_nothing, name):
    """Run query ``name`` and collect it; every query outside
    ``ITERATIVE`` must leave no persisted RDD and no cached plan."""
    with contextlib.nullcontext() if name in ITERATIVE else leaves_nothing():
        sdf = QUERIES[name](spark, SF_DIR)
        return sdf.columns, [tuple(r) for r in sdf.collect()]


@pytest.mark.parametrize("name", sorted(ORACLES))
def test_query_matches_oracle(spark, duck, leaves_nothing, name):
    s_cols, s_rows = _collect(spark, leaves_nothing, name)

    res = duck.sql(ORACLES[name])
    d_cols = [c[0] for c in res.description]
    d_rows = res.fetchall()

    assert sorted(s_cols) == sorted(d_cols), f"{name}: column names differ"
    assert len(s_rows) == len(d_rows), (
        f"{name}: row count {len(s_rows)} vs oracle {len(d_rows)}"
    )
    sn = _normalize(s_rows, s_cols)
    dn = _normalize(d_rows, d_cols)
    mismatches = [(a, b) for a, b in zip(sn, dn) if a != b]
    assert not mismatches, f"{name}: first mismatch {mismatches[0]}"


@pytest.mark.parametrize("name", sorted(set(QUERIES) - set(ORACLES)))
def test_rows_only_queries_run(spark, leaves_nothing, name):
    """Queries without an oracle still must run and return rows with a
    stable schema."""
    cols, rows = _collect(spark, leaves_nothing, name)
    assert cols
    assert len(rows) >= 0


def test_entry_smoke(spark):
    df = entry_mod.entry(spark)
    rows = df.collect()
    assert len(rows) > 0
    assert "rule_name" in df.columns
