"""Driver-contract rehearsal: every oracle-checked ``queries()`` entry
must match its ``oracle_sql()`` recomputation on sf0.01 — row count,
column names, and exact values after column-name + row sort (the
driver's order-insensitive value-hash compare)."""

from __future__ import annotations

import math

import duckdb
import pytest

import __spark_entry__ as entrymod

SF_DIR = "/root/testdata/sf0.01"
TABLES = ("events", "documents")


@pytest.fixture(scope="module")
def duck():
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{SF_DIR}/{t}.parquet'")
    yield con
    con.close()


def _canon(df):
    """Sort columns by name, rows by all values; stringify cells."""
    df = df[sorted(df.columns)]
    out = []
    for row in df.itertuples(index=False):
        vals = []
        for v in row:
            if v is None or (isinstance(v, float) and math.isnan(v)):
                vals.append("\0NULL")
            elif isinstance(v, float):
                vals.append(f"{v:.6f}")
            else:
                vals.append(str(v))
        out.append(tuple(vals))
    out.sort()
    return out


ORACLE_KEYS = sorted(entrymod.oracle_sql())


@pytest.mark.parametrize("name", ORACLE_KEYS)
def test_oracle_parity(spark, duck, name):
    q = entrymod.queries()[name]
    spark_pdf = q(spark, SF_DIR).toPandas()
    duck_pdf = duck.sql(entrymod.oracle_sql()[name]).df()
    assert sorted(spark_pdf.columns) == sorted(duck_pdf.columns), (
        f"{name}: column mismatch {sorted(spark_pdf.columns)} vs "
        f"{sorted(duck_pdf.columns)}")
    assert len(spark_pdf) == len(duck_pdf), (
        f"{name}: row count {len(spark_pdf)} vs {len(duck_pdf)}")
    a, b = _canon(spark_pdf), _canon(duck_pdf)
    mismatches = [(x, y) for x, y in zip(a, b) if x != y]
    assert not mismatches, f"{name}: {len(mismatches)} rows differ; " \
        f"first: {mismatches[0]}"


def test_entry_smoke(spark):
    df = entrymod.entry(spark)
    rows = df.limit(5).collect()
    assert len(rows) > 0
