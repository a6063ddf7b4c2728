"""Guard against widening DuckDB types in oracle SQL output columns.

The driver collects oracle results via pandas/Arrow, under which DuckDB's
HUGEINT/UHUGEINT widen to float64 and DECIMAL to Decimal objects — so a
window SUM() left uncast renders `124.0` where Spark renders `124` and the
driver hash fails even though every value is numerically identical. The
local mirror's fetchall() path returns Python ints, masking exactly that
difference: running_user_totals stayed red at the driver for two rounds
while tools/check_oracles.py passed (VERDICT r4 "What's wrong" #1/#2).

This sweep DESCRIBEs every oracle (plan-only, no execution — cheap even
for the heavy queries) and fails if any output column has a widening
type, making that class of bug structurally impossible to reintroduce.
"""

import os

import duckdb
import pytest

import __spark_entry__ as entrymod
from tools.check_oracles import TABLES, widened_columns

SF_DIR = "/root/testdata/sf0.001"

# the oracle views are defined over the bundled sf0.001 tables
pytestmark = pytest.mark.skipif(not os.path.isdir(SF_DIR),
                                reason=f"{SF_DIR} not present")


@pytest.fixture(scope="module")
def con():
    c = duckdb.connect()
    for t in TABLES:
        c.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{SF_DIR}/{t}.parquet'")
    return c


def test_no_widening_types_in_any_oracle(con):
    bad = {}
    for name, sql in entrymod.oracle_sql().items():
        cols = widened_columns(con, sql)
        if cols:
            bad[name] = cols
    assert not bad, (
        f"oracles with HUGEINT/UHUGEINT/DECIMAL output columns {bad}: "
        "these render differently under the driver's pandas collection "
        "than Spark's BIGINT/DOUBLE — CAST them in the oracle SQL")


def test_guard_catches_hugeint(con):
    # Self-test of the guard: a window SUM over integers is HUGEINT in
    # DuckDB (the exact shape of the r3/r4 running_user_totals bug).
    cols = widened_columns(
        con,
        "SELECT SUM(1) OVER () AS seq FROM range(3)")
    assert cols and cols[0][0] == "seq"
    # ...and a bare decimal literal is DECIMAL (the round-4 `1.0` trap).
    cols = widened_columns(con, "SELECT 1.0 AS x")
    assert cols and "DECIMAL" in cols[0][1].upper()
    # Cast versions are clean.
    assert not widened_columns(
        con, "SELECT CAST(SUM(1) OVER () AS BIGINT) AS seq FROM range(3)")
    assert not widened_columns(con, "SELECT CAST(1.0 AS DOUBLE) AS x")
