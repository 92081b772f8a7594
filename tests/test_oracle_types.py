"""Every DuckDB oracle must bind to driver-portable column types.

Round 12 root cause of the r11 correctness-gate failures
(iceberg/delta_schema_evolution, iceberg_v3_defaults_read): DuckDB
returns `sum(BIGINT)` as HUGEINT (int128). Our local `fetchall` path
yields plain Python ints for it, but int128 does not exist in
Arrow/pandas fetch paths — it coerces to float64 there, so a harness
that normalizes by value repr sees `60000.0` vs Spark's `60000` and the
hash mismatches while rows/schema still match. Exactly (and only) the
oracles with a HUGEINT output column failed the r11 driver gate.

The fix casts those sums to BIGINT; this test pins the invariant for
every oracle (binding only — `rel.types` needs no execution), so a new
oracle cannot reintroduce a HUGEINT/UHUGEINT/DECIMAL output column."""

from __future__ import annotations

import os

import pytest

SF_DIR = "/root/testdata/sf0.001"

# the oracles bind against the fixture tables — without them every view is
# missing and binding fails with catalog errors that say nothing about types
pytestmark = pytest.mark.skipif(
    not os.path.isdir(SF_DIR), reason=f"fixture {SF_DIR} not present"
)

TABLES = (
    "region nation customer supplier part orders lineitem events "
    "documents embeddings"
).split()

#: types that round-trip identically through every DuckDB fetch path
#: (fetchall, arrow, pandas) AND have an exact Spark twin
_PORTABLE = {
    "BOOLEAN",
    "TINYINT",
    "SMALLINT",
    "INTEGER",
    "BIGINT",
    "FLOAT",
    "DOUBLE",
    "VARCHAR",
    "DATE",
    "TIMESTAMP",
    "TIMESTAMP WITH TIME ZONE",
    "BLOB",
}


def _portable(t: str) -> bool:
    t = str(t)
    if t in _PORTABLE:
        return True
    # nested types are fine as long as no HUGEINT/DECIMAL hides inside
    if t.startswith(("STRUCT", "MAP")) or t.endswith("[]"):
        return not any(bad in t for bad in ("HUGEINT", "DECIMAL"))
    return False


def test_every_oracle_binds_to_portable_types():
    import duckdb

    import __spark_entry__ as entry_mod

    con = duckdb.connect()
    for t in TABLES:
        p = f"{SF_DIR}/{t}.parquet"
        if os.path.exists(p):
            con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')"
            )
    offenders = {}
    for name, sql in entry_mod.oracle_sql().items():
        rel = con.sql(sql)  # binds + plans, does not execute
        bad = [
            f"{c}:{t}"
            for c, t in zip(rel.columns, rel.types)
            if not _portable(t)
        ]
        if bad:
            offenders[name] = bad
    assert not offenders, (
        "oracles with non-portable output column types (HUGEINT coerces "
        f"to float64 on arrow/pandas fetch paths): {offenders}"
    )
