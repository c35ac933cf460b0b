"""Driver-canonicalization parity guard.

The correctness driver canonicalizes both result sets through pandas
(DuckDB's ``.df()`` conversion on the oracle side) before hashing,
which is stricter than this repo's own string-based canon
(tests/test_oracle.py).  Two representation classes value-match under
the repo harness yet fail the driver — they cost red rows in rounds 1
and 3:

1. list / struct / map / binary cells — pandas' hash-based machinery
   dies with ``TypeError: unhashable type`` (r3: s07/s08 centroid
   arrays, m02 bytearray payload);
2. numeric-family mismatch — DuckDB converts HUGEINT (an uncast
   ``SUM(BIGINT)``) and DECIMAL to float64 in pandas, so an oracle
   HUGEINT against a Spark int64 hashes as "2.000000" vs "2" even
   though every value is equal (r3: t23, st09).  The converse is
   fine: oracle DECIMAL against Spark double both land on float64
   (t08/t24 were driver-green in r3 with exactly that pairing).

This module rejects both classes *before* the driver runs:

- ``test_oracle_arrow_schema_driver_safe`` — unhashable types on the
  oracle side, via DuckDB's Arrow schema (cheap, no Spark);
- ``check_driver_family_parity`` — numeric-family and unhashable
  checks across BOTH schemas, called from test_oracle.py's full run
  (which already has the Spark result in hand) and from
  scripts/bare_session_check.py.
"""

import os
import sys

import duckdb
import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import __spark_entry__ as entrymod
from test_oracle import _TABLES

_SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")

# Arrow types whose pandas cells are unhashable (or bytes) — fatal on
# either side regardless of pairing.
_UNHASHABLE_ARROW_PREFIXES = (
    "list",
    "large_list",
    "fixed_size_list",
    "struct",
    "map",
    "binary",
    "large_binary",
    "fixed_size_binary",
)


def _duck_family(type_str: str) -> str:
    """Collapse a DuckDB column type to the pandas family it lands in
    after the driver's .df() conversion."""
    t = type_str.upper()
    if t.startswith(("LIST", "STRUCT", "MAP", "BLOB", "BYTEA", "BINARY")) or t.endswith(
        "[]"
    ):
        return "unhashable"
    if t.startswith("DECIMAL") or t == "HUGEINT":
        return "float"  # duckdb .df(): decimal/hugeint -> float64
    if t in ("TINYINT", "SMALLINT", "INTEGER", "BIGINT", "UTINYINT", "USMALLINT",
             "UINTEGER", "UBIGINT"):
        return "int"
    if t in ("DOUBLE", "FLOAT", "REAL"):
        return "float"
    if t == "BOOLEAN":
        return "bool"
    if t.startswith("TIMESTAMP"):
        return "timestamp"
    if t == "DATE":
        return "date"
    return "str"


def _spark_family(dt) -> str:
    from pyspark.sql import types as T

    if isinstance(dt, (T.ArrayType, T.MapType, T.StructType, T.BinaryType)):
        return "unhashable"
    if isinstance(dt, T.DecimalType):
        return "decimal"  # never emit: duckdb side becomes float64, spark
        # side stays object(Decimal) under arrow -> driver-hash hazard
    if isinstance(dt, (T.ByteType, T.ShortType, T.IntegerType, T.LongType)):
        return "int"
    if isinstance(dt, (T.FloatType, T.DoubleType)):
        return "float"
    if isinstance(dt, T.BooleanType):
        return "bool"
    # NTZ and LTZ both land in datetime64 under pandas with a UTC
    # session; st03 (ntz) and st01 (ltz) are both driver-green.
    if isinstance(dt, (T.TimestampType, getattr(T, "TimestampNTZType", T.TimestampType))):
        return "timestamp"
    if isinstance(dt, (T.DateType,)):
        return "date"
    return "str"


def check_driver_family_parity(name, duck_con, sql, spark_schema) -> None:
    """Assert per-column pandas-family parity between the Spark result
    schema and the DuckDB oracle (via DESCRIBE — binder only, no
    execution).  Catches the r1/r3 red-row classes statically."""
    desc = duck_con.execute(f"DESCRIBE {sql}").fetchall()
    duck_types = {row[0]: row[1] for row in desc}
    problems = []
    for f in spark_schema.fields:
        sf_fam = _spark_family(f.dataType)
        if sf_fam in ("unhashable", "decimal"):
            problems.append(f"{f.name}: spark {f.dataType.simpleString()} ({sf_fam})")
            continue
        if f.name not in duck_types:
            continue  # column-name parity is asserted elsewhere
        dk_fam = _duck_family(duck_types[f.name])
        if dk_fam == "unhashable":
            problems.append(f"{f.name}: oracle {duck_types[f.name]} (unhashable)")
        elif dk_fam != sf_fam:
            problems.append(
                f"{f.name}: spark {f.dataType.simpleString()} ({sf_fam}) vs "
                f"oracle {duck_types[f.name]} ({dk_fam})"
            )
    assert not problems, (
        f"{name}: driver-canon family mismatch {problems} — "
        "CAST(SUM(..) AS BIGINT) for hugeint vs spark int, "
        "_stringify_vec for arrays, sha2+octet_length for binary, "
        "cast spark decimals to double"
    )


_ORACLE = entrymod.oracle_sql()


@pytest.fixture(scope="module")
def duck():
    con = duckdb.connect()
    for t in _TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{_SF_DIR}/{t}.parquet'")
    yield con
    con.close()


@pytest.mark.parametrize("name", sorted(_ORACLE))
def test_oracle_arrow_schema_driver_safe(duck, name):
    tbl = duck.execute(_ORACLE[name]).arrow()
    bad = [
        f"{f.name}: {f.type}"
        for f in tbl.schema
        if str(f.type).startswith(_UNHASHABLE_ARROW_PREFIXES)
    ]
    assert not bad, (
        f"{name}: unhashable oracle output columns {bad} — the driver's "
        "pandas canon cannot hash list/struct/map/blob cells; "
        "array_to_string for lists, sha256(decode(..)) for blobs"
    )


def test_priority_names_registered_entries_once():
    """The correctness window's order list names each entry prefix once
    (`list.index` takes the first of a repeat, so a second one is dead)
    and only prefixes of registered entries."""
    prio = entrymod._PRIORITY
    assert len(prio) == len(set(prio)), sorted({p for p in prio if prio.count(p) > 1})
    registered = {name.split("_", 1)[0] for name in entrymod._REGISTRY}
    assert set(prio) <= registered, sorted(set(prio) - registered)
