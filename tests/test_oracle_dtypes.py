"""Dtype parity between every oracle SQL and its Spark query.

The driver's correctness hash is DTYPE-SENSITIVE: DuckDB `sum(BIGINT)`
returns HUGEINT, which pandas renders as float64, while Spark returns
int64 — the row then fails hash_match even though every value is equal
(round-2 lost five rows to exactly this). This test makes the bug class
impossible to reintroduce: for every ORACLE_SQL entry it compares the
DuckDB relation's bound types against the Spark DataFrame schema at the
int/float granularity the hash cares about. Both sides are resolved
LAZILY (DuckDB binds without executing; Spark schemas without an
action), so the whole sweep costs seconds, not a full 73-query run.
"""

from __future__ import annotations

import hashlib
import json
import os

import pytest
from pyspark.sql import types as T

import otters_spark.suite as suite
from otters_spark.suite import DYNAMIC_ORACLES, ORACLE_SQL, QUERIES

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _duck_class(t: str) -> str:
    """Collapse a DuckDB type name to the pandas-dtype class the
    driver's hash sees after ``.df()``."""
    t = t.upper()
    if t.startswith("DECIMAL"):
        return "float"  # pandas converts DECIMAL to float64
    if t in ("HUGEINT", "UHUGEINT"):
        return "float"  # no int128 in pandas -> float64 -> hash poison
    if t in (
        "TINYINT", "SMALLINT", "INTEGER", "BIGINT",
        "UTINYINT", "USMALLINT", "UINTEGER", "UBIGINT",
    ):
        return "int"
    if t in ("FLOAT", "REAL", "DOUBLE"):
        return "float"
    if t == "BOOLEAN":
        return "bool"
    if t == "VARCHAR":
        return "str"
    if t.startswith("TIMESTAMP") or t == "DATE":
        return "temporal"
    return f"other:{t}"


def _spark_class(dt: T.DataType) -> str:
    if isinstance(dt, (T.ByteType, T.ShortType, T.IntegerType, T.LongType)):
        return "int"
    if isinstance(dt, (T.FloatType, T.DoubleType)):
        return "float"
    if isinstance(dt, T.DecimalType):
        return "float"  # driver sees Decimal objects vs float64 — forbid
    if isinstance(dt, T.BooleanType):
        return "bool"
    if isinstance(dt, T.StringType):
        return "str"
    if isinstance(dt, (T.DateType, T.TimestampType, T.TimestampNTZType)):
        return "temporal"
    return f"other:{dt.simpleString()}"


@pytest.fixture(scope="module")
def duck(sf_dir):
    con = suite.oracle_connection(sf_dir)
    yield con
    con.close()


@pytest.mark.parametrize("name", sorted(ORACLE_SQL))
def test_oracle_dtype_parity(name, spark, sf_dir, duck):
    rel = duck.sql(ORACLE_SQL[name])
    duck_types = dict(zip(rel.columns, (str(t) for t in rel.types)))
    schema = QUERIES[name](spark, sf_dir).schema
    spark_types = {f.name: f.dataType for f in schema.fields}

    assert sorted(duck_types) == sorted(spark_types), (
        f"{name}: column sets differ: duckdb={sorted(duck_types)} "
        f"spark={sorted(spark_types)}"
    )
    mismatches = {}
    for col, dt in duck_types.items():
        dcls, scls = _duck_class(dt), _spark_class(spark_types[col])
        if dcls != scls:
            mismatches[col] = f"duckdb {dt} ({dcls}) vs spark " \
                f"{spark_types[col].simpleString()} ({scls})"
    assert not mismatches, (
        f"{name}: dtype class mismatch (driver hash would differ even on "
        f"equal values): {mismatches}"
    )


# ------------------------------------------------ driver contract (no Spark)


def test_driver_window_order_matches_recorded_rounds():
    # the driver records the first 50 registry entries; its latest
    # record fixes their order
    with open(os.path.join(REPO, "CORRECTNESS_r12.json")) as f:
        recorded = list(json.load(f))
    assert len(recorded) == 50
    assert list(QUERIES)[:50] == recorded


def test_driver_query_order_is_frozen():
    digest = hashlib.sha256("\n".join(QUERIES).encode()).hexdigest()
    assert len(QUERIES) == len(suite.REGISTRY) == 220
    assert digest == (
        "3d719fb2630e5b467649d6d023d844b6befbc995023db4b26293ae847cdf81c0"
    )


def test_every_query_has_an_oracle():
    assert set(ORACLE_SQL) | set(DYNAMIC_ORACLES) == set(QUERIES)


def test_every_module_sql_constant_is_a_registered_oracle():
    registered = {oracle for _, oracle in suite.REGISTRY}
    orphans = [
        name for name, value in vars(suite).items()
        if name.endswith("_SQL") and isinstance(value, str)
        and value not in registered
    ]
    assert not orphans
