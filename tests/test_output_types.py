"""Suite-wide output-boundary invariants:
- (VERDICT r1) no registered query may emit a DECIMAL column — decimal
  trailing-zero rendering differs across engines and flaps the driver's
  value hash even when values are exact. DECIMAL stays internal; outputs
  pin DOUBLE (plans/registry.py:dec2dbl).
- (VERDICT r9) no registered query may emit a nested-typed column
  (array/map/struct) — the driver canonicalizes result frames through
  pandas sort_values, which raises "unhashable type: 'list'" on list
  cells (d16's array<bigint> member_ids was value-exact locally yet red
  at the driver). Arrays render to space-joined strings at the boundary."""

from __future__ import annotations

import pytest
from pyspark.sql.types import ArrayType, DecimalType, MapType, StructType

import __spark_entry__ as entrymod


# t6 executes a real streaming query inside its builder; its output schema
# is pinned by its own test and it emits no decimals by construction.
SKIP_EXEC = {"t6_stream_running_mean"}


def test_no_query_outputs_decimal_or_nested(spark, sf_dir):
    # Building + analyzing all 301 registry plans is driver-side JVM work;
    # py4j releases the GIL per call, so a small thread pool overlaps the
    # analyses (8 min serial -> minutes) without changing what is checked.
    from concurrent.futures import ThreadPoolExecutor

    qs = entrymod.queries()
    names = [n for n in qs if n not in SKIP_EXEC]

    def schema_of(name):
        return name, qs[name](spark, sf_dir).schema

    # g9/g15/g17 share one write-once staging behind a tableExists check
    # (check-then-act): build one of them serially so the staging exists
    # before the pool can race on it. Every other build-time writer uses
    # a per-query table name. A rename must fail here, not drop the guard.
    assert "g9_triangle_count_bucketed" in names
    schemas = [schema_of(n) for n in names if n == "g9_triangle_count_bucketed"]
    rest = [n for n in names if n != "g9_triangle_count_bucketed"]

    dec_offenders, nested_offenders = {}, {}
    with ThreadPoolExecutor(max_workers=8) as pool:
        for name, schema in schemas + list(pool.map(schema_of, rest)):
            decs = [
                f.name for f in schema.fields if isinstance(f.dataType, DecimalType)
            ]
            nested = [
                f.name
                for f in schema.fields
                if isinstance(f.dataType, (ArrayType, MapType, StructType))
            ]
            if decs:
                dec_offenders[name] = decs
            if nested:
                nested_offenders[name] = nested
    assert not dec_offenders, f"DECIMAL output columns: {dec_offenders}"
    assert not nested_offenders, f"nested-typed output columns: {nested_offenders}"


def test_nested_gate_trips_on_array_frame(spark):
    """The gate itself must detect an array column (deliberate offender)."""
    from pyspark.sql import functions as F

    df = spark.range(3).select(F.array(F.col("id")).alias("xs"))
    nested = [
        f.name
        for f in df.schema.fields
        if isinstance(f.dataType, (ArrayType, MapType, StructType))
    ]
    assert nested == ["xs"]
