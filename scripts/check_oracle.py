"""Local mimic of the driver's correctness gate.

Runs each ``__spark_entry__.queries()`` entry at sf0.01 and compares it
against the matching ``oracle_sql()`` via DuckDB: row count, schema
arity, and an order-insensitive value comparison (columns sorted by
name, rows sorted, values canonicalized). Usage:

    python scripts/check_oracle.py [query ...]     # default: all
"""

from __future__ import annotations

import math
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = "/root/testdata/sf0.01"
TABLES = "region nation customer supplier part orders lineitem events documents embeddings".split()


def canon(v):
    if v is None:
        return "NULL"
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        if v == int(v) and abs(v) < 1e15:
            return str(int(v))
        return repr(round(v, 9))
    if isinstance(v, bool):
        return str(int(v))
    if hasattr(v, "isoformat"):
        return v.isoformat()
    return str(v)


def rows_to_canonical(cols, rows):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    return sorted(tuple(canon(r[i]) for i in order) for r in rows)


def spark_type_class(dt) -> str:
    """Collapse a Spark DataType into a cross-engine type class."""
    from pyspark.sql import types as T

    if isinstance(dt, (T.ByteType, T.ShortType, T.IntegerType, T.LongType)):
        return "int"
    if isinstance(dt, (T.FloatType, T.DoubleType)):
        return "float"
    if isinstance(dt, T.DecimalType):
        return "decimal"
    if isinstance(dt, T.StringType):
        return "str"
    if isinstance(dt, T.BooleanType):
        return "bool"
    if isinstance(dt, T.DateType):
        return "date"
    if isinstance(dt, (T.TimestampType, T.TimestampNTZType)):
        return "timestamp"
    if isinstance(dt, T.ArrayType):
        return "array"
    if isinstance(dt, T.MapType):
        return "map"
    if isinstance(dt, T.StructType):
        return "struct"
    if isinstance(dt, T.BinaryType):
        return "binary"
    return f"other:{dt.simpleString()}"


def arrow_type_class(at) -> str:
    """Collapse a pyarrow DataType (DuckDB result) into the same classes.

    DuckDB's HUGEINT (the result type of SUM over integers) surfaces as
    decimal128(38,0) in Arrow — exactly the drift that makes the driver's
    value-hash diverge from Spark's int64 even when every value matches.
    """
    import pyarrow as pa

    if pa.types.is_integer(at):
        return "int"
    if pa.types.is_floating(at):
        return "float"
    if pa.types.is_decimal(at):
        return "decimal"
    if pa.types.is_string(at) or pa.types.is_large_string(at):
        return "str"
    if pa.types.is_boolean(at):
        return "bool"
    if pa.types.is_date(at):
        return "date"
    if pa.types.is_timestamp(at):
        return "timestamp"
    if pa.types.is_list(at) or pa.types.is_large_list(at):
        return "array"
    if pa.types.is_map(at):
        return "map"
    if pa.types.is_struct(at):
        return "struct"
    if pa.types.is_binary(at) or pa.types.is_large_binary(at):
        return "binary"
    return f"other:{at}"


def dtype_problems(sdf, duck_tbl) -> list[str]:
    """Per-column type-class parity between Spark schema and DuckDB arrow."""
    stypes = {f.name: spark_type_class(f.dataType) for f in sdf.schema.fields}
    out = []
    for field in duck_tbl.schema:
        sc = stypes.get(field.name)
        dc = arrow_type_class(field.type)
        if sc is not None and sc != dc:
            out.append(f"dtype[{field.name}] spark={sc} duck={dc}")
    return out


# Harness-parity classes the driver's hasher cannot take. The driver
# canonicalizes by pandas sort_values over every output column; a list/
# dict cell raises TypeError: unhashable type (r5's q_embed_centroid red).
# This is the second such class after r4's HUGEINT — gate it here so it
# can't ship again.
UNHASHABLE = {"array", "map", "struct"}


def nested_output_problems(sdf) -> list[str]:
    """FAIL any oracle-backed query whose output schema has a top-level
    ARRAY/MAP/STRUCT column — the driver harness cannot hash those rows
    even when values match the oracle exactly."""
    return [
        f"driver-unhashable[{f.name}] top-level {spark_type_class(f.dataType)}"
        for f in sdf.schema.fields
        if spark_type_class(f.dataType) in UNHASHABLE
    ]


def main(names=None):
    import duckdb

    import __spark_entry__ as entry_mod
    from als_hadoop_spark.session import get_spark

    spark = get_spark("check_oracle", cpus=8, shuffle_partitions=8)
    qs = entry_mod.queries()
    oracles = entry_mod.oracle_sql()
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{SF_DIR}/{t}.parquet'")

    selected = names or list(qs)
    failures = []
    for name in selected:
        fn = qs[name]
        t0 = time.perf_counter()
        try:
            sdf = fn(spark, SF_DIR)
            scols = sdf.columns
            srows = sdf.collect()
        except Exception as e:
            failures.append(name)
            print(f"FAIL {name}: spark error: {e}")
            continue
        dt = time.perf_counter() - t0
        if name not in oracles:
            print(f"ok   {name}: rows-only ({len(srows)} rows, {dt:.1f}s)")
            continue
        try:
            duck_tbl = con.execute(oracles[name]).arrow()
            dcols = duck_tbl.column_names
            dcolumns = [duck_tbl.column(i).to_pylist() for i in range(duck_tbl.num_columns)]
            drows = list(zip(*dcolumns)) if dcolumns else []
        except Exception as e:
            failures.append(name)
            print(f"FAIL {name}: duckdb error: {e}")
            continue
        problems = nested_output_problems(sdf) + dtype_problems(sdf, duck_tbl)
        if len(srows) != len(drows):
            problems.append(f"rowcount spark={len(srows)} duck={len(drows)}")
        if sorted(scols) != sorted(dcols):
            problems.append(f"schema spark={sorted(scols)} duck={sorted(dcols)}")
        if not problems:
            s_can = rows_to_canonical(scols, [tuple(r) for r in srows])
            d_can = rows_to_canonical(dcols, drows)
            if s_can != d_can:
                diff = next(
                    (i for i, (a, b) in enumerate(zip(s_can, d_can)) if a != b), None
                )
                msg = f"values differ (first diff row {diff})"
                if diff is not None:
                    msg += f"\n  spark: {s_can[diff]}\n  duck : {d_can[diff]}"
                problems.append(msg)
        if problems:
            failures.append(name)
            print(f"FAIL {name}: " + "; ".join(problems))
        else:
            print(f"PASS {name} ({len(srows)} rows, {dt:.1f}s)")
    print(f"\n{len(selected) - len(failures)}/{len(selected)} passed")
    spark.stop()
    return 1 if failures else 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:] or None))
