"""Cross-engine + cross-plan determinism audit of every oracle-backed
query (round-4 hardening, VERDICT r3 item #6).

The driver's correctness gate hashes values more strictly than the
local canonicalizer rounds them, so any of these is a latent hash
failure even when round-9 values agree:

- a float output column that is not ROUND()ed on both sides (exact
  IEEE bits may differ between engines' aggregation orders),
- a result set whose ties are broken differently between engines
  (row_number/top-k without a total-order tiebreak),
- a Spark query whose own output depends on the physical plan
  (partition count) — nondeterministic even within one engine.

For each query this script compares, BIT-EXACTLY (repr of every float,
no rounding):

  1. Spark at shuffle.partitions=32  vs  Spark at shuffle.partitions=7
     → catches plan-dependent nondeterminism inside our engine,
  2. Spark vs the DuckDB oracle
     → catches cross-engine tie-break and float-formatting drift,
  3. every float column for round-6 stability (v == round(v, 6))
     → catches unrounded float outputs before they can drift.

Usage: python scripts/audit_determinism.py [query ...]   # default: all
Exit 1 on any DRIFT; UNROUNDED is reported as a warning line.
"""

from __future__ import annotations

import math
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = "/root/testdata/sf0.01"
TABLES = "region nation customer supplier part orders lineitem events documents embeddings".split()


def exact(v):
    """Full-precision canonical value — floats by repr (bit identity
    up to IEEE round-trip), no rounding anywhere."""
    if v is None:
        return "NULL"
    if isinstance(v, float):
        return "NaN" if math.isnan(v) else repr(v)
    if isinstance(v, bool):
        return str(int(v))
    if hasattr(v, "isoformat"):
        return v.isoformat()
    return str(v)


def canon_rows(cols, rows):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    return sorted(tuple(exact(r[i]) for i in order) for r in rows)


def float_cols_unrounded(cols, rows):
    """Columns holding float values with more precision than 6 decimal
    places — i.e. output columns missing a ROUND(…, 6)."""
    bad = set()
    for r in rows:
        for c, v in zip(cols, r):
            if isinstance(v, float) and not (math.isnan(v) or math.isinf(v)):
                if round(v, 6) != v:
                    bad.add(c)
    return sorted(bad)


def first_diff(a, b):
    for i, (x, y) in enumerate(zip(a, b)):
        if x != y:
            return i, x, y
    return len(min(a, b, key=len)), None, None


def main(names=None):
    import duckdb

    import __spark_entry__ as entry_mod
    from als_hadoop_spark.session import get_spark

    spark = get_spark("audit_determinism", cpus=8, shuffle_partitions=32)
    qs = entry_mod.queries()
    oracles = entry_mod.oracle_sql()
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{SF_DIR}/{t}.parquet'")

    selected = [n for n in (names or list(qs)) if n in oracles]
    drift, unrounded = [], []
    for name in selected:
        fn = qs[name]
        try:
            spark.conf.set("spark.sql.shuffle.partitions", "32")
            df_a = fn(spark, SF_DIR)
            cols = df_a.columns
            rows_a = [tuple(r) for r in df_a.collect()]
            spark.conf.set("spark.sql.shuffle.partitions", "7")
            rows_b = [tuple(r) for r in fn(spark, SF_DIR).collect()]
            drows = con.execute(oracles[name]).fetchall()
        except Exception as e:
            drift.append(name)
            print(f"DRIFT {name}: error {e}")
            continue
        a, b, d = (
            canon_rows(cols, rows_a),
            canon_rows(cols, rows_b),
            canon_rows(cols, drows),
        )
        msgs = []
        if a != b:
            i, x, y = first_diff(a, b)
            msgs.append(f"plan-dependent (32 vs 7 partitions) row {i}:\n  {x}\n  {y}")
        if a != d:
            i, x, y = first_diff(a, d)
            msgs.append(f"cross-engine bit drift row {i}:\n  spark {x}\n  duck  {y}")
        ur = float_cols_unrounded(cols, rows_a)
        if ur:
            unrounded.append((name, ur))
        if msgs:
            drift.append(name)
            print(f"DRIFT {name}: " + " | ".join(msgs))
        else:
            tag = f"  [unrounded floats: {ur}]" if ur else ""
            print(f"ok    {name} ({len(a)} rows){tag}")
    print(f"\n{len(selected) - len(drift)}/{len(selected)} bit-deterministic")
    if unrounded:
        print("unrounded float columns (driver-hash risk):")
        for name, cols_ in unrounded:
            print(f"  {name}: {cols_}")
    spark.stop()
    return 1 if drift else 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:] or None))
