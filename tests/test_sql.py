"""SQL front door: every driver table registered as a temp view and
queried through ``spark.sql`` — the declarative surface a reference
user migrating to this engine writes directly (SURVEY §3: our
"lifecycle" IS Spark SQL's parse→analyze→optimize→execute)."""

from __future__ import annotations

import re

from als_hadoop_spark.sources import load, register_views
from als_hadoop_spark.sources.tables import read_json


def test_sql_over_registered_views(spark, sf_dir):
    register_views(spark, sf_dir)
    got = spark.sql(
        """
        SELECT n_name, COUNT(*) AS n_orders, ROUND(SUM(o_totalprice), 2) AS rev
        FROM orders
        JOIN customer ON o_custkey = c_custkey
        JOIN nation ON c_nationkey = n_nationkey
        WHERE o_orderstatus = 'F'
        GROUP BY n_name
        ORDER BY rev DESC
        LIMIT 5
        """
    ).collect()
    assert 0 < len(got) <= 5
    revs = [r["rev"] for r in got]
    assert revs == sorted(revs, reverse=True)


def test_sql_window_and_cte(spark, sf_dir):
    register_views(spark, sf_dir)
    rows = spark.sql(
        """
        WITH ranked AS (
            SELECT user_id, value,
                   ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY value DESC, event_id) AS rn
            FROM events
        )
        SELECT COUNT(*) AS n FROM ranked WHERE rn = 1
        """
    ).collect()
    n_users = load(spark, sf_dir, "events").select("user_id").distinct().count()
    assert rows[0]["n"] == n_users


def test_read_json_with_schema(spark, tmp_path):
    p = tmp_path / "data.jsonl"
    p.write_text(
        '{"id": 1, "meta": {"w": 10, "tags": ["a", "b"]}}\n'
        '{"id": 2, "meta": {"w": 20, "tags": []}}\n'
    )
    df = read_json(
        spark, str(p), "id LONG, meta STRUCT<w: INT, tags: ARRAY<STRING>>"
    )
    rows = {r["id"]: (r["meta"]["w"], list(r["meta"]["tags"])) for r in df.collect()}
    assert rows == {1: (10, ["a", "b"]), 2: (20, [])}


# ---------------------------------------------------------------- r10:
# the ACID table-management SQL front door (als_hadoop_spark/sql.py)


def _acid_fixture(spark, tmp_path):
    from als_hadoop_spark.sources.acid import AcidTable

    p = str(tmp_path / "t")
    t = AcidTable(spark, p)
    t.append(
        spark.createDataFrame(
            [(1, "a", 10.0), (2, "b", 20.0), (3, "c", 30.0)],
            "k LONG, name STRING, v DOUBLE",
        ).coalesce(1)
    )
    return p, t


def test_acid_sql_time_travel_select(spark, tmp_path):
    from als_hadoop_spark.sql import acid_sql

    p, t = _acid_fixture(spark, tmp_path)
    t.append(
        spark.createDataFrame([(4, "d", 40.0)], "k LONG, name STRING, v DOUBLE")
    )
    now = acid_sql(spark, f"SELECT count(*) AS n FROM acid.`{p}`").first()["n"]
    then = acid_sql(
        spark, f"SELECT count(*) AS n FROM acid.`{p}` VERSION AS OF 0"
    ).first()["n"]
    assert (now, then) == (4, 3)
    # time travel composes with arbitrary SQL (join of two snapshots)
    fresh = acid_sql(
        spark,
        f"""
        SELECT cur.k FROM acid.`{p}` cur
        LEFT ANTI JOIN acid.`{p}` VERSION AS OF 0 old ON cur.k = old.k
        """,
    ).collect()
    assert [r["k"] for r in fresh] == [4]


def test_acid_sql_merge_into_upsert(spark, tmp_path):
    from als_hadoop_spark.sql import acid_sql

    p, t = _acid_fixture(spark, tmp_path)
    spark.createDataFrame(
        [(2, "B", 99.0), (5, "e", 50.0)], "k LONG, name STRING, v DOUBLE"
    ).createOrReplaceTempView("chg")
    v = acid_sql(
        spark,
        f"""MERGE INTO acid.`{p}` AS t USING chg AS s ON t.k = s.k
        WHEN MATCHED THEN UPDATE SET * WHEN NOT MATCHED THEN INSERT *""",
    )
    assert v == t.latest_version()
    got = {r["k"]: (r["name"], r["v"]) for r in t.snapshot().collect()}
    assert got == {
        1: ("a", 10.0),
        2: ("B", 99.0),
        3: ("c", 30.0),
        5: ("e", 50.0),
    }


def test_acid_sql_merge_refuses_noncanonical(spark, tmp_path):
    import pytest

    from als_hadoop_spark.sql import acid_sql

    p, _ = _acid_fixture(spark, tmp_path)
    spark.range(1).selectExpr(
        "id AS k", "'x' AS name", "1.0 AS v"
    ).createOrReplaceTempView("chg2")
    with pytest.raises(ValueError, match="canonical upsert"):
        acid_sql(
            spark,
            f"""MERGE INTO acid.`{p}` AS t USING chg2 AS s ON t.k = s.k
            WHEN MATCHED THEN DELETE""",
        )
    with pytest.raises(ValueError, match="unsupported statement"):
        acid_sql(spark, f"MERGE acid.`{p}` WITH nonsense")


def test_acid_sql_optimize_vacuum_history(spark, tmp_path):
    from als_hadoop_spark.sql import acid_sql

    p, t = _acid_fixture(spark, tmp_path)
    for i in range(6):  # enough small files to beat optimize's target
        t.append(
            spark.createDataFrame(
                [(10 + i, "x", 1.0)], "k LONG, name STRING, v DOUBLE"
            )
        )
    before = t.snapshot().count()
    n_files = len(t._replay())
    v = acid_sql(spark, f"OPTIMIZE acid.`{p}`")
    assert v == t.latest_version()
    assert len(t._replay()) < n_files
    assert t.snapshot().count() == before
    deleted = acid_sql(spark, f"VACUUM acid.`{p}` RETAIN 0 HOURS")
    assert deleted  # the compacted-away originals swept
    hist = acid_sql(spark, f"DESCRIBE HISTORY acid.`{p}`")
    ops = [r["operation"] for r in hist.orderBy("version").collect()]
    assert ops[0] == "append" and ops[-1] == "optimize"


def test_acid_sql_passthrough_plain_sql(spark, tmp_path):
    from als_hadoop_spark.sql import acid_sql

    assert acid_sql(spark, "SELECT 1 + 1 AS two").first()["two"] == 2


def test_acid_sql_distinct_paths_do_not_collide(spark, tmp_path):
    """r10 review: two table paths that squash to the same view name
    (dot vs underscore) must register DISTINCT views — a collision
    silently self-joins one table."""
    from als_hadoop_spark.sources.acid import AcidTable
    from als_hadoop_spark.sql import acid_sql

    p1 = str(tmp_path / "t.new")
    p2 = str(tmp_path / "t_new")
    AcidTable(spark, p1).append(
        spark.createDataFrame([(1, "dot")], "k LONG, which STRING")
    )
    AcidTable(spark, p2).append(
        spark.createDataFrame([(1, "underscore")], "k LONG, which STRING")
    )
    got = acid_sql(
        spark,
        f"""
        SELECT a.which AS wa, b.which AS wb
        FROM acid.`{p1}` a JOIN acid.`{p2}` b ON a.k = b.k
        """,
    ).first()
    assert (got["wa"], got["wb"]) == ("dot", "underscore")


def test_acid_sql_history_reports_true_versions(spark, tmp_path):
    """r10 review: DESCRIBE HISTORY must report each commit's REAL
    version even after cleanup_log removed the prefix — enumerate()
    would renumber the retained suffix from zero."""
    from als_hadoop_spark.sources.acid import AcidTable
    from als_hadoop_spark.sql import acid_sql

    p = str(tmp_path / "t")
    t = AcidTable(spark, p)
    for i in range(11):  # versions 0..10 — checkpoint fires at v10
        t.append(spark.createDataFrame([(i,)], "k LONG"))
    assert t.cleanup_log()  # prefix below the checkpoint removed
    versions = [
        r["version"]
        for r in acid_sql(spark, f"DESCRIBE HISTORY acid.`{p}`")
        .orderBy("version")
        .collect()
    ]
    assert versions and versions[0] > 0  # true suffix, not renumbered
    assert versions[-1] == t.latest_version()


def test_sql_surface_census_matches_direct_recompute(spark, sf_dir):
    """q_sql_surface end-to-end at sf0.001 (the driver oracles it at
    sf0.01): the front-door MERGE + time-travel join census must equal
    a direct recompute from the raw parquet — total rows, v0 matches,
    and the exact cents delta the doubling introduced."""
    from pyspark.sql import functions as F

    from als_hadoop_spark.operators.timeseries import (
        SQL_SURFACE_KEY_CAP,
        q_sql_surface,
    )

    got = q_sql_surface(spark, sf_dir).collect()
    o = (
        load(spark, sf_dir, "orders")
        .filter(F.col("o_orderkey") <= SQL_SURFACE_KEY_CAP)
        .select(
            "o_orderkey",
            F.floor(F.col("o_totalprice") * 100).cast("bigint").alias("cents"),
        )
    )
    n_all, n_even, extra = o.agg(
        F.count(F.lit(1)),
        F.sum((F.col("o_orderkey") % 2 == 0).cast("long")),
        # delta = doubled evens' cents + inserted odds' cents
        F.sum(
            F.when(F.col("o_orderkey") % 10 == 0, F.col("cents"))
            .when(F.col("o_orderkey") % 2 == 1, F.col("cents"))
            .otherwise(F.lit(0))
        ),
    ).first()
    assert sum(r["n_current"] for r in got) == n_all
    assert sum(r["n_v0"] for r in got) == n_even
    assert sum(r["delta_cents"] for r in got) == extra
    assert [r["priority"] for r in got] == sorted(r["priority"] for r in got)


def test_acid_sql_alter_table_forms(spark, tmp_path):
    """The four ALTER TABLE forms route to the existing log-only
    services (r10 session-2): rename/drop/widen evolve the schema
    without touching a file; ADD CONSTRAINT gates the NEXT write."""
    import pytest

    from als_hadoop_spark.sources.acid import AcidTable, ConstraintViolation
    from als_hadoop_spark.sql import acid_sql

    p = str(tmp_path / "t")
    t = AcidTable(spark, p)
    t.append(spark.createDataFrame([(1, 10, "x")], "k LONG, n INT, v STRING"))
    acid_sql(spark, f"ALTER TABLE acid.`{p}` RENAME COLUMN v TO w")
    acid_sql(spark, f"ALTER TABLE acid.`{p}` ALTER COLUMN n TYPE bigint")
    acid_sql(spark, f"ALTER TABLE acid.`{p}` DROP COLUMN w")
    snap = t.snapshot()
    assert sorted(snap.columns) == ["k", "n"]
    assert dict(snap.dtypes)["n"] == "bigint"
    acid_sql(spark, f"ALTER TABLE acid.`{p}` ADD CONSTRAINT k_pos CHECK (k > 0)")
    with pytest.raises(ConstraintViolation):
        t.append(spark.createDataFrame([(-1, 2)], "k LONG, n BIGINT"))
    # a misspelled ALTER refuses loudly instead of passing through
    with pytest.raises(ValueError, match="unsupported"):
        acid_sql(spark, f"ALTER TABLE acid.`{p}` ADD COLUMN z INT")


def test_create_table_with_clone_identifier_passes_through(spark, tmp_path):
    """The fallthrough refusal guard must only catch the SHALLOW CLONE
    statement shape (post-r10 advice): plain SQL that merely names a
    column 'clone' must pass through to spark.sql."""
    from als_hadoop_spark.sql import acid_sql

    spark.createDataFrame([(1, "x")], "clone LONG, v STRING") \
        .createOrReplaceTempView("_clone_src")
    got = acid_sql(spark, "SELECT clone FROM _clone_src")
    assert [r["clone"] for r in got.collect()] == [1]
    # the real management form still refuses when malformed
    import pytest as _pytest

    with _pytest.raises(ValueError, match="unsupported statement"):
        acid_sql(
            spark,
            "CREATE TABLE acid.`/tmp/x` SHALLOW CLONE VERSION acid.`/tmp/y`",
        )


def test_acid_sql_delete_from(spark, tmp_path):
    """DELETE FROM acid.`p` WHERE <pred> routes to AcidTable.delete;
    without WHERE every row goes (the SQL semantics)."""
    from als_hadoop_spark.sql import acid_sql

    p, t = _acid_fixture(spark, tmp_path)
    v = acid_sql(spark, f"DELETE FROM acid.`{p}` WHERE k = 2")
    assert v == t.latest_version()
    assert sorted(r["k"] for r in t.snapshot().collect()) == [1, 3]
    acid_sql(spark, f"DELETE FROM acid.`{p}`")
    try:
        n = t.snapshot().count()  # empty rewrite file may stay live
    except ValueError:
        n = 0  # ... or the live set went empty entirely
    assert n == 0


def test_acid_sql_update_set(spark, tmp_path):
    """UPDATE ... SET with multiple assignments: simultaneous
    evaluation against the original row, commas inside function calls
    and string literals survive the split, WHERE optional."""
    from als_hadoop_spark.sql import acid_sql

    p, t = _acid_fixture(spark, tmp_path)
    v = acid_sql(
        spark,
        f"UPDATE acid.`{p}` SET v = v + k, "
        "name = concat(name, ',', 'x') WHERE k >= 2",
    )
    assert v == t.latest_version()
    got = {r["k"]: (r["name"], r["v"]) for r in t.snapshot().collect()}
    assert got == {
        1: ("a", 10.0),
        2: ("b,x", 22.0),
        3: ("c,x", 33.0),
    }


def test_acid_sql_set_tblproperties_flips_merge_on_read(spark, tmp_path):
    """SET TBLPROPERTIES ('deletionVectors' = 'true') makes the next
    DELETE/UPDATE commit a position sidecar instead of a rewrite."""
    from als_hadoop_spark.sql import acid_sql

    p, t = _acid_fixture(spark, tmp_path)
    acid_sql(
        spark,
        f"ALTER TABLE acid.`{p}` SET TBLPROPERTIES "
        "('deletionVectors' = 'true', 'owner' = 'pipeline')",
    )
    assert t.properties() == {
        "deletionVectors": "true",
        "owner": "pipeline",
    }
    files = sorted(t._replay())
    v = acid_sql(spark, f"DELETE FROM acid.`{p}` WHERE k = 1")
    e = t._read_entry(v)
    assert e["dv"]["sidecars"] and not e.get("remove")
    assert sorted(t._replay()) == files
    v = acid_sql(spark, f"UPDATE acid.`{p}` SET v = 0.0 WHERE k = 3")
    e = t._read_entry(v)
    assert e["dv"]["sidecars"] and not e.get("remove")
    got = {r["k"]: r["v"] for r in t.snapshot().collect()}
    assert got == {2: 20.0, 3: 0.0}


def test_acid_sql_delete_update_refuse_malformed(spark, tmp_path):
    import pytest

    from als_hadoop_spark.sql import acid_sql

    p, _ = _acid_fixture(spark, tmp_path)
    # UPDATE without SET, DELETE with USING, non-literal TBLPROPERTIES:
    # all refuse loudly instead of passing through to spark.sql
    with pytest.raises(ValueError, match="unsupported|assignment"):
        acid_sql(spark, f"UPDATE acid.`{p}` WHERE k = 1")
    with pytest.raises(ValueError, match="unsupported"):
        acid_sql(spark, f"DELETE FROM acid.`{p}` USING other ON 1=1")
    with pytest.raises(ValueError, match="literal"):
        acid_sql(
            spark,
            f"ALTER TABLE acid.`{p}` SET TBLPROPERTIES (owner = current_user())",
        )
    with pytest.raises(ValueError, match="assigned twice"):
        acid_sql(spark, f"UPDATE acid.`{p}` SET v = 1.0, v = 2.0")
    # plain pass-through SQL naming an 'update' column is untouched
    spark.createDataFrame([(7,)], "update LONG").createOrReplaceTempView(
        "_upd_src"
    )
    assert acid_sql(spark, "SELECT update FROM _upd_src").collect()[0][0] == 7


def test_acid_sql_show_tblproperties(spark, tmp_path):
    from als_hadoop_spark.sql import acid_sql

    p, _ = _acid_fixture(spark, tmp_path)
    assert acid_sql(spark, f"SHOW TBLPROPERTIES acid.`{p}`").count() == 0
    acid_sql(
        spark,
        f"ALTER TABLE acid.`{p}` SET TBLPROPERTIES ('a' = '1', 'b' = '2')",
    )
    got = {
        r["key"]: r["value"]
        for r in acid_sql(spark, f"SHOW TBLPROPERTIES acid.`{p}`").collect()
    }
    assert got == {"a": "1", "b": "2"}


def test_acid_sql_update_where_inside_string_literal(spark, tmp_path):
    """r11 review: the WHERE split must ignore the keyword inside a
    quoted string or parenthesized expression in the SET clause."""
    from als_hadoop_spark.sql import acid_sql

    p, t = _acid_fixture(spark, tmp_path)
    acid_sql(spark, f"UPDATE acid.`{p}` SET name = 'a where b'")
    assert {r["name"] for r in t.snapshot().collect()} == {"a where b"}
    acid_sql(
        spark,
        f"UPDATE acid.`{p}` SET name = concat('x', ' WHERE ', 'y') "
        "WHERE k = 1",
    )
    got = {r["k"]: r["name"] for r in t.snapshot().collect()}
    assert got[1] == "x WHERE y" and got[2] == "a where b"


def test_acid_sql_tblproperties_single_commit(spark, tmp_path):
    """r11 review: one SET TBLPROPERTIES statement with N pairs is ONE
    commit — no reader can observe half the pairs applied."""
    from als_hadoop_spark.sql import acid_sql

    p, t = _acid_fixture(spark, tmp_path)
    before = t.latest_version()
    v = acid_sql(
        spark,
        f"ALTER TABLE acid.`{p}` SET TBLPROPERTIES "
        "('a' = '1', 'b' = '2', 'c' = '3')",
    )
    assert v == before + 1 == t.latest_version()
    assert t.properties() == {"a": "1", "b": "2", "c": "3"}


# ------------------------------------------------------------ read contract
# acid.`p` references read through AcidTable.snapshot, the same JVM
# parquet scan as the API; format("acid") is the DataFrame-API reader


def _parity_tables(spark, tmp_path):
    """Two tables with the same history, one written by AcidTable.append
    and one by format("acid") with partitionBy: TIMESTAMP, TIMESTAMP_NTZ,
    int, bigint and string columns; deletion vectors on; a DELETE, an
    UPDATE, a rename, a widen, a drop, then an append in the evolved
    schema. Returns the two paths and the version right after the
    DELETE (before any schema op)."""
    from als_hadoop_spark.sources import register_acid_format
    from als_hadoop_spark.sources.acid import AcidTable
    from als_hadoop_spark.sql import acid_sql

    register_acid_format(spark)
    first = spark.sql(
        "SELECT id AS k, CAST(id % 3 AS STRING) AS part, "
        "CAST(id * 10 AS INT) AS n, timestamp_seconds(id * 3600) AS ts, "
        "CAST(timestamp_seconds(id * 60) AS TIMESTAMP_NTZ) AS ntz, "
        "concat('s', id) AS s, concat('x', id) AS extra FROM range(12)"
    ).repartition(2, "k")
    later = spark.sql(
        "SELECT id AS k, CAST(id % 3 AS STRING) AS part, "
        "id * 1000000000000 AS n, timestamp_seconds(id * 7200) AS ts, "
        "CAST(timestamp_seconds(id) AS TIMESTAMP_NTZ) AS ntz, "
        "concat('l', id) AS label FROM range(20, 24)"
    ).coalesce(1)
    paths = (str(tmp_path / "api"), str(tmp_path / "fmt"))
    for p in paths:
        if p.endswith("api"):
            AcidTable(spark, p).append(first)
        else:
            first.write.format("acid").option("partitionBy", "part").mode(
                "append"
            ).save(p)
        t = f"acid.`{p}`"
        acid_sql(
            spark,
            f"ALTER TABLE {t} SET TBLPROPERTIES ('deletionVectors' = 'true')",
        )
        deleted = acid_sql(spark, f"DELETE FROM {t} WHERE k % 5 = 0")
        acid_sql(spark, f"UPDATE {t} SET n = n + 1 WHERE k = 7")
        acid_sql(spark, f"ALTER TABLE {t} RENAME COLUMN s TO label")
        acid_sql(spark, f"ALTER TABLE {t} ALTER COLUMN n TYPE bigint")
        acid_sql(spark, f"ALTER TABLE {t} DROP COLUMN extra")
        if p.endswith("api"):
            AcidTable(spark, p).append(later)
        else:
            later.write.format("acid").option("partitionBy", "part").mode(
                "append"
            ).save(p)
    return paths, deleted


def test_acid_readers_agree(spark, tmp_path):
    """The front door, format("acid") and AcidTable.snapshot return the
    same columns, in the same order, with the same types and rows — at
    head and at an older version, for an API-written and a
    format-written partitioned table."""
    from als_hadoop_spark.sources.acid import AcidTable
    from als_hadoop_spark.sql import acid_sql

    paths, old = _parity_tables(spark, tmp_path)
    for p in paths:
        for v in (None, old):
            travel = "" if v is None else f" VERSION AS OF {v}"
            reader = spark.read.format("acid")
            if v is not None:
                reader = reader.option("version", v)
            frames = {
                "sql": acid_sql(spark, f"SELECT * FROM acid.`{p}`{travel}"),
                "format": reader.load(p),
                "snapshot": AcidTable(spark, p).snapshot(v),
            }
            shapes = {
                k: [(f.name, f.dataType.simpleString()) for f in df.schema]
                for k, df in frames.items()
            }
            rows = {
                k: sorted(map(tuple, df.collect()), key=lambda r: r[0])
                for k, df in frames.items()
            }
            want_cols = (
                ["k", "part", "n", "ts", "ntz", "label"]
                if v is None
                else ["k", "part", "n", "ts", "ntz", "s", "extra"]
            )
            assert [c for c, _ in shapes["snapshot"]] == want_cols, (p, v)
            assert dict(shapes["snapshot"])["ts"] == "timestamp"
            assert dict(shapes["snapshot"])["ntz"] == "timestamp_ntz"
            assert shapes["sql"] == shapes["format"] == shapes["snapshot"], (
                p, v, shapes,
            )
            assert rows["sql"] == rows["format"] == rows["snapshot"], (p, v)
            # 12 rows, k = 0, 5 and 10 deleted; at head plus 4 appended
            assert len(rows["snapshot"]) == (13 if v is None else 9)


def test_acid_sql_read_prunes_columns_in_the_jvm(spark, tmp_path):
    """An aggregate over two columns of a wider table plans a parquet
    scan of just those columns, with no Python data-source scan."""
    from als_hadoop_spark.sources.acid import AcidTable
    from als_hadoop_spark.sql import acid_sql

    p = str(tmp_path / "t")
    AcidTable(spark, p).append(
        spark.sql(
            "SELECT id AS k, id % 3 AS g, CAST(id * 2 AS DOUBLE) AS v, "
            "'x' AS s, timestamp_seconds(id) AS ts FROM range(30)"
        )
    )
    df = acid_sql(spark, f"SELECT g, sum(v) AS t FROM acid.`{p}` GROUP BY g")
    assert sorted(map(tuple, df.collect())) == [
        (0, 270.0), (1, 290.0), (2, 310.0),
    ]
    plan = df._jdf.queryExecution().executedPlan().toString()
    # the parent's Python source printed "BatchScan acid[...] (Python)"
    assert "(Python)" not in plan and "BatchScan acid" not in plan, plan
    # the initial and the final AQE plan each print the scan once
    schemas = set(re.findall(r"ReadSchema: (struct<[^>]*>)", plan))
    assert schemas == {"struct<g:bigint,v:double>"}, plan
