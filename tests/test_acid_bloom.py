"""Gates for per-file bloom filters in the ACID log (r10, VERDICT r9
#6): point lookups on high-cardinality NON-partition keys must prune
~10x at planning time on a multi-file table where [min, max] stats are
decorative (every file spans the key range); blooms must survive the
table services (merge/optimize rewrites re-harvest), and every consult
must be conservative (false positives allowed, false negatives never).
"""

import os

import pytest

from als_hadoop_spark.sources import register_acid_format
from als_hadoop_spark.sources.acid import AcidTable
from als_hadoop_spark.sources.acid_log import _bloom_build, bloom_maybe_contains
from als_hadoop_spark.sources.acid_format import build_acid_format_source

N_FILES = 16
KEYS_PER_FILE = 400


def _interleaved_rows(j):
    """File j's rows: keys i with i % N_FILES == j — every file spans
    nearly the whole key range, so min/max stats cannot prune a point
    lookup; only the bloom can."""
    return [
        (f"u{i:06d}", i, float(i))
        for i in range(j, N_FILES * KEYS_PER_FILE, N_FILES)
    ]


def _build_table(spark, p):
    for j in range(N_FILES):
        df = spark.createDataFrame(
            _interleaved_rows(j), "uid STRING, k LONG, v DOUBLE"
        ).coalesce(1)
        (
            df.write.format("acid")
            .mode("append" if j else "overwrite")
            .option("bloomFilterColumns", "uid,k")
            .save(p)
        )


def _planned(spark, path, schema, filters):
    src = build_acid_format_source()(options={"path": path})
    reader = src.reader(schema)
    list(reader._push_filters(filters))
    return [pp for pp in reader.partitions() if pp.path]


def test_bloom_point_lookup_prunes_10x(spark, tmp_path):
    from pyspark.sql.datasource import EqualTo

    register_acid_format(spark)
    p = str(tmp_path / "t")
    _build_table(spark, p)
    got = spark.read.format("acid").load(p)
    live = len(AcidTable(spark, p)._replay())
    assert live == N_FILES
    # stats alone CANNOT prune this lookup (interleaved ranges) — the
    # bloom must take planned files from 16 to ~1 (>= 10x)
    parts = _planned(spark, p, got.schema, [EqualTo(("uid",), "u000033")])
    assert len(parts) * 10 <= live, (len(parts), live)
    # and on the integer key too
    parts_k = _planned(spark, p, got.schema, [EqualTo(("k",), 33)])
    assert len(parts_k) * 10 <= live
    # absent key: every file's bloom says definitely-not → zero files
    parts_absent = _planned(
        spark, p, got.schema, [EqualTo(("uid",), "nope")]
    )
    assert len(parts_absent) == 0
    # correctness through the full reader: the pruned plan still finds
    # the row, and the absent key returns empty
    assert got.filter("uid = 'u000033'").count() == 1
    assert got.filter("uid = 'nope'").count() == 0


def test_bloom_no_false_negatives_across_all_files(spark, tmp_path):
    """Every present key must survive its file's bloom: probe one key
    per file through the real read path."""
    register_acid_format(spark)
    p = str(tmp_path / "t")
    _build_table(spark, p)
    got = spark.read.format("acid").load(p)
    probes = [f"u{j * 7 + j:06d}" for j in range(N_FILES)]
    found = got.filter(got.uid.isin(probes)).count()
    assert found == len(set(probes))


def test_bloom_in_list_consult(spark, tmp_path):
    """col IN (...) keeps a file iff SOME listed value may be present;
    an all-absent IN list plans zero files."""
    from pyspark.sql.datasource import In

    register_acid_format(spark)
    p = str(tmp_path / "t")
    _build_table(spark, p)
    got = spark.read.format("acid").load(p)
    live = N_FILES
    # two keys from the same file + noise absent values
    parts = _planned(
        spark,
        p,
        got.schema,
        [In(("uid",), ("u000016", "u000032", "absent-a", "absent-b"))],
    )
    assert 0 < len(parts) <= 2  # only the files holding those keys
    parts_none = _planned(
        spark, p, got.schema, [In(("uid",), ("absent-a", "absent-b"))]
    )
    assert len(parts_none) == 0
    assert live == N_FILES  # fixture sanity


def test_bloom_survives_optimize_and_merge(spark, tmp_path):
    """Rewrites re-harvest blooms for the table's bloom'd columns: the
    coverage is sticky through OPTIMIZE, MERGE, and plain append."""
    from pyspark.sql import functions as F
    from pyspark.sql.datasource import EqualTo

    register_acid_format(spark)
    p = str(tmp_path / "t")
    _build_table(spark, p)
    t = AcidTable(spark, p)
    got = spark.read.format("acid").load(p)

    def upsert(touched, chg):
        c = chg.select("uid", F.col("v").alias("_nv"))
        j = touched.join(c, "uid", "full_outer")
        return j.select(
            "uid", "k", F.coalesce("_nv", "v").alias("v")
        )

    t.merge(
        spark.createDataFrame([("u000033", 33, 999.0)], got.schema),
        "uid",
        upsert,
    )
    # plain append (no explicit bloom_cols) inherits the coverage
    t.append(
        spark.createDataFrame([("uZZZZ", 10**6, 1.0)], got.schema)
    )
    t.optimize(target_files=4)
    live = t._replay()
    state = t._state()
    assert all(
        set((state["live"][f].get("bloom") or {})) == {"uid", "k"}
        for f in live
    ), {f: list((state["live"][f].get("bloom") or {})) for f in live}
    # pruning still decisive on the compacted files
    parts = _planned(spark, p, got.schema, [EqualTo(("uid",), "u000033")])
    assert 0 < len(parts) < len(live)
    assert got.filter("uid = 'u000033'").select("v").first()["v"] == 999.0
    assert (
        spark.read.format("acid").load(p).filter("uid = 'uZZZZ'").count()
        == 1
    )


def test_bloom_helpers_conservative():
    """Unit gates on the serialized bloom itself: presence always
    True, absence almost always False at ~1% fpp, type mismatch and
    malformed blooms always True (keep the file)."""
    vals = [f"key-{i}" for i in range(1000)]
    b = _bloom_build(vals)
    assert all(bloom_maybe_contains(b, v) for v in vals)  # no false neg
    misses = sum(
        bloom_maybe_contains(b, f"other-{i}") for i in range(2000)
    )
    assert misses < 2000 * 0.05  # fpp well under 5% at 10 bits/value
    # type mismatch: int probe against a string bloom → conservative
    assert bloom_maybe_contains(b, 7) is True
    assert bloom_maybe_contains(b, None) is True
    assert bloom_maybe_contains({"t": "s"}, "x") is True  # malformed
    ib = _bloom_build([1, 2, 3])
    assert bloom_maybe_contains(ib, 2) and not bloom_maybe_contains(ib, 99)
    assert bloom_maybe_contains(ib, True) is True  # bool ≠ int tag
    assert _bloom_build([None, None]) is None
    assert _bloom_build([1, "x"]) is None  # mixed types: no bloom
    assert _bloom_build([2**100]) is None  # unhashable magnitude


def test_bloom_partitioned_write_composes(spark, tmp_path):
    """bloomFilterColumns composes with partitionBy: partition
    elimination fires first, the bloom prunes within the partition."""
    from pyspark.sql.datasource import EqualTo

    register_acid_format(spark)
    p = str(tmp_path / "t")
    for j in range(4):
        rows = [
            (f"u{i:06d}", ["a", "b"][i % 2], float(i))
            for i in range(j, 800, 4)
        ]
        (
            spark.createDataFrame(rows, "uid STRING, cat STRING, v DOUBLE")
            .coalesce(1)
            .write.format("acid")
            .mode("append" if j else "overwrite")
            .option("partitionBy", "cat")
            .option("bloomFilterColumns", "uid")
            .save(p)
        )
    got = spark.read.format("acid").load(p)
    live = len(AcidTable(spark, p)._replay())
    parts = _planned(
        spark,
        p,
        got.schema,
        [EqualTo(("cat",), "a"), EqualTo(("uid",), "u000004")],
    )
    assert len(parts) == 1, (len(parts), live)
    assert got.filter("cat = 'a' and uid = 'u000004'").count() == 1


def test_float_bloom_answers_zero_and_nan_as_spark_compares(spark, tmp_path):
    """A float bloom hashes raw IEEE bits, where -0.0 and 0.0 differ and
    so do NaN payloads; Spark holds -0.0 = 0.0 and NaN = NaN, so such a
    probe answers "maybe" and the file stays planned."""
    import struct

    from pyspark.sql.datasource import EqualTo

    assert bloom_maybe_contains(_bloom_build([-0.0, 1.5]), 0.0)
    assert bloom_maybe_contains(_bloom_build([0.0, 1.5]), -0.0)
    other_nan = struct.unpack("<d", struct.pack("<Q", 0x7FF8000000000001))[0]
    assert bloom_maybe_contains(_bloom_build([float("nan")]), other_nan)
    assert not bloom_maybe_contains(_bloom_build([-0.0, 1.5]), 2.5)

    register_acid_format(spark)
    p = str(tmp_path / "t")
    (
        spark.createDataFrame([(1, -0.0), (2, 1.5)], "k LONG, x DOUBLE")
        .coalesce(1)
        .write.format("acid")
        .option("bloomFilterColumns", "x")
        .mode("append")
        .save(p)
    )
    got = spark.read.format("acid").load(p)
    assert len(_planned(spark, p, got.schema, [EqualTo(("x",), 0.0)])) == 1
    assert [r["k"] for r in got.filter("x == 0.0").collect()] == [1]


def test_bloom_prunes_merge_candidates(spark, tmp_path):
    """AcidTable.files_where consults blooms on a POINT lookup: a
    single-key MERGE on a bloom'd non-clustered table scans O(1)
    candidate files instead of every stats-overlapping file."""
    from pyspark.sql import functions as F

    register_acid_format(spark)
    p = str(tmp_path / "t")
    _build_table(spark, p)
    t = AcidTable(spark, p)
    # every file overlaps the key range (interleaved fixture): stats
    # alone keep all 16, the bloom narrows a point probe to 1
    assert len(t.files_where("uid", "u000033", "u000033")) == 1
    assert len(t.files_where("k", 33, 33)) == 1
    assert len(t.files_where("uid", "absent", "absent")) == 0
    # a RANGE probe is untouched by blooms (conservative)
    assert len(t.files_where("k", 10, 20)) == N_FILES
    # and the merge itself stays correct through the pruned candidates
    def upsert(touched, chg):
        c = chg.select("uid", F.col("v").alias("_nv"))
        return (
            touched.join(c, "uid", "full_outer")
            .select("uid", "k", F.coalesce("_nv", "v").alias("v"))
        )

    t.merge(
        spark.createDataFrame(
            [("u000033", 33, 777.0)], "uid STRING, k LONG, v DOUBLE"
        ),
        "uid",
        upsert,
    )
    hist = t.history()[-1]
    assert len(hist["remove"]) == 1  # only the one file rewritten
    got = {r["uid"]: r["v"] for r in t.snapshot().filter("uid = 'u000033'").collect()}
    assert got == {"u000033": 777.0}


def test_merge_null_key_cannot_shrink_probe_set(spark, tmp_path):
    """VERDICT r11 #1 regression: on a bloom'd table, a change batch
    holding >64 distinct non-NULL keys PLUS a NULL key must not let
    the sampled NULL shrink the bounded probe set under the <=64-key
    guard — collect_list silently drops the NULL, so without the
    isNotNull() pre-filter a 65-non-NULL-key batch masquerades as 64,
    the bloom probe runs over an incomplete key set, the missing key's
    file is pruned, and the upsert silently DUPLICATES that key
    instead of updating it. One key per file so any pruned file is
    observable as a duplicate.

    AQE partition coalescing is disabled for the merge: at toy size
    the distinct-key aggregate coalesces to ONE partition whose hash
    map happens to emit the NULL group last — past the limit window —
    which hides the defect; at real CDC scale the final aggregate
    keeps many partitions and the NULL sits mid-stream. The toggle
    reproduces the at-scale partition layout deterministically."""
    from pyspark.sql import functions as F

    p = str(tmp_path / "t")
    t = AcidTable(spark, p)
    n = 100  # well past the 64-key bounded-probe guard
    base = spark.createDataFrame(
        [(f"k{i:03d}", float(i)) for i in range(n)], "uid STRING, v DOUBLE"
    ).repartitionByRange(n, "uid")
    t.append(base, bloom_cols=("uid",))
    assert len(t._state()["live"]) >= n - 5  # ~one key per file

    changes = spark.createDataFrame(
        [(f"k{i:03d}", 1000.0 + i) for i in range(n)] + [(None, -1.0)],
        "uid STRING, v DOUBLE",
    )

    def upsert(touched, chg):
        c = chg.select("uid", F.col("v").alias("_nv"))
        return touched.join(c, "uid", "full_outer").select(
            "uid", F.coalesce("_nv", "v").alias("v")
        )

    coalesce_key = "spark.sql.adaptive.coalescePartitions.enabled"
    prev = spark.conf.get(coalesce_key)
    spark.conf.set(coalesce_key, "false")
    try:
        t.merge(changes, "uid", upsert)
    finally:
        spark.conf.set(coalesce_key, prev)
    rows = t.snapshot().filter(F.col("uid").isNotNull()).collect()
    by_key: dict = {}
    for r in rows:
        by_key.setdefault(r["uid"], []).append(r["v"])
    dupes = {k: vs for k, vs in by_key.items() if len(vs) != 1}
    assert dupes == {}, f"merge duplicated keys: {dupes}"
    assert len(by_key) == n
    assert all(by_key[f"k{i:03d}"] == [1000.0 + i] for i in range(n))


def test_merge_null_key_small_batch_bloom_probe(spark, tmp_path):
    """The <=64-key bloom-probe fast path with a NULL alongside real
    keys: the NULL is excluded from the probe (it never matches an
    equi semi-join), the real keys' files are found, and the merge
    stays exact."""
    from pyspark.sql import functions as F

    p = str(tmp_path / "t")
    t = AcidTable(spark, p)
    n = 40
    base = spark.createDataFrame(
        [(f"k{i:03d}", float(i)) for i in range(n)], "uid STRING, v DOUBLE"
    ).repartitionByRange(n, "uid")
    t.append(base, bloom_cols=("uid",))

    changes = spark.createDataFrame(
        [("k003", 333.0), ("k017", 777.0), (None, -1.0)],
        "uid STRING, v DOUBLE",
    )

    def upsert(touched, chg):
        c = chg.select("uid", F.col("v").alias("_nv"))
        return touched.join(c, "uid", "full_outer").select(
            "uid", F.coalesce("_nv", "v").alias("v")
        )

    t.merge(changes, "uid", upsert)
    got = {
        r["uid"]: r["v"]
        for r in t.snapshot().filter(F.col("uid").isin("k003", "k017")).collect()
    }
    assert got == {"k003": 333.0, "k017": 777.0}
    # the probe stayed bounded: only the two keyed files rewrote
    assert len(t.history()[-1]["remove"]) <= 2
