"""Deletion vectors — merge-on-read for the ACID table (r11).

The Delta/Iceberg position-delete recipe, public semantics: with the
``deletionVectors`` table property set, MERGE/DELETE/UPDATE commit a
tiny position sidecar ("these rows of file F are gone") instead of
rewriting the touched data files; every read path anti-joins the live
sidecars; OPTIMIZE materializes them away. The headline contract,
pinned below: a k-row change on a large file rewrites ZERO data files.
"""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from als_hadoop_spark.sources.acid import (
    AcidTable,
    CommitConflict,
    ConstraintViolation,
    _DV_DIR,
)

#: Spark jobs of one statement on ``_dv_table``'s 100-row, 2-file table
#: (local[4], 8 shuffle partitions), counted through a job group around
#: the call — the staging pools pass the group on to their jobs
ROW_LEVEL_JOBS = {
    "dv_merge": 13,
    "dv_delete_cdf": 6,
    "dv_update": 6,
    "cow_merge": 10,
}


def _df(spark, rows):
    return spark.createDataFrame(rows, "k LONG, v STRING")


def _rows(df):
    return sorted((r["k"], r["v"]) for r in df.collect())


def _upsert(touched, chg):
    c = chg.select("k", F.col("v").alias("_nv"))
    return touched.join(c, "k", "full_outer").select(
        "k", F.coalesce("_nv", "v").alias("v")
    )


def _unreferenced(t) -> list[str]:
    """Files of the table outside ``_acid_log/`` and ``_acid_stage/``
    that no commit names, plus ``"missing:"`` entries for names the log
    references that are gone — empty when the files on disk are
    exactly the log's."""
    refs = set()
    for e in t.history():
        refs.update(a["path"] for a in e.get("add", []))
        refs.update(e.get("cdc", []))
        refs.update(e.get("dv", {}).get("sidecars", []))
    on_disk = set()
    for root, dirs, names in os.walk(t.path):
        rel_root = os.path.relpath(root, t.path)
        if rel_root.split(os.sep)[0] in ("_acid_log", "_acid_stage"):
            continue
        on_disk.update(
            os.path.normpath(os.path.join(rel_root, n)) for n in names
        )
    missing = sorted(f"missing:{p}" for p in refs - on_disk)
    return sorted(on_disk - refs) + missing


def _tree(path) -> list[str]:
    """Every file and directory under ``path``."""
    out = []
    for root, dirs, names in os.walk(path):
        out += [
            os.path.relpath(os.path.join(root, n), path) for n in dirs + names
        ]
    return sorted(out)


def _dv_table(spark, path, n=100, files=2):
    t = AcidTable(spark, str(path))
    t.append(
        _df(spark, [(i, f"v{i}") for i in range(n)]).coalesce(files)
    )
    t.set_property("deletionVectors", "true")
    return t


def test_krow_merge_rewrites_zero_data_files(spark, tmp_path):
    """THE merge-on-read contract: a 2-key MERGE against a 100-row
    table commits a sidecar + the changed rows — the live data file
    set is untouched and the commit removes nothing."""
    t = _dv_table(spark, tmp_path / "t")
    before = sorted(t._replay())
    v = t.merge(_df(spark, [(5, "X"), (999, "new")]), "k", _upsert)
    e = t._read_entry(v)
    assert not e.get("remove"), "merge-on-read must remove no data file"
    assert e["dv"]["sidecars"], "a matched key must produce a sidecar"
    # live set = the original files (still live, now masked) + the
    # merge's own small output — none of the originals rewritten
    live = sorted(t._replay())
    assert all(f in live for f in before)
    got = dict(_rows(t.snapshot()))
    assert got[5] == "X" and got[999] == "new" and got[4] == "v4"
    assert len(got) == 101


def test_dv_delete_masks_rows_and_keeps_files(spark, tmp_path):
    t = _dv_table(spark, tmp_path / "t")
    before = sorted(t._replay())
    v = t.delete("k % 10 = 3")
    e = t._read_entry(v)
    assert not e.get("remove") and not e.get("add")
    assert sorted(t._replay()) == before
    assert sorted(r["k"] for r in t.snapshot().collect()) == [
        k for k in range(100) if k % 10 != 3
    ]
    # sidecar rows are (file basename, position) pairs under _acid_dv/
    assert all(s.startswith(_DV_DIR + "/") for s in e["dv"]["sidecars"])
    # a second mask on the same files unions with the first
    t.delete("k % 10 = 7")
    assert sorted(r["k"] for r in t.snapshot().collect()) == [
        k for k in range(100) if k % 10 not in (3, 7)
    ]


def test_dv_delete_null_predicate_keeps_rows(spark, tmp_path):
    """DELETE semantics: rows where the predicate evaluates NULL are
    KEPT (only TRUE deletes) — same contract as the cow path."""
    t = AcidTable(spark, str(tmp_path / "t"))
    t.append(_df(spark, [(1, "a"), (2, None), (3, "c")]).coalesce(1))
    t.set_property("deletionVectors", "true")
    t.delete(F.col("v") == "a")  # NULL for k=2 -> kept
    assert sorted(r["k"] for r in t.snapshot().collect()) == [2, 3]


def test_time_travel_and_cdf_across_dv_commits(spark, tmp_path):
    t = _dv_table(spark, tmp_path / "t", n=10, files=1)
    v_full = t.latest_version()
    t.delete("k >= 8", cdf=True)
    t.merge(_df(spark, [(0, "Z")]), "k", _upsert, cdf=True)
    assert sorted(r["k"] for r in t.snapshot(version=v_full).collect()) == list(
        range(10)
    )
    got = sorted(
        (r["k"], r["_change_type"]) for r in t.table_changes(2, 3).collect()
    )
    assert got == [
        (0, "update_postimage"),
        (0, "update_preimage"),
        (8, "delete"),
        (9, "delete"),
    ]


def test_table_changes_derives_dv_commits_without_cdc(spark, tmp_path):
    """A dv commit with no CDC sidecar derives its change set from the
    masked positions + added files — carried identical rows cancel,
    matching the copy-on-write derivation."""
    t = _dv_table(spark, tmp_path / "t", n=4, files=1)
    t.delete("k = 1")  # no cdf
    t.merge(_df(spark, [(2, "B"), (7, "new")]), "k", _upsert)  # no cdf
    got = sorted(
        (r["k"], r["_change_type"], r["_commit_version"])
        for r in t.table_changes(2, 3).collect()
    )
    assert got == [
        (1, "delete", 2),
        (2, "delete", 3),
        (2, "insert", 3),
        (7, "insert", 3),
    ]


def test_update_dv_and_cow_with_simultaneous_assignments(spark, tmp_path):
    """UPDATE SET evaluates every assignment against the ORIGINAL row
    (one projection): SET k=k+100, v=concat(v,k) reads the old k."""
    t = _dv_table(spark, tmp_path / "t", n=4, files=1)
    before = sorted(t._replay())
    v = t.update(
        {"k": "k + 100", "v": "concat(v, '-', cast(k as string))"},
        "k >= 2",
        cdf=True,
    )
    e = t._read_entry(v)
    assert not e.get("remove") and e["dv"]["sidecars"]
    assert all(f in sorted(t._replay()) for f in before)
    assert _rows(t.snapshot()) == [
        (0, "v0"),
        (1, "v1"),
        (102, "v2-2"),
        (103, "v3-3"),
    ]
    got = sorted(
        (r["k"], r["_change_type"])
        for r in t.table_changes(v, v).collect()
    )
    assert got == [
        (2, "update_preimage"),
        (3, "update_preimage"),
        (102, "update_postimage"),
        (103, "update_postimage"),
    ]
    # explicit cow on the same table forces a rewrite commit
    v = t.update({"v": F.lit("flat")}, "k = 0", mode="cow")
    e = t._read_entry(v)
    assert e.get("remove") and not e.get("dv")
    assert dict(_rows(t.snapshot()))[0] == "flat"
    # unknown column refuses loudly
    with pytest.raises(ValueError, match="unknown column"):
        t.update({"nope": F.lit(1)})


def test_update_null_predicate_rows_kept_unchanged(spark, tmp_path):
    t = AcidTable(spark, str(tmp_path / "t"))
    t.append(_df(spark, [(1, "a"), (2, None)]).coalesce(1))
    t.update({"k": "k + 10"}, F.col("v") == "a", mode="cow")
    assert _rows(t.snapshot()) == [(2, None), (11, "a")]


def test_restore_rolls_back_a_dv_mask(spark, tmp_path):
    """RESTORE across a dv delete: the file is live in both versions
    but with DIFFERENT masks — the restore must re-add it with the
    target's dv refs, and restoring forward re-applies the mask."""
    t = _dv_table(spark, tmp_path / "t", n=6, files=1)
    v_full = t.latest_version()
    v_del = t.delete("k >= 4")
    assert t.snapshot().count() == 4
    t.restore(v_full)
    assert sorted(r["k"] for r in t.snapshot().collect()) == list(range(6))
    t.restore(v_del)
    assert sorted(r["k"] for r in t.snapshot().collect()) == list(range(4))


def test_optimize_materializes_dvs_even_when_compact(spark, tmp_path):
    """OPTIMIZE is the DV materialization point: even a table already
    under the file-count target rewrites when masks exist — afterwards
    no live action carries a dv ref and the rows are identical."""
    t = _dv_table(spark, tmp_path / "t", n=20, files=1)
    t.delete("k >= 15")
    snap = _rows(t.snapshot())
    assert any(a.get("dv") for a in t._state()["live"].values())
    t.optimize(target_files=8)  # 1 file < 8: would no-op without DVs
    st = t._state()
    assert not any(a.get("dv") for a in st["live"].values())
    assert _rows(t.snapshot()) == snap


def test_vacuum_sweeps_dead_sidecars_keeps_referenced(spark, tmp_path):
    t = _dv_table(spark, tmp_path / "t", n=10, files=1)
    t.delete("k = 1")
    dv_dir = os.path.join(t.path, _DV_DIR)
    live_sidecars = set(os.listdir(dv_dir))
    # an orphan sidecar (lost-race debris) sweeps at retention 0
    orphan = os.path.join(dv_dir, "deadbeef-00000.parquet")
    with open(orphan, "wb") as f:
        f.write(b"junk")
    swept = t.vacuum(retention_hours=0.0)
    assert f"{_DV_DIR}/deadbeef-00000.parquet" in swept
    assert set(os.listdir(dv_dir)) == live_sidecars
    assert sorted(r["k"] for r in t.snapshot().collect()) == [
        k for k in range(10) if k != 1
    ]


def test_clone_carries_masks_and_merge_on_read_property(spark, tmp_path):
    t = _dv_table(spark, tmp_path / "t", n=10, files=1)
    t.delete("k >= 8")
    c = t.clone(str(tmp_path / "c"))
    # masks carry (by absolute sidecar path) and the property follows
    assert sorted(r["k"] for r in c.snapshot().collect()) == list(range(8))
    assert c.properties().get("deletionVectors") == "true"
    # a dv write in the CLONE masks the shared file without touching
    # the source; its sidecar lands in the clone's own _acid_dv/
    v = c.delete("k = 0")
    assert all(
        s.startswith(_DV_DIR + "/")
        for s in c._read_entry(v)["dv"]["sidecars"]
    )
    assert sorted(r["k"] for r in c.snapshot().collect()) == list(range(1, 8))
    assert sorted(r["k"] for r in t.snapshot().collect()) == list(range(8))


def test_dv_adds_validate_constraints(spark, tmp_path):
    """A dv merge/update's NEW files still pass CHECK constraints —
    the mask changes how old rows leave, not how new rows enter."""
    t = _dv_table(spark, tmp_path / "t", n=4, files=1)
    t.set_constraint("v_nonempty", "length(v) > 0")
    with pytest.raises(ConstraintViolation, match="v_nonempty"):
        t.merge(_df(spark, [(1, "")]), "k", _upsert)
    # the refused statement's staged data files and sidecar are gone
    assert _unreferenced(t) == []
    with pytest.raises(ConstraintViolation, match="v_nonempty"):
        t.update({"v": F.lit("")}, "k = 2")
    assert _unreferenced(t) == []
    assert _rows(t.snapshot()) == [(i, f"v{i}") for i in range(4)]


def test_failed_and_empty_statements_leave_no_files(
    spark, tmp_path, monkeypatch
):
    """A statement that loses its commit, or whose staging pool branch
    raises, removes every file it staged: data files, the DV sidecar
    and the CDC sidecar. A DV DELETE or UPDATE that matches no row
    commits nothing and leaves the table's directory tree exactly as
    it found it — no empty sidecar, change file or new directory."""
    for mode in ("dv", "cow"):
        t = _dv_table(spark, tmp_path / f"lost_{mode}", n=20)
        monkeypatch.setattr(t, "_try_commit", lambda v, e: False)
        with pytest.raises(CommitConflict, match="merge"):
            t.merge(
                _df(spark, [(5, "X"), (999, "new")]), "k", _upsert,
                cdf=True, mode=mode,
            )
        assert _unreferenced(t) == [], mode
    for failing in ("_stage_dv", "_stage_files_layout_aware"):
        t = _dv_table(spark, tmp_path / f"branch{failing}", n=20)

        def boom(*args, **kwargs):
            raise RuntimeError("staging failed")

        monkeypatch.setattr(t, failing, boom)
        with pytest.raises(RuntimeError, match="staging failed"):
            t.update({"v": F.lit("u")}, "k < 5", cdf=True)
        assert _unreferenced(t) == [], failing
        assert t.latest_version() == 1
    from als_hadoop_spark.sources.acid_format import register_acid_format

    register_acid_format(spark)
    path = str(tmp_path / "t")
    (
        spark.createDataFrame(
            [(i, i % 3, f"v{i}") for i in range(12)], "k LONG, p LONG, v STRING"
        )
        .write.format("acid")
        .option("path", path)
        .option("partitionBy", "p")
        .mode("append")
        .save()
    )
    t = AcidTable(spark, path)
    v = t.set_property("deletionVectors", "true")
    before = _tree(path)
    assert t.delete("k > 100", cdf=True) == v
    assert _tree(path) == before
    assert t.update({"v": F.lit("u")}, "k > 100", cdf=True) == v
    assert _tree(path) == before
    assert t.latest_version() == v


def test_lost_table_commits_leave_no_files(spark, tmp_path, monkeypatch):
    """``append`` (after its retries), ``overwrite`` and ``optimize``
    remove the data files they staged when their commit is lost, as the
    row-level statements do: no file on disk that the log does not
    name."""
    t = AcidTable(spark, str(tmp_path / "t"))
    t.append(_df(spark, [(i, f"v{i}") for i in range(30)]).coalesce(3))
    assert len(t._replay()) == 3
    monkeypatch.setattr(t, "_try_commit", lambda v, e: False)
    more = _df(spark, [(i, "x") for i in range(30, 40)]).coalesce(2)
    for name, op in (
        ("append", lambda: t.append(more, max_retries=2)),
        ("overwrite", lambda: t.overwrite(more)),
        ("optimize", lambda: t.optimize(target_files=1)),
    ):
        with pytest.raises(CommitConflict):
            op()
        assert _unreferenced(t) == [], name
    assert t.latest_version() == 0


def test_row_level_statement_job_counts(spark, tmp_path):
    """Each statement's Spark job count, pinned — and every job of the
    statement lands in the caller's job group, the ones its staging
    pools start included."""
    sc = spark.sparkContext

    def jobs(name, statement):
        sc.setJobGroup(f"row_level_{name}", name)
        try:
            statement()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        return len(sc.statusTracker().getJobIdsForGroup(f"row_level_{name}"))

    chg = _df(spark, [(5, "X"), (999, "new")])
    dv_m = _dv_table(spark, tmp_path / "dv_merge")
    dv_d = _dv_table(spark, tmp_path / "dv_delete")
    dv_u = _dv_table(spark, tmp_path / "dv_update")
    cow_m = AcidTable(spark, str(tmp_path / "cow_merge"))
    cow_m.append(_df(spark, [(i, f"v{i}") for i in range(100)]).coalesce(2))
    got = {
        "dv_merge": jobs("dv_merge", lambda: dv_m.merge(chg, "k", _upsert)),
        "dv_delete_cdf": jobs(
            "dv_delete_cdf", lambda: dv_d.delete("k % 10 = 3", cdf=True)
        ),
        "dv_update": jobs(
            "dv_update", lambda: dv_u.update({"v": F.lit("u")}, "k < 5")
        ),
        "cow_merge": jobs("cow_merge", lambda: cow_m.merge(chg, "k", _upsert)),
    }
    assert got == ROW_LEVEL_JOBS


def test_mode_resolution_and_explicit_override(spark, tmp_path):
    t = AcidTable(spark, str(tmp_path / "t"))
    t.append(_df(spark, [(1, "a"), (2, "b")]).coalesce(1))
    # no property: auto = cow
    v = t.delete("k = 1")
    assert t._read_entry(v).get("remove")
    # explicit dv on a table that never opted in
    v = t.delete("k = 2", mode="dv")
    assert t._read_entry(v)["dv"]["sidecars"]
    with pytest.raises(ValueError, match="mode"):
        t.delete("k = 0", mode="sideways")


def test_dv_on_partitioned_table_preserves_layout(spark, tmp_path):
    """DV masking composes with the partitionBy layout: masked rows
    vanish, partition metadata survives, and per-partition OPTIMIZE
    materializes masks back into the col=value/ dirs."""
    path = str(tmp_path / "t")
    df = spark.createDataFrame(
        [(i, i % 3, f"v{i}") for i in range(30)], "k LONG, p LONG, v STRING"
    )
    from als_hadoop_spark.sources.acid_format import register_acid_format

    register_acid_format(spark)
    (
        df.write.format("acid")
        .option("path", path)
        .option("partitionBy", "p")
        .mode("append")
        .save()
    )
    t = AcidTable(spark, path)
    t.set_property("deletionVectors", "true")
    t.delete("k >= 24")
    expect = [k for k in range(24)]
    assert sorted(r["k"] for r in t.snapshot().collect()) == expect
    # the format reader applies the same masks
    got = spark.read.format("acid").option("path", path).load()
    assert sorted(r["k"] for r in got.collect()) == expect
    # ... and partition elimination still prunes to one partition dir
    one = got.where("p = 1")
    assert sorted(r["k"] for r in one.collect()) == [
        k for k in expect if k % 3 == 1
    ]
    # a second DELETE masks more rows of files the first one masked
    # (at local[4] the rows 21..29 share a file per partition): the
    # format reader applies two sidecars to one file
    t.delete("k IN (21, 23)")
    expect = [k for k in expect if k not in (21, 23)]
    assert any(len(a.get("dv", ())) == 2 for a in t._state()["live"].values())
    assert sorted(r["k"] for r in t.snapshot().collect()) == expect
    got = spark.read.format("acid").option("path", path).load()
    assert sorted(r["k"] for r in got.collect()) == expect
    t.optimize(target_files=6)
    st = t._state()
    assert not any(a.get("dv") for a in st["live"].values())
    assert all(a.get("partition") for a in st["live"].values())
    assert sorted(r["k"] for r in t.snapshot().collect()) == expect
