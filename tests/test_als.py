"""ALS end-to-end metric tests (SURVEY.md §5.2 — mirrors the
reference's own held-out-RMSE gate, ALS-Hadoop/ALS/ALS.java:392-433)."""

from __future__ import annotations

import pytest
from pyspark.errors import IllegalArgumentException

from als_hadoop_spark.operators.als import als_pipeline, hash_split, synth_ratings

#: Spark jobs of one reference_pipeline call on the small CSV below
#: (local[4], 8 shuffle partitions). The two-call dense-id encode,
#: randomSplit and separate count / mean / baseline jobs took 49; the
#: range-partitioned id enumeration in place of encode_ids took 28.
REFERENCE_PIPELINE_MAX_JOBS = 20


def _cache_is_empty(spark) -> bool:
    return spark._jsparkSession.sharedState().cacheManager().isEmpty()


def test_synth_ratings_deterministic_and_bounded(spark):
    r1 = synth_ratings(spark, n_users=100, n_items=50, n_ratings=2000)
    r2 = synth_ratings(spark, n_users=100, n_items=50, n_ratings=2000)
    rows1 = sorted(map(tuple, r1.collect()))
    rows2 = sorted(map(tuple, r2.collect()))
    assert rows1 == rows2
    assert all(1.0 <= r[2] <= 5.0 for r in rows1)
    # no duplicate (user, item) pairs — SURVEY.md §7.3.5
    assert len({(u, i) for u, i, _ in rows1}) == len(rows1)


def test_als_beats_global_mean(spark):
    """The reference's quality gate: held-out RMSE below threshold and
    better than the trivial predictor (BASELINE.md operational gate)."""
    ratings = synth_ratings(spark)
    preds, rmse, base_rmse, _ = als_pipeline(ratings, max_iter=10)
    assert preds.count() > 0
    assert rmse < 1.0, f"rmse={rmse}"
    assert rmse < base_rmse, f"rmse={rmse} vs global-mean={base_rmse}"


def test_reference_pipeline_from_csv(spark, tmp_path):
    """The reference's complete workflow from raw CSV (scan → dense-id
    encode → split → fit → RMSE) in one driver program — the engine
    twin of ALS-Hadoop/ALS/ALS.java:217-331 + mapid.py + split.py. The
    CSV carries MovieLens-style raw (non-dense) ids and a trailing
    timestamp column that must be ignored (mapid.py:21)."""
    from als_hadoop_spark.operators.als import reference_pipeline

    ratings = synth_ratings(spark, n_users=150, n_items=80, n_ratings=6000)
    # de-densify ids the way raw MovieLens ids are sparse, add timestamp
    csv = ratings.selectExpr(
        "user_id * 7 + 3 as user_id", "item_id * 11 + 5 as item_id", "rating",
        "cast(886307828 as long) as ts",
    )
    path = str(tmp_path / "ratings.csv")
    csv.write.mode("overwrite").option("header", "false").csv(path)
    spark.catalog.clearCache()
    sc = spark.sparkContext
    group = "test_reference_pipeline_from_csv"
    sc.setJobGroup(group, "reference_pipeline job count")
    try:
        preds, rmse, base_rmse, _ = reference_pipeline(spark, path)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    n_jobs = len(sc.statusTracker().getJobIdsForGroup(group))
    assert n_jobs <= REFERENCE_PIPELINE_MAX_JOBS, n_jobs
    assert preds.count() > 0
    assert rmse < base_rmse, f"rmse={rmse} vs global-mean={base_rmse}"
    # dense re-encoding: ids are 0..n-1
    mx = preds.selectExpr("max(user_id) mu", "max(item_id) mi").collect()[0]
    assert mx["mu"] < 150 and mx["mi"] < 80
    # the pipeline's own cached frame is gone; the caller's preds is the
    # only thing left to release
    preds.unpersist()
    assert _cache_is_empty(spark)


def test_failed_fit_leaves_nothing_cached(spark):
    spark.catalog.clearCache()
    ratings = synth_ratings(spark, n_users=50, n_items=30, n_ratings=500)
    with pytest.raises(IllegalArgumentException):
        als_pipeline(ratings, rank=0)
    assert _cache_is_empty(spark)


def test_hash_split_is_layout_independent(spark):
    """train and probe evaluated over DIFFERENT partition layouts of
    the same ratings are disjoint, cover the ratings and keep the
    0.8/0.2 shares. (randomSplit fails this: its draw follows each
    partition's RNG stream, so the two layouts share rows.)"""
    ratings = synth_ratings(spark, n_users=100, n_items=50, n_ratings=3000)
    _, train, probe = hash_split(ratings.repartition("user_id", "item_id"))
    keys = (
        "spark.sql.shuffle.partitions",
        "spark.sql.adaptive.coalescePartitions.enabled",
    )
    saved = {k: spark.conf.get(k) for k in keys}
    try:
        spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "false")
        spark.conf.set("spark.sql.shuffle.partitions", "3")
        train_rows = [tuple(r) for r in train.collect()]
        spark.conf.set("spark.sql.shuffle.partitions", "7")
        probe_rows = [tuple(r) for r in probe.collect()]
    finally:
        for k, v in saved.items():
            spark.conf.set(k, v)
    everything = {tuple(r) for r in ratings.collect()}
    assert not set(train_rows) & set(probe_rows)
    assert len(train_rows) + len(probe_rows) == len(everything)
    assert set(train_rows) | set(probe_rows) == everything
    assert 0.17 < len(probe_rows) / len(everything) < 0.23


def test_als_recommend_topk_shape(spark):
    """q_als_recommend: exactly K recs per user, scores non-increasing
    with rank, item ids drawn from the training item space."""
    from als_hadoop_spark.operators.als import RECOMMEND_K, q_als_recommend

    rows = q_als_recommend(spark, "/root/testdata/sf0.001").collect()
    assert rows
    per_user: dict[int, list] = {}
    for r in rows:
        per_user.setdefault(r["user_id"], []).append((r["rec_rank"], r["score"], r["item_id"]))
    for u, rs in per_user.items():
        rs.sort()
        assert [rk for rk, _, _ in rs] == list(range(1, RECOMMEND_K + 1)), u
        scores = [s for _, s, _ in rs]
        assert scores == sorted(scores, reverse=True), u
        assert all(i >= 0 for _, _, i in rs)


def test_cold_start_rows_dropped(spark):
    """ALS/ALS.java:460-464 semantics: probe rows whose user/item is
    unseen in training are dropped, not NaN-predicted."""
    ratings = synth_ratings(spark, n_users=100, n_items=50, n_ratings=1500)
    preds, _, _, _ = als_pipeline(ratings, max_iter=2)
    assert preds.filter("prediction != prediction").count() == 0  # no NaN


def test_als_item_sim_shape_and_monotonicity(spark, sf_dir):
    from als_hadoop_spark.operators import als

    rows = als.q_als_item_sim(spark, sf_dir).collect()
    by_probe = {}
    for r in rows:
        by_probe.setdefault(r["probe_item"], []).append(r)
    assert len(by_probe) == als.ITEM_SIM_PROBES
    for probe, neigh in by_probe.items():
        neigh.sort(key=lambda r: r["sim_rank"])
        assert [r["sim_rank"] for r in neigh] == list(
            range(1, als.ITEM_SIM_K + 1)
        )
        cosines = [r["cosine"] for r in neigh]
        assert cosines == sorted(cosines, reverse=True)
        assert all(-1.0 <= c <= 1.0 for c in cosines)
        assert all(r["item_id"] != probe for r in neigh)


def test_als_ranking_beats_random(spark):
    """NDCG@5 of the model ordering must clearly beat a hash-random
    ordering of the same held-out items, and both must be valid
    (0 < ndcg <= 1]. The random floor is high in absolute terms (per
    user only a handful of probe items are shuffled), so the gate is on
    the GAP, not a fixed threshold."""
    from als_hadoop_spark.operators.als import q_als_ranking

    rows = {r["method"]: r for r in q_als_ranking(spark, "unused").collect()}
    assert set(rows) == {"als_model", "random_order"}
    m, r = rows["als_model"], rows["random_order"]
    assert m["n_users"] == r["n_users"] > 100
    for row in (m, r):
        assert 0.0 < row["ndcg_at_5"] <= 1.0, row
    assert m["ndcg_at_5"] >= r["ndcg_at_5"] + 0.02, (m, r)


def test_generator_source_feeds_reference_pipeline(spark):
    """End-to-end integration: the custom ratings_gen DataSource feeds
    the reference workflow (dense-encode -> split -> fit -> RMSE) and
    the fit beats the global-mean baseline — any source landing the
    ratings schema plugs into the same program."""
    from als_hadoop_spark.operators.als import pipeline_from_ratings
    from als_hadoop_spark.sources import register_ratings_gen

    register_ratings_gen(spark)
    raw = (
        spark.read.format("ratings_gen")
        .option("n_users", 300)
        .option("n_items", 80)
        .load()
        .select("user_id", "item_id", "rating")
    )
    _, rmse, mean_rmse, _ = pipeline_from_ratings(raw)
    assert rmse < mean_rmse, f"fit {rmse} does not beat global mean {mean_rmse}"
    assert rmse < 1.0


def test_rank_sweep_finds_latent_structure(spark):
    """The sweep must (a) emit one row per grid rank with exactly one
    winner, (b) every rank beats the global-mean floor, and (c) the
    underfit rank-2 point loses to the winner by a wide margin — the
    generator's latent rank is 6, so the grid's middle must win."""
    from als_hadoop_spark.operators.als import SWEEP_RANKS, q_als_rank_sweep

    rows = {r["rank"]: r for r in q_als_rank_sweep(spark, "unused").collect()}
    assert set(rows) == set(SWEEP_RANKS)
    best = [r for r in rows.values() if r["is_best"]]
    assert len(best) == 1
    b = best[0]
    assert all(b["rmse"] <= r["rmse"] for r in rows.values())
    assert all(r["rmse"] < r["global_mean_rmse"] for r in rows.values())
    assert rows[min(SWEEP_RANKS)]["rmse"] > b["rmse"] * 1.5  # underfit visible
    assert b["rank"] != min(SWEEP_RANKS)


def test_rank_sweep_pool_keeps_the_job_group(spark, monkeypatch):
    """pyspark pins a job group to the thread that set it: every job of
    the sweep's pooled fits must still land in the caller's group, and
    none outside it."""
    from als_hadoop_spark.operators import als

    small = synth_ratings(spark, n_users=40, n_items=25, n_ratings=500)
    monkeypatch.setattr(als, "synth_ratings", lambda _spark: small)
    sc = spark.sparkContext
    tracker = sc.statusTracker()
    ungrouped = set(tracker.getJobIdsForGroup(None))
    sc.setJobGroup("rank_sweep_pool", "pooled ALS fits")
    try:
        rows = als.q_als_rank_sweep(spark, "unused").collect()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert len(rows) == len(als.SWEEP_RANKS)
    # each fit alone runs more than ten jobs
    assert len(tracker.getJobIdsForGroup("rank_sweep_pool")) > 10 * len(rows)
    assert set(tracker.getJobIdsForGroup(None)) <= ungrouped
