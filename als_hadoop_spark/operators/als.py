"""ALS collaborative filtering — the reference's entire capability
(SURVEY.md §2 A9-A14, §3.1), re-expressed on Spark MLlib.

The reference hand-builds the pipeline as 23 MapReduce job launches
(``ALS-Hadoop/ALS/ALS.java:217-331``): CSV parse → item-keyed sparse
vectors → transpose → per-item means → M₀ init → 10 × (solve U | solve
M) with the fixed factor broadcast via DistributedCache → probe scoring
→ RMSE. Here the whole thing is one driver program:

    dense ids (one sorted-distinct aggregate, broadcast id maps) →
            ratings + hash split flag (cached) → one stats job (n_train,
            μ, global-mean RMSE) → ml.recommendation.ALS(...).fit(train)
            → transform(probe) (cached) → RMSE aggregate

The id encode (``encode_ids``) needs each id column's distinct values to
fit in one task and one broadcast, as ALS needs their factor rows to.
The split is a per-row content hash of (user_id, item_id), so train and
probe are disjoint and cover the ratings on any partition layout and on
every re-evaluation (see ``hash_split``).

with identical hyperparameters (rank=20, maxIter=10, regParam=0.065 —
``ALS/ALS.java:52-55``; λ=0.065 is the ALS-WR paper's tuned value, Zhou
et al. AAIM 2008). Spark's block solver subsumes the reference's
broadcast + gather + QR solve (``SolveExplicitFeedbackMapper.java:
92-102``); per SURVEY.md §7.3.1 factor bits are never comparable across
implementations, so parity is gated on RMSE like the reference's own
gate (``ALS/ALS.java:423-433``).

Scale: MLlib ALS partitions users and items into blocks and shuffles
only factor blocks between halves of each iteration — the design that
replaces the reference's full-matrix DistributedCache copy to every
node per iteration (``ALS/ALS.java:380-383``).
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..session import in_thread

RANK = 20          # ALS-Hadoop/ALS/ALS.java:52 (numFeatures)
MAX_ITER = 10      # ALS-Hadoop/ALS/ALS.java:53 (numIterations)
REG_PARAM = 0.065  # ALS-Hadoop/ALS/ALS.java:55 (lambda)


def _hash_unit(*cols) -> F.Column:
    """Deterministic pseudo-uniform in [0,1) from xxhash64 of the given
    columns — partition-layout independent (unlike F.rand(seed), whose
    stream depends on task split), so the synthetic data and the
    train/probe split are identical on any cluster size."""
    h = F.xxhash64(*cols)
    return (F.pmod(h, F.lit(1_000_003)).cast("double")) / 1_000_003.0


def synth_ratings(
    spark: SparkSession,
    n_users: int = 600,
    n_items: int = 300,
    n_ratings: int = 30_000,
    latent_rank: int = 6,
    seed: int = 42,
) -> DataFrame:
    """FIXTURES.md §A1: seeded low-rank-plus-noise ratings so ALS at
    rank 20 measurably beats the global-mean predictor. Fully
    distributed generation — spark.range + hash arithmetic, no driver
    loops, no numpy on the driver."""
    # Selection must be order-deterministic on ANY partition layout:
    # dropDuplicates keeps an identical-content row per pair (safe), but
    # a limit() here would keep a layout-dependent subset — instead keep
    # the pairs whose pair-hash clears a fixed threshold (~n_ratings of
    # them in expectation), which is a pure per-row predicate.
    keep_frac = n_ratings / (n_ratings * 1.25)
    pairs = (
        spark.range(int(n_ratings * 1.25))
        .select(
            F.pmod(F.xxhash64("id", F.lit(seed)), F.lit(n_users)).cast("int").alias("user_id"),
            F.pmod(F.xxhash64("id", F.lit(seed + 1)), F.lit(n_items)).cast("int").alias("item_id"),
        )
        .dropDuplicates(["user_id", "item_id"])
        .filter(
            F.pmod(F.xxhash64("user_id", "item_id", F.lit(seed + 9)), F.lit(1_000_000))
            < int(keep_frac * 1_000_000)
        )
    )
    dims = F.sequence(F.lit(0), F.lit(latent_rank - 1))
    # per-(entity, dim) latent factors in [-1, 1), derived from hashes
    u_vec = F.transform(dims, lambda d: _hash_unit(F.col("user_id"), d, F.lit(seed + 2)) * 2 - 1)
    i_vec = F.transform(dims, lambda d: _hash_unit(F.col("item_id"), d, F.lit(seed + 3)) * 2 - 1)
    affinity = F.aggregate(
        F.zip_with(u_vec, i_vec, lambda a, b: a * b), F.lit(0.0), lambda acc, x: acc + x
    )
    noise = (_hash_unit(F.col("user_id"), F.col("item_id"), F.lit(seed + 4)) - 0.5) * 0.5
    # affinity ∈ ~[-rank/3, rank/3]; squash into the 1..5 star scale
    raw = 3.0 + affinity * (2.4 / (latent_rank / 3.0)) + noise
    return pairs.select(
        "user_id",
        "item_id",
        F.round(F.greatest(F.lit(1.0), F.least(F.lit(5.0), raw)), 2)
        .cast("float")
        .alias("rating"),
    )


#: split.py:5-19 — per-row Bernoulli draw, P(probe) = 0.2, seed 1
PROBE_FRACTION = 0.2
SPLIT_SEED = 1
_PROBE = "_probe"


def hash_split(ratings: DataFrame) -> tuple[DataFrame, DataFrame, DataFrame]:
    """split.py's seeded 0.8/0.2 Bernoulli split as a per-row content
    hash: a rating is a probe row iff ``_hash_unit(user_id, item_id,
    SPLIT_SEED) < PROBE_FRACTION``.

    Returns ``(flagged, train, probe)``: the ratings plus a boolean
    ``_probe`` column, and its two filters (flag column dropped). The
    draw depends only on the row's ids, so train and probe are disjoint
    and together cover the ratings however often, and on whatever
    partition layout, they are evaluated. ``randomSplit`` draws from a
    per-partition RNG stream instead: two evaluations over different
    layouts share rows."""
    flag = _hash_unit(F.col("user_id"), F.col("item_id"), F.lit(SPLIT_SEED))
    flagged = ratings.withColumn(_PROBE, flag < PROBE_FRACTION)
    train = flagged.filter(~F.col(_PROBE)).drop(_PROBE)
    probe = flagged.filter(F.col(_PROBE)).drop(_PROBE)
    return flagged, train, probe


def als_pipeline(
    ratings: DataFrame,
    rank: int = RANK,
    max_iter: int = MAX_ITER,
    reg_param: float = REG_PARAM,
    seed: int = 42,
) -> tuple[DataFrame, float, float, "object"]:
    """§3.1 end-to-end: split → fit → score → RMSE.

    Returns (predictions, rmse, global_mean_rmse, fitted_model). The
    split is ``hash_split`` (split.py:5-19's 0.8/0.2, seed 1, drawn per
    row from its ids); cold-start rows are dropped exactly like the
    reference's join-miss drop at ALS/ALS.java:460-464.

    One pass over the ratings: the flagged frame is cached, and
    train, probe and the statistics all read that one copy.

    1. One aggregate job fills the cache and returns ``n_train``, the
       train mean μ and the probe's n, Σr and Σr². The global-mean
       baseline RMSE over all probe rows is
       ``sqrt((Σr² - 2μΣr + nμ²) / n)``.
    2. MLlib fits on the train filter of the cached frame.
    3. ``preds = transform(probe)`` is cached (the caller keeps it and
       unpersists it) and the RMSE aggregate reads it.

    The flagged frame is released before returning, and also when the
    fit or the scoring raises.
    """
    from pyspark.ml.recommendation import ALS

    flagged, train, probe = hash_split(ratings)
    flagged = flagged.cache()
    try:
        p = F.col(_PROBE)
        r = F.col("rating").cast("double")
        stats = flagged.agg(
            F.count(F.when(~p, 1)).alias("n_train"),
            F.avg(F.when(~p, r)).alias("mu"),
            F.count(F.when(p, 1)).alias("n_probe"),
            F.sum(F.when(p, r)).alias("s1"),
            F.sum(F.when(p, r * r)).alias("s2"),
        ).collect()[0]
        # Size the factor blocks to the data: every ALS iteration launches
        # O(blocks) tasks per side, so the default 10×10 grid pays pure
        # scheduling overhead on small inputs (4 blocks: 4.1 s → 1.4 s fit
        # on the 24k-rating fixture). ~250k ratings/block keeps block
        # state comfortably in executor memory at any scale, capped at the
        # session's parallelism.
        n_train = stats["n_train"]
        spark = flagged.sparkSession
        blocks = int(
            min(max(4, n_train // 250_000), spark.sparkContext.defaultParallelism)
        )
        model = ALS(
            rank=rank,
            maxIter=max_iter,
            regParam=reg_param,
            userCol="user_id",
            itemCol="item_id",
            ratingCol="rating",
            coldStartStrategy="drop",
            seed=seed,
            numUserBlocks=blocks,
            numItemBlocks=blocks,
        ).fit(train)

        # preds is consumed twice (RMSE here + the caller's own action):
        # cache it and keep it cached for the caller. The RMSE job loads
        # every partition, so releasing the flagged frame below keeps it.
        preds = model.transform(probe).cache()
        err = preds.select((F.col("rating") - F.col("prediction")).alias("err"))
        rmse = err.agg(F.sqrt(F.avg(F.pow("err", F.lit(2))))).collect()[0][0]
    finally:
        flagged.unpersist()

    n, mu = stats["n_probe"], stats["mu"]
    base_rmse = math.sqrt(
        max(stats["s2"] - 2 * mu * stats["s1"] + n * mu * mu, 0.0) / n
    )
    return preds, float(rmse), base_rmse, model


#: one fitted pipeline per SparkContext, so q_als_fit_predict,
#: q_als_rmse and the other q_als_* queries share a single .fit().
#: Keyed on the applicationId string (unique per context, never
#: recycled), so a new session never sees a dead session's DataFrames;
#: at most one session's artifacts are held. The cached predictions
#: stay valid if evicted: the hash split recomputes the same probe set.
_PIPELINE_CACHE: dict[str, tuple[DataFrame, float, float, object]] = {}


def _shared_pipeline(spark: SparkSession) -> tuple[DataFrame, float, float, object]:
    key = spark.sparkContext.applicationId
    if key not in _PIPELINE_CACHE:
        _PIPELINE_CACHE.clear()  # at most one live session's artifacts
        _PIPELINE_CACHE[key] = als_pipeline(synth_ratings(spark))
    return _PIPELINE_CACHE[key]


def q_als_fit_predict(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A9-A13: full ALS fit + predict on the synthetic ratings fixture.
    Factors are seed/impl-dependent → no SQL oracle (rows-only);
    tests/test_als.py gates RMSE < 1.0 and beats-global-mean, the same
    criterion as the reference's own rmse.txt gate."""
    preds, _, _, _ = _shared_pipeline(spark)
    return preds.select(
        "user_id",
        "item_id",
        "rating",
        F.col("prediction").cast("double").alias("prediction"),
    )


def q_als_rmse(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A14 on the real pipeline: one-row metrics frame (rmse vs the
    global-mean baseline). Rows-only: RMSE depends on MLlib's seeded
    factor init. Reuses q_als_fit_predict's fitted model — one .fit()
    per session."""
    _, rmse, base, _ = _shared_pipeline(spark)
    return spark.createDataFrame(
        [(round(rmse, 4), round(base, 4), round(base - rmse, 4))],
        "rmse DOUBLE, global_mean_rmse DOUBLE, improvement DOUBLE",
    )


def reference_pipeline(spark: SparkSession, csv_path: str) -> tuple[DataFrame, float, float, "object"]:
    """The reference's FULL §3.1 workflow, end to end, from raw CSV:

        csv scan (A1) → dense-id encode user+item (A7, mapid.py;
        ``encode_ids``) → seeded 0.8/0.2 hash split (A8, split.py) →
        ALS fit/predict (A9-A13) → RMSE (A14)

    — the 23 MapReduce job launches of ``ALS-Hadoop/ALS/ALS.java:
    217-331`` as one lazy driver program. Returns (predictions, rmse,
    global_mean_rmse, fitted_model). Note modern ml.ALS accepts arbitrary int ids, so
    the dense encoding is not strictly required (SURVEY §1.2) — it is
    applied anyway for workflow parity and because compact ids shrink
    MLlib's internal block structures. Bound: each id column's
    distinct values fit in one task and one broadcast."""
    from ..sources import read_ratings_csv

    return pipeline_from_ratings(read_ratings_csv(spark, csv_path))


def encode_ids(df: DataFrame, cols: list[str]) -> DataFrame:
    """``df`` with each of ``cols`` replaced by its dense 0-based id:
    the value's rank among the column's sorted distinct values
    (mapid.py:28-38). Rows with a NULL id are dropped.

    One aggregate collects every column's ``array_sort(collect_set)``;
    ``posexplode`` turns each sorted set into a ``(dense_id, key)`` map,
    broadcast-joined onto ``df``. Float keys follow Spark's equality:
    -0.0 and 0.0 are one id, NaN is one id and sorts last.

    Bound: each column's distinct ids must fit in one task and one
    broadcast — the bound of mapid.py's in-memory set, and of ALS's own
    per-id factor rows."""
    sets = df.agg(*[F.array_sort(F.collect_set(c)).alias(c) for c in cols])
    out = df
    for c in cols:
        ids = sets.select(F.posexplode(c).alias(f"_{c}_id", c))
        out = out.join(F.broadcast(ids), c)
    return out.select(*[F.col(f"_{c}_id").alias(c) if c in cols else c for c in df.columns])


def pipeline_from_ratings(raw: DataFrame):
    """§3.1 steps 2-9 from an already-loaded ratings frame
    (``user_id, item_id, rating``) — shared by the CSV entry point
    above and the custom ratings_gen DataSource (sources/generator.py),
    proving any source that lands the ratings schema feeds the same
    dense-encode → split → fit → RMSE program. ``encode_ids`` encodes
    the ids: each column's distinct ids fit in one task and broadcast."""
    return als_pipeline(encode_ids(raw, ["user_id", "item_id"]))


#: recommendations emitted per user
RECOMMEND_K = 5


def q_als_recommend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-K item recommendations per user — the product query the
    reference's whole pipeline exists to serve (its code stops at the
    RMSE gate, ``ALS-Hadoop/ALS/ALS.java:411-419``; the factors' only
    consumer would be exactly this ranking).

    ``recommendForAllUsers`` runs as MLlib's blocked factor-matrix
    product with per-block top-K heaps — O(users·items) dot products
    but only K survivors per user cross the shuffle, the same
    bounded-output pattern as TakeOrderedAndProject. Reuses the
    session's single fitted model (_shared_pipeline). Factor values
    are seed/impl-dependent → rows-only; pytest gates shape, score
    monotonicity, and id validity."""
    _, _, _, model = _shared_pipeline(spark)
    recs = model.recommendForAllUsers(RECOMMEND_K)
    return recs.select(
        "user_id",
        F.posexplode("recommendations").alias("rec_rank", "rec"),
    ).select(
        "user_id",
        (F.col("rec_rank") + 1).alias("rec_rank"),
        F.col("rec.item_id").alias("item_id"),
        F.round(F.col("rec.rating").cast("double"), 4).alias("score"),
    )


#: probe items for the related-items query / neighbors returned each
ITEM_SIM_PROBES = 10
ITEM_SIM_K = 5


def q_als_item_sim(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Item-item similarity from the fitted factor matrix — the
    "related items" product query (the content-free collaborative
    sibling of q_sim_search): items whose latent factors point the
    same way are liked by the same users. Cosine over
    ``model.itemFactors`` for a bounded probe set, top-5 neighbors
    each.

    Scale shape: identical to q_sim_search — the probe factors
    broadcast (bounded by definition), the item-factor corpus streams
    through one partition-parallel scoring pass, per-probe top-k via a
    ranking window on the probe key. Factor values are seed/impl-
    dependent → rows-only; pytest gates rank shape + score
    monotonicity."""
    from ..functions.vectors import cosine_sim

    _, _, _, model = _shared_pipeline(spark)
    feats = model.itemFactors
    probes = feats.filter(F.col("id") < ITEM_SIM_PROBES).select(
        F.col("id").alias("probe_item"), F.col("features").alias("pv")
    )
    corpus = feats.select(F.col("id").alias("item_id"), F.col("features").alias("iv"))
    scored = corpus.join(
        F.broadcast(probes), F.col("item_id") != F.col("probe_item")
    ).select(
        "probe_item",
        "item_id",
        F.round(cosine_sim("pv", "iv"), 6).alias("cosine"),
    )
    from pyspark.sql.window import Window

    w = Window.partitionBy("probe_item").orderBy(
        F.col("cosine").desc(), F.col("item_id")
    )
    return (
        scored.withColumn("sim_rank", F.row_number().over(w))
        .filter(F.col("sim_rank") <= ITEM_SIM_K)
        .select("probe_item", "item_id", "cosine", "sim_rank")
    )


#: ranking-metric cutoff for q_als_ranking
NDCG_K = 5


def _mean_ndcg(preds: DataFrame, score_col: str, label: str) -> DataFrame:
    """Mean NDCG@K over users with ≥2 probe items, ordering each user's
    held-out items by ``score_col`` (graded relevance = the true
    rating). One row: (method, ndcg_at_5, n_users)."""
    from pyspark.sql import Window

    w = Window.partitionBy("user_id").orderBy(F.col(score_col).desc(), "item_id")
    wi = Window.partitionBy("user_id").orderBy(F.col("rating").desc(), "item_id")
    ranked = preds.select(
        "user_id",
        "rating",
        F.row_number().over(w).alias("r"),
        F.row_number().over(wi).alias("ri"),
    )
    gain = lambda pos: F.col("rating") / F.log2(pos + F.lit(1.0))  # noqa: E731
    per_user = (
        ranked.groupBy("user_id")
        .agg(
            F.sum(F.when(F.col("r") <= NDCG_K, gain(F.col("r"))).otherwise(0.0)).alias("dcg"),
            F.sum(F.when(F.col("ri") <= NDCG_K, gain(F.col("ri"))).otherwise(0.0)).alias("idcg"),
            F.count("*").alias("n"),
        )
        .filter((F.col("n") >= 2) & (F.col("idcg") > 0))
    )
    return per_user.agg(
        F.lit(label).alias("method"),
        F.round(F.avg(F.col("dcg") / F.col("idcg")), 4).alias("ndcg_at_5"),
        F.count("*").alias("n_users"),
    )


def q_als_ranking(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ML eval: ranking quality of the shared ALS fit — mean NDCG@5
    over each user's HELD-OUT items ordered by predicted score, next to
    a hash-random ordering of the same items as the floor. RMSE (the
    reference's only metric, ALS-Hadoop/ALS/ALS.java:423-433) measures
    pointwise error; a recommender is consumed as a RANKING, and NDCG
    is the standard graded-relevance metric for that.

    Shape: two row_number windows per variant over the probe set
    (user-partitioned — scales like every other user-keyed window
    here) and one bounded aggregate. Model-dependent scores → rows-only;
    pytest gates model >> random and both in (0, 1]."""
    preds, _, _, _ = _shared_pipeline(spark)
    model = _mean_ndcg(preds, "prediction", "als_model")
    rnd = preds.withColumn("_h", F.xxhash64("user_id", "item_id"))
    random_floor = _mean_ndcg(rnd, "_h", "random_order")
    return model.unionByName(random_floor)


#: rank grid for the sweep — brackets the generator's latent rank 6,
#: so held-out RMSE should bottom out in the middle of the grid
SWEEP_RANKS = (2, 8, 24)
#: fewer iterations than the reference's 10: the sweep compares ranks
#: RELATIVELY, and 5 iterations at 3 ranks costs less than one
#: full-depth fit of the winner (which q_als_fit_predict already does)
SWEEP_MAX_ITER = 5


def q_als_rank_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Model selection the reference hard-codes away: held-out RMSE
    across a rank grid (the reference pins rank=20 at
    ALS-Hadoop/ALS/ALS.java:52; a real user of the pipeline tunes it).
    Output: one row per rank with its probe RMSE, the global-mean
    floor, and an is_best flag (min RMSE, ties to the smaller rank —
    Occam).

    Scale shape: each grid point is an independent MLlib fit,
    submitted from CONCURRENT driver threads — the CrossValidator
    `parallelism` pattern: Spark's scheduler interleaves the jobs'
    tasks, so grid points overlap instead of serializing, and
    ``in_thread`` keeps every fit's jobs in the caller's job group.
    The scalar RMSEs are bounded driver values (one float per grid
    point), same contract as the reference's driver-side RMSE read
    (ALS/ALS.java:423-433)."""
    from concurrent.futures import ThreadPoolExecutor

    ratings = synth_ratings(spark)

    def one_point(rank: int) -> tuple:
        _preds, rmse, base_rmse, _model = als_pipeline(
            ratings, rank=rank, max_iter=SWEEP_MAX_ITER
        )
        _preds.unpersist()
        return rank, round(rmse, 4), base_rmse

    with ThreadPoolExecutor(max_workers=len(SWEEP_RANKS)) as pool:
        results = list(pool.map(in_thread(spark, one_point), SWEEP_RANKS))
    rows = [(rk, rm) for rk, rm, _ in results]
    base = results[0][2]
    best = min(rows, key=lambda r: (r[1], r[0]))[0]
    return spark.createDataFrame(
        [(rk, rm, round(base, 4), rk == best) for rk, rm in rows],
        "rank INT, rmse DOUBLE, global_mean_rmse DOUBLE, is_best BOOLEAN",
    )


QUERIES = {
    "q_als_fit_predict": q_als_fit_predict,
    "q_als_rank_sweep": q_als_rank_sweep,
    "q_als_rmse": q_als_rmse,
    "q_als_recommend": q_als_recommend,
    "q_als_item_sim": q_als_item_sim,
    "q_als_ranking": q_als_ranking,
}
ORACLES: dict[str, str] = {}
