"""Similarity search over the ``embeddings`` table (north-star
extension; SURVEY.md §2 Part C q_sim_search).

Three shapes, one semantics (cosine):

- ``q_sim_search``     : exact brute-force top-k — broadcast the
  (small) query set against the full corpus, per-query top-k via a
  window. Semantics baseline, fully oracle-checkable.
- ``q_sim_search_lsh`` : bit-sketch ANN — each vector is sketched to
  SKETCH_BITS random-hyperplane sign bits packed into SKETCH_BITS/64
  longs; per-query candidates are the HAMMING_TOPC nearest sketches by
  ``bit_count(xor)`` (a popcount per word per comparison instead of a
  64-float dot product — ~64× less data and work per pair), then
  exact cosine re-ranks only those candidates. This is the
  Faiss-binary-style prefilter that keeps recall at *mid-range*
  cosine thresholds, where banded LSH cannot separate signal from
  background (cos 0.3 → per-bit match 0.60 vs background 0.50).
- ``lsh_candidates``   : banded signature equi-join for near-dup PAIR
  MINING — O(n·bands) candidate generation with no per-query scan.
  AND-amplified bands are selective only in the high-similarity
  regime (cos ≥ ~0.9: P(candidate) ≈ 1-(1-0.9^4)^4 ≈ 0.99, while
  background ≈ 4·0.5⁴ ≈ 0.25 — and at cos 0.3 recall collapses), so
  it is reserved for embedding near-dup detection; pytest gates its
  recall on planted high-cosine pairs.

All hyperplanes are deterministic on any partition layout/cluster: the
banded signatures derive from ``xxhash64`` arithmetic; the bit sketch
rebuilds a fixed-seed numpy Gaussian matrix identically in every
worker. (There is also ``q_sim_search_ivf`` below: a k-means
inverted-file index probing nprobe cells per query.)
"""

# NOTE: no `from __future__ import annotations` — PEP 563 string
# annotations break pandas_udf type inference on the sketch UDF.
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions.vectors import cosine_sim
from ..session import in_thread
from ..sources import load

N_QUERIES = 5
TOP_K = 5

#: embedding dimensionality of the corpus schema (fixture: 64-float
#: vectors; matches pca.PCA_DIM) — q_embed_centroid pins its per-dim
#: aggregate expressions to it
EMBED_DIM = 64

# banded pair-mining config: N_PLANES bits → N_BANDS bands (AND within
# a band, OR across bands) — high-similarity regime only (see module
# docstring)
N_PLANES = 16
N_BANDS = 4

# bit-sketch ANN config: 128 sign bits packed into 2 longs. At the
# fixture's neighbor separation (top-k cosine ~0.45 vs background ~0,
# i.e. ~9 expected bits of gap per 64), 64 bits + top-50 gives only
# ~0.65 recall@k; 128 bits + top-100 clears 0.9 (binomial σ grows √2
# while the gap doubles).
SKETCH_BITS = 128
HAMMING_TOPC = 100


def _plane_dot(vec_col: str, p: int, seed: int = 7) -> F.Column:
    """dot(v, h_p): hyperplane h_p's component d is a deterministic
    pseudo-uniform in [-1, 1) derived from xxhash64(p, d, seed)."""
    dims = F.sequence(F.lit(0), F.size(F.col(vec_col)) - 1)
    prods = F.transform(
        dims,
        lambda d: F.element_at(F.col(vec_col), d + 1).cast("double")
        * (
            (
                F.pmod(F.xxhash64(F.lit(p), d, F.lit(seed)), F.lit(1_000_003)).cast(
                    "double"
                )
                / 1_000_003.0
            )
            * 2
            - 1
        ),
    )
    return F.aggregate(prods, F.lit(0.0), lambda acc, x: acc + x)


def _signature(vec_col: str, n_planes: int = N_PLANES, seed: int = 7) -> F.Column:
    """Array of n_planes sign bits (ints)."""
    return F.array(*[(_plane_dot(vec_col, p, seed) > 0).cast("int") for p in range(n_planes)])


def _sketch(vec_col: str, seed: int = 7):
    """SKETCH_BITS random-hyperplane sign bits packed into
    SKETCH_BITS/64 longs (array<bigint>), via an Arrow-batched pandas
    UDF: one numpy matmul per batch against a seeded Gaussian plane
    matrix — deterministic on any cluster (fixed RNG seed, planes
    rebuilt identically in every worker) and ~50× faster than
    evaluating 128 interpreted higher-order-function dot products per
    row. The closure is self-contained (no package import on
    executors)."""
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    n_bits = SKETCH_BITS

    @pandas_udf("array<bigint>")
    def sketch_udf(emb: pd.Series) -> pd.Series:
        import numpy as np

        if len(emb) == 0:
            return pd.Series([], dtype=object)
        mat = np.stack([np.asarray(v, dtype="float64") for v in emb])
        planes = np.random.default_rng(seed).standard_normal((n_bits, mat.shape[1]))
        bits = (mat @ planes.T) > 0  # batch × n_bits
        packed = np.packbits(bits, axis=1, bitorder="little").view("<i8")
        return pd.Series([row.tolist() for row in packed])

    return sketch_udf(vec_col)


def q_sim_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact cosine top-k: the first N_QUERIES vectors are the query
    set (broadcast); every corpus vector scores against each query in
    one partition-parallel pass; per-query top-k via ranking window
    partitioned by query id (scales with #queries × corpus
    partitioning, no global sort)."""
    emb = load(spark, sf_dir, "embeddings", spread=True)
    queries = emb.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qv")
    )
    corpus = emb.select(F.col("vec_id").alias("cand_id"), F.col("embedding").alias("cv"))
    scored = (
        corpus.join(F.broadcast(queries), F.col("cand_id") != F.col("query_id"))
        .select(
            "query_id",
            "cand_id",
            F.round(cosine_sim("qv", "cv"), 6).alias("cosine"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.col("cosine").desc(), F.col("cand_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= TOP_K)
        .select("query_id", "cand_id", "cosine", "rank")
    )


def lsh_candidates(emb: DataFrame, seed: int = 7) -> DataFrame:
    """Banded signature join for near-dup pair mining: two vectors are
    candidates if any band of their bit signatures matches exactly.
    Emits (id_a, id_b, va, vb) candidate pairs from an equi-join on
    (band_idx, band_bits) — the shuffle key is uniformly distributed
    hash bits, no skew. High-similarity regime only (module
    docstring); recall gated in pytest on planted cos≥0.9 pairs."""
    bits_per_band = N_PLANES // N_BANDS
    sig = emb.select(
        F.col("vec_id"), F.col("embedding"), _signature("embedding", N_PLANES, seed).alias("sig")
    )
    # pinned: the a/b self-join consumes this frame on both sides —
    # the pin stops each side re-evaluating the 16 interpreted
    # hyperplane dot products per vector
    bands = sig.select(
        "vec_id",
        "embedding",
        F.posexplode(
            F.array(
                *[
                    F.concat_ws(
                        "",
                        *[
                            F.element_at("sig", b * bits_per_band + i + 1)
                            for i in range(bits_per_band)
                        ],
                    )
                    for b in range(N_BANDS)
                ]
            )
        ).alias("band", "band_bits"),
    ).localCheckpoint(eager=False)
    a = bands.select(
        F.col("vec_id").alias("id_a"), F.col("embedding").alias("va"), "band", "band_bits"
    )
    b = bands.select(
        F.col("vec_id").alias("id_b"), F.col("embedding").alias("vb"), "band", "band_bits"
    )
    return (
        a.join(b, ["band", "band_bits"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", "va", "vb")
        .dropDuplicates(["id_a", "id_b"])
    )


def q_sim_search_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bit-sketch ANN top-k: Hamming prefilter over packed 64-bit
    sketches (bit_count(xor), JVM codegen — 64× less data per
    comparison than float cosine), exact cosine re-rank of the
    HAMMING_TOPC survivors per query. Same output schema as the exact
    q_sim_search so recall@k is directly measurable (pytest gates
    ≥ 0.8). Approximate → rows-only.

    Scale: the sketch column is 8 bytes/vector — a 10⁹-vector corpus
    sketches to 8 GB, scanned embarrassingly parallel per query batch;
    re-rank touches only TOPC × queries full vectors."""
    emb = load(spark, sf_dir, "embeddings", spread=8)
    sk = emb.select("vec_id", "embedding", _sketch("embedding").alias("sig"))
    queries = sk.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("qv"),
        F.col("sig").alias("q_sig"),
    )
    corpus = sk.select(
        F.col("vec_id").alias("cand_id"),
        F.col("embedding").alias("cv"),
        F.col("sig").alias("c_sig"),
    )
    ham = sum(
        (
            F.bit_count(
                F.element_at("q_sig", i + 1).bitwiseXOR(F.element_at("c_sig", i + 1))
            )
            for i in range(SKETCH_BITS // 64)
        ),
        start=F.lit(0),
    )
    w_ham = Window.partitionBy("query_id").orderBy("hamming", "cand_id")
    cands = (
        corpus.join(F.broadcast(queries), F.col("cand_id") != F.col("query_id"))
        .select("query_id", "cand_id", "qv", "cv", ham.alias("hamming"))
        .withColumn("h_rank", F.row_number().over(w_ham))
        .filter(F.col("h_rank") <= HAMMING_TOPC)
    )
    w_cos = Window.partitionBy("query_id").orderBy(F.col("cosine").desc(), F.col("cand_id"))
    return (
        cands.select(
            "query_id", "cand_id", F.round(cosine_sim("qv", "cv"), 6).alias("cosine")
        )
        .withColumn("rank", F.row_number().over(w_cos))
        .filter(F.col("rank") <= TOP_K)
    )


# IVF config. K ≈ √n cells (bounded to [4, 256]); nprobe = K/2 —
# nprobe/K is the recall/scan-fraction dial, and this fixture's
# low-dim random-ish vectors cluster weakly (mid-cosine neighbors
# straddle cell borders), so holding recall@5 ≈ 0.9 needs half the
# cells probed; corpora with real cluster structure run far lower
# nprobe at the same recall. The codebook is trained on a bounded
# sample of ≤ IVF_SAMPLE_PER_CELL·K vectors.
IVF_MAX_ITER = 8
IVF_SAMPLE_PER_CELL = 100


#: Session-scoped codebook cache, keyed (applicationId, sf_dir, kind).
#: A codebook is a MODEL ARTIFACT, not query state — the Faiss/production
#: pattern is train once, serve many queries against the same index; the
#: cache is that persisted index. The recall pytests construct a fresh
#: session-key per run, so the cold MLlib fit path stays exercised.
_CODEBOOK_CACHE: dict = {}


def _unit_frame(emb):
    """(vec_id, embedding, u): corpus unit-normalization with the L2
    norm materialized as its OWN projection column first. Inlining the
    d-element norm aggregate into the per-element transform lambda
    re-evaluates it d times per row — d² interpreted HOF ops; the
    two-projection form halves the corpus normalization pass
    (measured 6.1 s → 3.0 s at ×100)."""
    sq = F.aggregate(
        F.transform("embedding", lambda x: x.cast("double") * x.cast("double")),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    base = emb.select("vec_id", "embedding", F.sqrt(sq).alias("_nrm"))
    return base.select(
        "vec_id",
        "embedding",
        F.transform("embedding", lambda x: x.cast("double") / F.col("_nrm")).alias("u"),
    )


def _bounded_unit_sample(unit, n: int, cap: int):
    """Seeded sample of ≤ cap unit vectors, kept as a DATAFRAME — the
    train set never rides a collect to the driver (VERDICT r4 #5)."""
    frac = min(1.0, cap / max(n, 1))
    return unit.select("u") if frac >= 1.0 else unit.select("u").sample(frac, seed=42)


def _coarse_codebook(spark, sample, k: int, cache_key=None, seed: int = 42):
    """Distributed coarse-codebook train (VERDICT r4 #5): MLlib KMeans
    — the same executor-side fit the engine already trusts for
    q_embed_kmeans — over the bounded sample DataFrame. Nothing
    corpus-shaped touches the driver: only the k×d cluster centers
    (model parameters) come back, then get unit-normalized so argmax
    dot-product assignment is the spherical-k-means rule. At 10⁹
    vectors the 100·K sample (~1.5 GB) stays distributed across
    executors instead of materializing in driver memory."""
    import numpy as np

    if cache_key is not None and cache_key in _CODEBOOK_CACHE:
        return _CODEBOOK_CACHE[cache_key]
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector

    # the bounded sample inherits the corpus's partitioning — dozens of
    # near-empty partitions would make every Lloyd iteration a wide job
    # of tiny tasks; compact it so iteration cost tracks sample size
    feats = (
        sample.select(array_to_vector(F.col("u")).alias("features"))
        .coalesce(8)
        .persist()
    )
    k_eff = max(2, min(k, feats.count()))
    # random init, like the Faiss coarse train: k-means|| costs ~2·k
    # extra passes for init quality the generous nprobe doesn't need
    model = KMeans(
        k=k_eff, seed=seed, maxIter=IVF_MAX_ITER, initMode="random"
    ).fit(feats)
    feats.unpersist()
    centers = np.stack([np.asarray(c) for c in model.clusterCenters()])
    centers = centers / np.maximum(
        np.linalg.norm(centers, axis=1, keepdims=True), 1e-12
    )
    if cache_key is not None:
        _CODEBOOK_CACHE[cache_key] = centers
    return centers


def _pq_codebooks(spark, sample, d: int, m: int | None = None,
                  k: int | None = None, cache_key=None, seed: int = 42):
    """Distributed PQ subquantizer train: one MLlib
    KMeans fit per subspace over COLUMN SLICES of the cached sample
    DataFrame — L2 Lloyd's, exactly the Faiss-PQ objective — so the
    training vectors never leave the executors; the driver receives
    only the m×k×(d/m) codebook tensor. The sample is persisted once
    and sliced m times (slice is a JVM projection, not a re-scan of
    the source)."""
    import numpy as np

    m = PQ_M if m is None else m
    k = PQ_K if k is None else k
    if cache_key is not None and cache_key in _CODEBOOK_CACHE:
        return _CODEBOOK_CACHE[cache_key]
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector

    ds = d // m
    s = sample.coalesce(4).persist()  # compact tiny sample (see _coarse_codebook)
    n_s = s.count()

    # the m subspace fits are independent tiny jobs — run them on
    # concurrent driver threads (the q_als_rank_sweep pattern) so the
    # wall cost is ~one fit's scheduling overhead, not m of them
    def fit_sub(i: int):
        sub = s.select(
            array_to_vector(F.slice(F.col("u"), i * ds + 1, ds)).alias("features")
        )
        # k-means|| init (default): random init measured recall@k 0.72
        # on the 4-bit subquantizers — below the 0.8 gate; the || init
        # costs little here (2048-row sample) and restores 0.8+
        model = KMeans(k=min(k, n_s), seed=seed + i, maxIter=10).fit(sub)
        return np.stack([np.asarray(c) for c in model.clusterCenters()])

    from concurrent.futures import ThreadPoolExecutor

    with ThreadPoolExecutor(max_workers=m) as pool:
        books = list(pool.map(in_thread(spark, fit_sub), range(m)))
    s.unpersist()
    out = np.stack(books)
    if cache_key is not None:
        _CODEBOOK_CACHE[cache_key] = out
    return out


def _session_key(spark, sf_dir: str, kind: str) -> tuple:
    return (spark.sparkContext.applicationId, sf_dir, kind)


def q_sim_search_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF (inverted-file) ANN top-k: a spherical k-means codebook
    partitions the corpus into K ≈ √n cells; each query probes its
    nprobe nearest cells and exact cosine re-ranks only those cells'
    members — the corpus scanned per query drops to ~nprobe/K. Same
    output schema as q_sim_search; recall@k gated in pytest.

    Scale contract (nothing corpus-shaped EVER reaches the driver):
    - codebook TRAIN: seeded sample of ≤ 100·K unit vectors stays a
      DataFrame end-to-end; MLlib KMeans (the q_embed_kmeans-trusted
      executor-side fit) trains on it and only the K×d centers come
      back (VERDICT r4 #5 — at 10⁹ vectors the ~3e6-row sample that
      previously collect()ed ~1.5 GB into the driver now stays
      distributed). The codebook is cached per (session, sf) — the
      Faiss serve pattern: index built once, queried many times;
    - codebook ASSIGN: centers ship to executors inside an Arrow-
      batched pandas_udf closure (K·d doubles), one matmul-argmax pass
      over the corpus — embarrassingly parallel;
    - probe list: N_QUERIES × nprobe rows, broadcast to an equi-join
      on cell id."""
    import numpy as np
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    emb = load(spark, sf_dir, "embeddings", spread=True)
    unit = _unit_frame(emb)
    n = emb.count()
    k = max(4, min(256, int(n**0.5)))
    nprobe = max(1, k // 2)
    sample = _bounded_unit_sample(unit, n, IVF_SAMPLE_PER_CELL * k)
    centers = _coarse_codebook(
        spark, sample, k, cache_key=_session_key(spark, sf_dir, "ivf_coarse")
    )

    @pandas_udf("int")
    def assign_cell(u: pd.Series) -> pd.Series:
        import numpy as np  # self-contained closure — no executor imports

        if len(u) == 0:
            return pd.Series([], dtype="int32")
        M = np.stack([np.asarray(v, dtype="float64") for v in u])
        return pd.Series(np.argmax(M @ centers.T, axis=1).astype("int32"))

    # PIN the assigned corpus (lazy localCheckpoint): the inner join's
    # key-null filter otherwise makes the optimizer evaluate the
    # Python assign (and the HOF normalization under it) TWICE —
    # measured 35 s -> ~12 s at x100. The pinned frame IS the served
    # IVF index (cell id per vector), Faiss's posture exactly.
    assigned = unit.select(
        F.col("vec_id").alias("cand_id"),
        F.col("embedding").alias("cv"),
        assign_cell("u").alias("cell"),
    ).localCheckpoint(eager=False)
    qrows = unit.filter(F.col("vec_id") < N_QUERIES).select("vec_id", "embedding", "u").collect()
    probes = []
    for r in qrows:
        sims = centers @ np.asarray(r["u"])
        for cell in np.argsort(-sims)[:nprobe]:
            probes.append((r["vec_id"], int(cell), r["embedding"]))
    probe_df = spark.createDataFrame(
        probes, "query_id LONG, cell INT, qv ARRAY<FLOAT>"
    )
    w = Window.partitionBy("query_id").orderBy(F.col("cosine").desc(), F.col("cand_id"))
    return (
        assigned.join(F.broadcast(probe_df), "cell")
        .filter(F.col("cand_id") != F.col("query_id"))
        .select(
            "query_id", "cand_id", F.round(cosine_sim("qv", "cv"), 6).alias("cosine")
        )
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= TOP_K)
    )


def q_embed_centroid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vector aggregation: per-label embedding centroid (elementwise
    mean) — the class-prototype computation behind nearest-centroid
    classification, IVF codebook seeding, and drift monitoring.

    Output is the EXPLODED bounded frame (label, dim, mean_value,
    n_vecs): labels × dims rows (5×64 = 320 here), every column scalar
    — round 5's ARRAY<DOUBLE> ``centroid`` column broke the driver's
    canonicalizer (pandas sort_values can't hash lists), so the
    array-assembled form lives in :func:`embed_centroids` for library
    users and the query emits only hashable scalars.

    Shape at scale (r7, VERDICT r6 #6): NO pre-aggregate explode — the
    r6 posexplode form pushed |corpus|×64 scalar rows through the hash
    aggregate (~64× the row volume; 0.71→1.4 s at sf0.1). Instead the
    64 per-dim sums are 64 codegen'd ``sum(element_at(embedding, d))``
    expressions in ONE groupBy(label) over un-exploded corpus rows
    (map-side partials → the shuffle carries labels × 65 numbers per
    task), and posexplode runs on the BOUNDED aggregated frame only
    (labels rows → labels × dims). Dim count is pinned to the corpus
    schema (EMBED_DIM); ``try_element_at`` reads NULL past the end of
    a ragged row (plain ``element_at`` THROWS under the session's ANSI
    mode — post-r7 advice) and sum() skips NULLs — same semantics as
    the r6 posexplode form."""
    emb = load(spark, sf_dir, "embeddings", spread=True)
    sums = emb.groupBy("label").agg(
        F.count(F.lit(1)).alias("n_vecs"),
        *[
            F.sum(F.try_element_at("embedding", F.lit(d + 1))).alias(f"s{d}")
            for d in range(EMBED_DIM)
        ],
    )
    return (
        sums.select(
            "label",
            "n_vecs",
            F.posexplode(F.array(*[F.col(f"s{d}") for d in range(EMBED_DIM)])).alias(
                "dim", "s"
            ),
        )
        .select(
            "label",
            "dim",
            F.round(F.col("s") / F.col("n_vecs"), 4).alias("mean_value"),
            "n_vecs",
        )
        .orderBy("label", "dim")
    )


def embed_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Library form of :func:`q_embed_centroid`: one row per label with
    the centroid re-assembled as ARRAY<DOUBLE> in dim order — the shape
    downstream vector ops (nearest-centroid scoring, codebook seeding)
    consume. Kept OUT of the oracle-checked query surface because
    top-level ARRAY output defeats the driver's row hasher."""
    per_dim = q_embed_centroid(spark, sf_dir)
    return (
        per_dim.groupBy("label")
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("dim", "mean_value"))),
                lambda st: st["mean_value"],
            ).alias("centroid"),
            F.max("n_vecs").alias("n_vecs"),
        )
        .orderBy("label")
    )


def q_nearest_centroid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nearest-centroid classification + confusion matrix: every vector
    scored against each label's centroid (rounded to 4dp so engine and
    oracle classify against IDENTICAL prototypes), assigned to the
    highest-cosine label (ties break on the larger label — a total
    order), and reduced to (true label, predicted label, count).

    Shape at scale: the K centroids are a broadcast (K × dim doubles);
    the corpus makes ONE partition-parallel pass computing K cosines
    per vector; the argmax is a max(struct) hash aggregate; the output
    is the K×K confusion matrix. Integer-count output keeps the oracle
    hash float-free."""
    from ..functions.vectors import cosine_sim

    emb = load(spark, sf_dir, "embeddings", spread=True)
    ex = emb.select("label", F.posexplode("embedding").alias("pos", "v"))
    per_dim = ex.groupBy("label", "pos").agg(
        F.round(F.sum("v") / F.count("*"), 4).alias("m")
    )
    cent = (
        per_dim.groupBy("label")
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "m"))),
                lambda st: st["m"],
            ).alias("centroid")
        )
        .select(F.col("label").alias("c_label"), "centroid")
    )
    scored = (
        emb.select("vec_id", "label", "embedding")
        .crossJoin(F.broadcast(cent))
        .select(
            "vec_id",
            "label",
            "c_label",
            cosine_sim("embedding", "centroid").alias("cos"),
        )
    )
    best = scored.groupBy("vec_id", "label").agg(
        F.max(F.struct("cos", "c_label")).alias("b")
    )
    return (
        best.groupBy("label", F.col("b.c_label").alias("pred_label"))
        .agg(F.count("*").alias("n"))
        .orderBy("label", "pred_label")
    )


#: PQ layout: M subspaces × K centroids (4-bit codes) — 8 codes/vector
PQ_M = 8
PQ_K = 16
#: ADC candidates kept per query for exact re-rank (10 × TOP_K)
PQ_CAND = 50
#: training-sample bound, same discipline as IVF_SAMPLE_PER_CELL
PQ_SAMPLE = 128 * PQ_K


def q_sim_search_pq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization ANN top-k (Jégou, Douze, Schmid — "Product
    Quantization for Nearest Neighbor Search", TPAMI 2011 — public
    methodology): each unit vector compresses to PQ_M 4-bit codes
    (8 codes ≈ 8 bytes vs 256 bytes raw — the memory-bound scale path
    the IVF/bit-sketch variants don't cover), queries score the CODES
    via asymmetric-distance lookup tables, and only the top PQ_CAND
    candidates per query are re-ranked with exact cosine. Same output
    schema as q_sim_search; recall@k gated in pytest.

    Scale contract:
    - TRAIN: bounded seeded sample (≤ PQ_SAMPLE rows) kept as a
      DataFrame; per-subspace MLlib KMeans fits on column slices of
      the cached sample — the training vectors never leave the
      executors, only the m×k×(d/m) codebook tensor returns (VERDICT
      r4 #5), cached per (session, sf) like a served Faiss index;
    - ENCODE: codebooks ship inside one Arrow-batched pandas_udf
      closure (m·k·d/m doubles), one matmul-argmax per subspace per
      batch — one corpus pass, 8 bytes/vector out;
    - ADC SCORING IS PURE JVM: each query's m×k lookup table rides a
      5-row broadcast as array<array<double>>, and the code-indexed
      gather compiles to chained `element_at`s — the corpus-sized scan
      never touches Python;
    - RE-RANK: exact cosine on PQ_CAND × N_QUERIES rows only."""
    import numpy as np
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    emb = load(spark, sf_dir, "embeddings", spread=True)
    unit = _unit_frame(emb)
    n = emb.count()
    d = unit.select(F.size("u")).first()[0]
    sample = _bounded_unit_sample(unit, n, PQ_SAMPLE)
    books = _pq_codebooks(
        spark, sample, d, cache_key=_session_key(spark, sf_dir, "pq_books")
    )  # (m, k, ds)

    @pandas_udf("array<int>")
    def encode(u: pd.Series) -> pd.Series:
        import numpy as np  # self-contained closure

        if len(u) == 0:
            return pd.Series([], dtype=object)
        U = np.stack([np.asarray(v, dtype="float64") for v in u])
        m, _, ds = books.shape
        codes = np.empty((len(U), m), dtype="int32")
        for i in range(m):
            S = U[:, i * ds : (i + 1) * ds]
            C = books[i]
            codes[:, i] = np.argmax(S @ C.T - 0.5 * (C * C).sum(axis=1), axis=1)
        return pd.Series([row.tolist() for row in codes])

    # pinned like q_sim_search_ivf's assigned frame: the codes ARE the
    # served PQ index, and the pin stops duplicate Python evaluation
    coded = unit.select(
        F.col("vec_id").alias("cand_id"),
        F.col("embedding").alias("cv"),
        encode("u").alias("codes"),
    ).localCheckpoint(eager=False)
    # per-query ADC lookup tables: lut[m][k] = q_m · C[m][k]
    qrows = unit.filter(F.col("vec_id") < N_QUERIES).select("vec_id", "embedding", "u").collect()
    luts = [
        (
            r["vec_id"],
            r["embedding"],
            [
                (books[i] @ np.asarray(r["u"])[i * books.shape[2] : (i + 1) * books.shape[2]]).tolist()
                for i in range(PQ_M)
            ],
        )
        for r in qrows
    ]
    lut_df = spark.createDataFrame(
        luts, "query_id LONG, qv ARRAY<FLOAT>, lut ARRAY<ARRAY<DOUBLE>>"
    )
    adc = sum(
        F.element_at(
            F.element_at("lut", i + 1), F.element_at("codes", i + 1) + F.lit(1)
        )
        for i in range(PQ_M)
    )
    w = Window.partitionBy("query_id").orderBy(F.col("_adc").desc(), F.col("cand_id"))
    cands = (
        coded.join(F.broadcast(lut_df), F.col("cand_id") != F.col("query_id"))
        .select("query_id", "qv", "cand_id", "cv", adc.alias("_adc"))
        .withColumn("_arank", F.row_number().over(w))
        .filter(F.col("_arank") <= PQ_CAND)
    )
    w2 = Window.partitionBy("query_id").orderBy(F.col("cosine").desc(), F.col("cand_id"))
    return (
        cands.select(
            "query_id", "cand_id", F.round(cosine_sim("qv", "cv"), 6).alias("cosine")
        )
        .withColumn("rank", F.row_number().over(w2))
        .filter(F.col("rank") <= TOP_K)
    )


def q_sim_search_ivfpq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF+PQ ANN — the production Faiss composition (coarse inverted
    file for COMPUTE pruning × residual product quantization for
    MEMORY compression): each vector stores its cell id + 8 4-bit
    codes of the RESIDUAL x − c_cell (residuals are what PQ textbooks
    quantize — they're smaller-normed and better centered than raw
    vectors, so the same code budget buys more precision). A query
    probes its nprobe nearest cells, ADC-scores only those cells'
    codes against a per-(query, cell) lookup table, and exact cosine
    re-ranks the top survivors.

    Scale contract — the union of its parents', nothing new:
    distributed bounded-sample coarse + residual-PQ trains (MLlib
    KMeans, nothing collected — VERDICT r4 #5), one Arrow encode pass, probe list = N_QUERIES × nprobe broadcast rows with
    their LUTs, candidate generation is the CELL EQUI-JOIN (compute
    touches ~nprobe/K of the corpus — the piece plain PQ lacks), and
    the ADC gather is pure-JVM element_at chains (the piece IVF
    lacks: 9 bytes/vector of state instead of d floats)."""
    import numpy as np
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    emb = load(spark, sf_dir, "embeddings", spread=True)
    unit = _unit_frame(emb)
    n = emb.count()
    k = max(4, min(256, int(n**0.5)))
    # the composition multiplies its parents' misses (probe miss ×
    # ADC miss), so it probes wider and re-ranks deeper than either
    # parent alone: nprobe 3k/4 (IVF uses k/2) and 2×PQ_CAND
    nprobe = max(1, (3 * k) // 4)
    rerank = 2 * PQ_CAND
    d = unit.select(F.size("u")).first()[0]
    sample = _bounded_unit_sample(unit, n, IVF_SAMPLE_PER_CELL * k)
    # coarse codebook SHARED with q_sim_search_ivf (same data, same k,
    # same seed → same cache key): one distributed fit serves both
    centers = _coarse_codebook(
        spark, sample, k, cache_key=_session_key(spark, sf_dir, "ivf_coarse")
    )

    # residual PQ codebooks trained on the SAME sample's residuals,
    # computed executor-side (centers ride the pandas_udf closure) —
    # the residual sample is a DataFrame too, never collected
    @pandas_udf("array<double>")
    def _residual(u: pd.Series) -> pd.Series:
        import numpy as np  # self-contained closure

        if len(u) == 0:
            return pd.Series([], dtype=object)
        U = np.stack([np.asarray(v, dtype="float64") for v in u])
        R = U - centers[np.argmax(U @ centers.T, axis=1)]
        return pd.Series([row.tolist() for row in R])

    resid_sample = sample.select(_residual("u").alias("u"))
    books = _pq_codebooks(
        spark,
        resid_sample,
        d,
        cache_key=_session_key(spark, sf_dir, "ivfpq_resid_books"),
    )

    @pandas_udf("struct<cell:int, codes:array<int>>")
    def encode_ivfpq(u: pd.Series) -> pd.DataFrame:
        import numpy as np  # self-contained closure

        if len(u) == 0:
            return pd.DataFrame({"cell": [], "codes": []})
        U = np.stack([np.asarray(v, dtype="float64") for v in u])
        cells = np.argmax(U @ centers.T, axis=1).astype("int32")
        R = U - centers[cells]
        m, _, ds = books.shape
        codes = np.empty((len(U), m), dtype="int32")
        for i in range(m):
            S = R[:, i * ds : (i + 1) * ds]
            C = books[i]
            codes[:, i] = np.argmax(S @ C.T - 0.5 * (C * C).sum(axis=1), axis=1)
        return pd.DataFrame({"cell": cells, "codes": [row.tolist() for row in codes]})

    # pinned: cell+codes are the served IVF-PQ index (see q_sim_search_ivf)
    coded = (
        unit.select(
            F.col("vec_id").alias("cand_id"),
            F.col("embedding").alias("cv"),
            encode_ivfpq("u").alias("_e"),
        )
        .select("cand_id", "cv", F.col("_e.cell").alias("cell"), F.col("_e.codes").alias("codes"))
        .localCheckpoint(eager=False)
    )

    # probe list: (query, cell) rows with the residual-ADC lookup table
    # lut[m][j] = q · (c_cell_sub + book[m][j]) decomposed as
    # q·c_cell (scalar per cell) + q_m · book[m][j]
    qrows = unit.filter(F.col("vec_id") < N_QUERIES).select("vec_id", "embedding", "u").collect()
    ds = books.shape[2]
    probes = []
    for r in qrows:
        qv = np.asarray(r["u"])
        sims = centers @ qv
        for cell in np.argsort(-sims)[:nprobe]:
            lut = [
                (books[i] @ qv[i * ds : (i + 1) * ds]).tolist()
                for i in range(books.shape[0])
            ]
            probes.append(
                (int(r["vec_id"]), r["embedding"], int(cell), float(sims[cell]), lut)
            )
    probe_df = spark.createDataFrame(
        probes,
        "query_id LONG, qv ARRAY<FLOAT>, cell INT, cell_dot DOUBLE, lut ARRAY<ARRAY<DOUBLE>>",
    )
    adc = F.col("cell_dot") + sum(
        F.element_at(F.element_at("lut", i + 1), F.element_at("codes", i + 1) + F.lit(1))
        for i in range(books.shape[0])
    )
    w = Window.partitionBy("query_id").orderBy(F.col("_adc").desc(), F.col("cand_id"))
    cands = (
        coded.join(F.broadcast(probe_df), "cell")
        .filter(F.col("cand_id") != F.col("query_id"))
        .select("query_id", "qv", "cand_id", "cv", adc.alias("_adc"))
        .withColumn("_arank", F.row_number().over(w))
        .filter(F.col("_arank") <= rerank)
    )
    w2 = Window.partitionBy("query_id").orderBy(F.col("cosine").desc(), F.col("cand_id"))
    return (
        cands.select(
            "query_id", "cand_id", F.round(cosine_sim("qv", "cv"), 6).alias("cosine")
        )
        .withColumn("rank", F.row_number().over(w2))
        .filter(F.col("rank") <= TOP_K)
    )


#: k-means clustering knobs (K matches the fixture's label count so
#: purity is interpretable; seed fixes MLlib's k-means|| init)
KMEANS_K = 10
KMEANS_SEED = 42
KMEANS_MAX_ITER = 10


def q_embed_kmeans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unsupervised clustering of the embedding corpus via MLlib
    KMeans — the cluster-then-curate primitive (cluster a corpus,
    inspect/sample per cluster) that complements the SUPERVISED
    q_nearest_centroid (which needs labels) and the ANN family (which
    needs queries). Output: per-cluster size, majority label, and
    label purity — the quality lens a curation pipeline applies to
    decide which clusters to keep.

    Spark-first by the same argument as ALS (SURVEY §2 A11): MLlib's
    KMeans IS distributed Lloyd's — broadcast centers, map-side
    partial sums per center, driver update of K×d floats per
    iteration — so hand-rolling it would duplicate the built-in
    block. The label join and purity aggregate are bounded
    (K × labels keys). Rows-only: cluster ids and boundaries are
    init/seed-dependent; `tests/test_dedup.py` gates structure (the
    clusters partition the corpus) and that weighted purity beats the
    1/K random baseline — the fixture's embeddings are only weakly
    label-separable per vector (purity ≈ 0.17 vs 0.1 random; the
    label signal lives at centroid level, cf. q_nearest_centroid), so
    the margin is modest by construction."""
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector

    emb = load(spark, sf_dir, "embeddings").select(
        "vec_id", "label", array_to_vector("embedding").alias("features")
    )
    model = KMeans(
        k=KMEANS_K, seed=KMEANS_SEED, maxIter=KMEANS_MAX_ITER
    ).fit(emb)
    pred = model.transform(emb).select("label", F.col("prediction").alias("cluster"))
    by_pair = pred.groupBy("cluster", "label").agg(
        F.count(F.lit(1)).alias("n")
    )
    top = by_pair.withColumn(
        "_r",
        F.row_number().over(
            Window.partitionBy("cluster").orderBy(F.col("n").desc(), "label")
        ),
    ).filter(F.col("_r") == 1)
    sizes = by_pair.groupBy("cluster").agg(F.sum("n").alias("n_vectors"))
    return (
        sizes.join(
            top.select("cluster", F.col("label").alias("majority_label"), F.col("n").alias("_maj")),
            "cluster",
        )
        .select(
            "cluster",
            "n_vectors",
            "majority_label",
            F.round(F.col("_maj") / F.col("n_vectors"), 4).alias("purity"),
        )
        .orderBy("cluster")
    )


QUERIES = {
    "q_sim_search": q_sim_search,
    "q_embed_kmeans": q_embed_kmeans,
    "q_sim_search_lsh": q_sim_search_lsh,
    "q_sim_search_ivf": q_sim_search_ivf,
    "q_sim_search_pq": q_sim_search_pq,
    "q_sim_search_ivfpq": q_sim_search_ivfpq,
    "q_embed_centroid": q_embed_centroid,
    "q_nearest_centroid": q_nearest_centroid,
}

ORACLES = {
    "q_embed_centroid": """
        WITH ex AS (
            SELECT label,
                   unnest(range(len(embedding))) AS dim,
                   unnest(embedding) AS v
            FROM embeddings
        )
        SELECT label,
               CAST(dim AS INTEGER) AS dim,
               ROUND(SUM(v) / COUNT(*), 4) AS mean_value,
               CAST(COUNT(*) AS BIGINT) AS n_vecs
        FROM ex GROUP BY label, dim
        ORDER BY label, dim
    """,
    "q_nearest_centroid": """
        WITH ex AS (
            SELECT label,
                   unnest(range(1, len(embedding) + 1)) AS pos,
                   unnest(embedding) AS v
            FROM embeddings
        ), per_dim AS (
            SELECT label, pos, ROUND(SUM(v) / COUNT(*), 4) AS m
            FROM ex GROUP BY label, pos
        ), cent AS (
            SELECT label AS c_label, list(m ORDER BY pos) AS centroid
            FROM per_dim GROUP BY label
        ), scored AS (
            SELECT e.vec_id, e.label, c.c_label,
                   list_cosine_similarity(e.embedding, c.centroid) AS cos
            FROM embeddings e CROSS JOIN cent c
        ), best AS (
            SELECT vec_id, label, c_label,
                   ROW_NUMBER() OVER (
                       PARTITION BY vec_id ORDER BY cos DESC, c_label DESC
                   ) AS rn
            FROM scored
        )
        SELECT label, c_label AS pred_label, CAST(COUNT(*) AS BIGINT) AS n
        FROM best WHERE rn = 1
        GROUP BY label, c_label
        ORDER BY label, pred_label
    """,
    "q_sim_search": """
        SELECT query_id, cand_id, cosine, rank FROM (
            SELECT query_id, cand_id, cosine,
                   ROW_NUMBER() OVER (PARTITION BY query_id
                                      ORDER BY cosine DESC, cand_id) AS rank
            FROM (
                SELECT q.vec_id AS query_id, c.vec_id AS cand_id,
                       ROUND(list_cosine_similarity(
                           list_transform(q.embedding, x -> CAST(x AS DOUBLE)),
                           list_transform(c.embedding, x -> CAST(x AS DOUBLE))), 6) AS cosine
                FROM embeddings q JOIN embeddings c ON c.vec_id != q.vec_id
                WHERE q.vec_id < 5
            )
        ) WHERE rank <= 5
    """,
}
