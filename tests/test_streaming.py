"""True Structured Streaming tests (SURVEY.md §5.5): the SAME
transformation functions registered as batch twins are executed as real
streams (file source → watermark → stateful agg → memory sink,
Trigger.AvailableNow) and must produce the batch answer — the
batch/stream unification contract."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from als_hadoop_spark import streaming
from als_hadoop_spark.sources import load


def _run_stream(spark, transform, events_batch, src_dir, name):
    events_batch.write.mode("overwrite").parquet(src_dir)
    stream = spark.readStream.schema(events_batch.schema).parquet(src_dir)
    assert stream.isStreaming
    q = (
        transform(stream)
        .writeStream.format("memory")
        .queryName(name)
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    try:
        assert q.awaitTermination(180), "stream did not finish in time"
    finally:
        q.stop()
    return spark.table(name)


def _canon(df):
    return sorted(tuple(str(v) for v in row) for row in df.collect())


@pytest.mark.parametrize(
    "transform,name",
    [
        (streaming.tumbling_counts, "t_tumble"),
        (streaming.session_stats, "t_session"),
        (streaming.sliding_counts, "t_slide"),
    ],
    ids=["tumbling", "session", "sliding"],
)
def test_stream_equals_batch(spark, sf_dir, tmp_path, transform, name):
    events = load(spark, sf_dir, "events")
    got = _run_stream(spark, transform, events, str(tmp_path / "ev_src"), name)
    want = transform(events)
    assert _canon(got) == _canon(want)


def test_stream_stream_interval_join_matches_batch(spark, sf_dir, tmp_path):
    """Stream-stream interval join (click attribution) over two
    watermarked sides must produce exactly the batch join's pairs."""
    events = load(spark, sf_dir, "events").select(
        "event_id", "user_id", "ts", "event_type"
    )
    src = str(tmp_path / "ev_ss")
    events.coalesce(2).write.mode("overwrite").parquet(src)
    stream = spark.readStream.schema(events.schema).parquet(src)
    q = (
        streaming.click_attribution(stream)
        .writeStream.format("memory")
        .queryName("t_ssjoin")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    try:
        assert q.awaitTermination(180)
    finally:
        q.stop()
    got = {
        (r["event_id"], r["click_id"]) for r in spark.table("t_ssjoin").collect()
    }
    want = {
        (r["event_id"], r["click_id"])
        for r in streaming.click_attribution(events).collect()
    }
    assert got == want and want, f"stream {len(got)} vs batch {len(want)} pairs"


def test_stream_dedup_drops_cross_batch_duplicates(spark, sf_dir, tmp_path):
    """Streaming exact dedup: duplicates planted in a LATER micro-batch
    (within the watermark horizon) are dropped; the surviving key set
    equals the batch dedup's."""
    import time

    events = load(spark, sf_dir, "events").select("user_id", "ts", "props").limit(200)
    dupes = events.limit(40)  # re-send the first 40 payloads
    src = str(tmp_path / "ev_dedup")
    events.coalesce(1).write.parquet(f"{src}/b0")
    time.sleep(1.1)
    dupes.coalesce(1).write.parquet(f"{src}/b1")
    stream = (
        spark.readStream.schema(events.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(f"{src}/b*")
    )
    q = (
        streaming.dedup_events(stream)
        .writeStream.format("memory")
        .queryName("t_dedup")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    try:
        assert q.awaitTermination(180)
    finally:
        q.stop()
    got = spark.table("t_dedup").select("user_id", "props").collect()
    got_keys = [(r["user_id"], r["props"]) for r in got]
    want_keys = {
        (r["user_id"], r["props"])
        for r in streaming.dedup_events(events).collect()
    }
    assert len(got_keys) == len(set(got_keys)), "stream emitted a duplicate"
    assert set(got_keys) == want_keys


def test_stateful_sessionize_matches_batch_sessions(spark, sf_dir, tmp_path):
    """The applyInPandasWithState sessionizer's emitted (closed)
    sessions must each exactly match a batch session_window session.
    Events arrive in four time-ordered batches (maxFilesPerTrigger=1,
    mtime-ordered files) so state genuinely crosses micro-batches and
    event-time timeouts fire as the watermark advances — while staying
    within the watermark contract (a random split would deliver events
    months out of order, which ANY streaming operator drops)."""
    import time

    from als_hadoop_spark.streaming.stateful import stateful_sessionize

    events = load(spark, sf_dir, "events").select(
        "user_id", "ts", "value", F.unix_micros("ts").alias("_us")
    )
    q1, q2, q3 = events.approxQuantile("_us", [0.25, 0.5, 0.75], 0.001)
    src = str(tmp_path / "ev_state")
    slices = [
        events.filter(F.col("_us") < q1),
        events.filter((F.col("_us") >= q1) & (F.col("_us") < q2)),
        events.filter((F.col("_us") >= q2) & (F.col("_us") < q3)),
        events.filter(F.col("_us") >= q3),
    ]
    slices = [sl.drop("_us") for sl in slices]
    events = events.drop("_us")
    for i, sl in enumerate(slices):
        sl.coalesce(1).write.parquet(f"{src}/b{i}")
        time.sleep(1.1)
    stream = (
        spark.readStream.schema(events.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(f"{src}/b*")
    )
    q = (
        stateful_sessionize(stream)
        .writeStream.format("memory")
        .queryName("t_stateful")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    try:
        assert q.awaitTermination(180), "stream did not finish in time"
    finally:
        q.stop()
    emitted = spark.table("t_stateful").collect()
    assert emitted, "no sessions emitted — timeouts/gap-splits never fired"
    batch = {
        (r["user_id"], r["w_start"], r["w_end"], r["n_events"], r["sum_value"])
        for r in streaming.session_stats(load(spark, sf_dir, "events")).collect()
    }
    for r in emitted:
        key = (r["user_id"], r["w_start"], r["w_end"], r["n_events"], r["sum_value"])
        assert key in batch, f"emitted session not in batch twin: {key}"


def test_stream_outer_join_emits_null_on_watermark(spark, tmp_path):
    """LEFT OUTER stream-stream join: a click with no purchase in its
    30-minute window must be emitted WITH NULLs once the global
    watermark passes the window end — the engine proving "no
    conversion happened", not merely staying silent. A trailing click
    the watermark never passes stays unemitted (documented Spark outer
    join semantics)."""
    import datetime as dt
    import time

    src = str(tmp_path / "oj_src")
    base = dt.datetime(2024, 1, 1, 10, 0, 0)
    schema = "event_id LONG, ts TIMESTAMP, user_id LONG, event_type STRING, value DOUBLE"
    m = dt.timedelta(minutes=1)
    batches = [
        [
            (1, base, 1, "click", 0.0),          # matched: purchase at +10
            (2, base + 10 * m, 1, "purchase", 9.9),
            (3, base, 2, "click", 0.0),          # UNmatched → NULL row
        ],
        # watermark advancers: the GLOBAL watermark is the min over
        # both sides, so each batch advances clicks AND purchases
        # (unrelated user), spaced so state cleanup fires across
        # micro-batches
        [(90, base + 90 * m, 99, "click", 1.0),
         (93, base + 90 * m, 99, "purchase", 1.0)],
        [(91, base + 180 * m, 99, "click", 1.0),
         (94, base + 180 * m, 99, "purchase", 1.0)],
        [(92, base + 270 * m, 99, "click", 1.0),
         (95, base + 270 * m, 99, "purchase", 1.0)],
    ]
    for i, b in enumerate(batches):
        spark.createDataFrame(b, schema).coalesce(1).write.parquet(f"{src}/b{i}")
        time.sleep(1.1)
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(f"{src}/b*")
    )
    q = (
        streaming.attribution_outer(stream)
        .writeStream.format("memory")
        .queryName("t_oj")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    try:
        assert q.awaitTermination(180)
    finally:
        q.stop()
    got = {
        (r["click_id"], r["conv_id"]) for r in spark.table("t_oj").collect()
    }
    assert (1, 2) in got, f"matched pair missing: {got}"
    assert (3, None) in got, f"outer NULL row not emitted: {got}"


def test_stream_outer_join_batch_twin_covers_all_clicks(spark, sf_dir):
    """Batch twin sanity: every click appears at least once, and
    unmatched clicks carry NULL conv columns."""
    events = load(spark, sf_dir, "events")
    out = streaming.attribution_outer(events)
    n_clicks = events.filter(F.col("event_type") == "click").count()
    assert out.select("click_id").distinct().count() == n_clicks
    assert out.filter(F.col("conv_id").isNull()).count() > 0


def test_watermark_drops_late_data(spark, tmp_path):
    """An event arriving later than the watermark delay behind the
    stream's max event time must be dropped from a windowed aggregate
    (late-data semantics, SURVEY §5.5)."""
    import datetime as dt
    import time

    src = str(tmp_path / "late_src")
    base = dt.datetime(2024, 1, 1, 12, 0, 0)
    schema = "event_id LONG, ts TIMESTAMP, value DOUBLE"
    cols = ["event_id", "ts", "value"]
    batches = [
        # on-time events in the 12:00 window
        [(i, base + dt.timedelta(minutes=m), 1.0) for i, m in enumerate([0, 1, 2])],
        # two watermark-advancing batches: Spark filters late events
        # against the PREVIOUS batch's watermark (SPARK-40925), so the
        # watermark must be ahead one batch BEFORE the late row arrives
        [(90, base + dt.timedelta(hours=1), 1.0)],
        [(91, base + dt.timedelta(hours=2), 1.0)],
        # the late row: 12:03, > 10 min behind the watermark
        [(99, base + dt.timedelta(minutes=3), 1.0)],
    ]
    for i, b in enumerate(batches):
        spark.createDataFrame(b, schema).coalesce(1).write.parquet(f"{src}/b{i}")
        time.sleep(1.1)  # distinct mtimes → deterministic file order
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(f"{src}/b*")
        .select(*cols)
        .withWatermark("ts", "10 minutes")
        .groupBy(F.window("ts", "5 minutes").alias("w"))
        .agg(F.count("*").alias("n"))
        .select(F.col("w.start").alias("w_start"), "n")
    )
    q = (
        stream.writeStream.format("memory")
        .queryName("t_late")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    try:
        assert q.awaitTermination(180)
    finally:
        q.stop()
    emitted = [
        (r["w_start"], r["n"])
        for r in spark.table("t_late").collect()
        if r["w_start"] == dt.datetime(2024, 1, 1, 12, 0, 0)
    ]
    # Had the late event (12:03) been accepted it would either have
    # raised the window to 4 (pre-eviction) or re-opened it as a second
    # (12:00, 1) row (post-eviction). Exactly one row with the 3
    # on-time events proves the watermark dropped it.
    assert emitted == [(dt.datetime(2024, 1, 1, 12, 0, 0), 3)], f"late row leaked: {emitted}"


def test_watermark_is_applied_in_stream_plan(spark, sf_dir, tmp_path):
    """The streaming plan carries the watermark node (late-data
    eviction); the batch twin does not (exact answer)."""
    events = load(spark, sf_dir, "events")
    events.write.mode("overwrite").parquet(str(tmp_path / "ev_wm"))
    stream = spark.readStream.schema(events.schema).parquet(str(tmp_path / "ev_wm"))
    plan = streaming.tumbling_counts(stream)._jdf.queryExecution().analyzed().toString()
    assert "EventTimeWatermark" in plan
    batch_plan = (
        streaming.tumbling_counts(events)._jdf.queryExecution().analyzed().toString()
    )
    assert "EventTimeWatermark" not in batch_plan


def test_streaming_neardup_flags_cross_batch_pair(spark, tmp_path):
    """Incremental minhash ingest: a near-dup whose first copy arrived
    in an EARLIER micro-batch is flagged when the second copy arrives,
    via the persisted band index — no rescan of batch 0's docs. Also
    covers intra-batch pairs and non-matches."""
    import time

    from als_hadoop_spark.streaming import neardup

    base = " ".join(f"tok{i}" for i in range(100))
    near = base.replace("tok50", "changed", 1)      # jaccard ~0.94 vs base
    far = " ".join(f"other{i}" for i in range(100))
    far_near = far.replace("other7", "edited", 1)   # intra-batch pair in b1
    src = str(tmp_path / "docs_src")
    idx = str(tmp_path / "nd_index")
    b0 = spark.createDataFrame([(0, base), (1, far)], "doc_id LONG, text STRING")
    b1 = spark.createDataFrame(
        [(10, near), (11, far_near), (12, " ".join(f"zzz{i}" for i in range(100)))],
        "doc_id LONG, text STRING",
    )
    b0.coalesce(1).write.parquet(f"{src}/b0")
    time.sleep(1.1)  # distinct mtimes => deterministic file order
    b1.coalesce(1).write.parquet(f"{src}/b1")
    stream = (
        spark.readStream.schema(b0.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(f"{src}/b*")
    )
    q = (
        neardup.neardup_ingest(stream, idx)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    try:
        assert q.awaitTermination(180)
    finally:
        q.stop()
    got = {
        (r["id_a"], r["id_b"]): r["batch_id"]
        for r in neardup.read_matches(spark, idx).collect()
    }
    # cross-batch: doc 10 (batch 1) duplicates doc 0 (batch 0)
    assert (0, 10) in got and got[(0, 10)] == 1, got
    # intra-batch: 1 (batch 0) ~ 11 (batch 1) cross-batch too
    assert (1, 11) in got, got
    # the unrelated doc matches nothing
    assert not any(12 in pair for pair in got), got
    assert len(got) == 2, got


def test_checkpoint_recovery_restores_offsets_and_dedup_state(spark, tmp_path):
    """Kill-and-restart exactly-once: a query stopped after batch 0 and
    restarted from its checkpoint must (a) not re-emit batch 0's rows
    (offset recovery) and (b) still drop a batch-1 duplicate of a
    batch-0 payload (dropDuplicatesWithinWatermark STATE recovery) —
    the two properties that make a 100 TB ingest restartable."""
    import datetime as dt
    import time

    schema = "event_id LONG, ts TIMESTAMP, user_id LONG, props STRING"
    t0 = dt.datetime(2024, 1, 1, 12, 0, 0)

    def ev(eid, sec, uid, props):
        return (eid, t0 + dt.timedelta(seconds=sec), uid, props)

    src, sink, ckpt = (str(tmp_path / d) for d in ("src", "sink", "ckpt"))
    b0 = spark.createDataFrame([ev(1, 0, 1, "p1"), ev(2, 1, 2, "p2")], schema)
    b1 = spark.createDataFrame(
        [ev(3, 2, 1, "p1"),   # duplicate payload of event 1 → must drop
         ev(4, 3, 3, "p3")],  # genuinely new
        schema,
    )

    def run_once():
        stream = spark.readStream.schema(b0.schema).parquet(f"{src}/b*")
        q = (
            streaming.dedup_events(stream)
            .writeStream.format("parquet")
            .option("path", sink)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        assert q.awaitTermination(120)
        q.stop()

    b0.coalesce(1).write.parquet(f"{src}/b0")
    run_once()
    time.sleep(1.1)  # distinct mtimes => b1 seen as a new file
    b1.coalesce(1).write.parquet(f"{src}/b1")
    run_once()  # fresh query object, SAME checkpoint

    got = sorted(r["event_id"] for r in spark.read.parquet(sink).collect())
    assert got == [1, 2, 4], got


def test_streaming_hll_rollup_matches_batch(spark, tmp_path):
    """Incremental sketch-rollup ingest: merge-on-read over per-batch
    HLL deltas must equal a direct batch sketch of ALL rows BIT-EXACTLY
    (HLL union is a register-wise max — no approximation is added by
    splitting into micro-batches), and compaction must be invisible to
    readers."""
    import shutil
    import time

    from als_hadoop_spark.streaming import sketch_rollup

    ev = load(spark, "/root/testdata/sf0.001", "events").select(
        "event_id", "user_id", "event_type", "ts"
    )
    src = str(tmp_path / "ev_src")
    store = str(tmp_path / "hll_store")
    for i in range(3):
        chunk = ev.filter(F.pmod("event_id", F.lit(3)) == i).drop("event_id")
        chunk.coalesce(1).write.parquet(f"{src}/b{i}")
        time.sleep(1.1)  # distinct mtimes => deterministic file order

    stream = (
        spark.readStream.schema("user_id BIGINT, event_type STRING, ts TIMESTAMP")
        .option("maxFilesPerTrigger", 1)
        .parquet(f"{src}/b*")
    )
    q = (
        sketch_rollup.hll_rollup_ingest(stream, store)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    try:
        assert q.awaitTermination(180)
    finally:
        q.stop()

    direct = {
        r["event_type"]: (r["est"], r["n"])
        for r in ev.groupBy("event_type")
        .agg(
            F.hll_sketch_estimate(F.hll_sketch_agg("user_id")).alias("est"),
            F.count("*").alias("n"),
        )
        .collect()
    }
    streamed = {
        r["event_type"]: (r["approx_users"], r["n_rows"])
        for r in sketch_rollup.read_rollup(spark, store).collect()
    }
    assert streamed == direct  # bit-exact estimates AND exact row counts

    # finer grain from the same store: one row per stored (type, day)
    by_day = sketch_rollup.read_rollup(spark, store, grain=["event_type", "day"])
    n_groups = ev.select("event_type", F.to_date("ts").alias("day")).distinct().count()
    assert by_day.count() == n_groups

    # compaction folds deltas without changing any reader-visible result
    sketch_rollup.compact(spark, store)
    import os

    assert os.listdir(store) == ["batch=compacted"]
    after = {
        r["event_type"]: (r["approx_users"], r["n_rows"])
        for r in sketch_rollup.read_rollup(spark, store).collect()
    }
    assert after == direct


def test_stream_static_enrich_equals_batch(spark, tmp_path):
    """Stream-static enrichment: the SAME enrich_events transform over
    a file stream (static customer side broadcast per micro-batch,
    stateless append mode) must produce exactly the batch twin's rows."""
    import time

    ev = load(spark, "/root/testdata/sf0.001", "events").select(
        "event_id", "user_id", "event_type", "value", "ts"
    )
    cust = load(spark, "/root/testdata/sf0.001", "customer")
    src, sink, ckpt = (str(tmp_path / d) for d in ("src", "sink", "ckpt"))
    for i in range(2):
        ev.filter(F.pmod("event_id", F.lit(2)) == i).coalesce(1).write.parquet(
            f"{src}/b{i}"
        )
        time.sleep(1.1)

    stream = (
        spark.readStream.schema(ev.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(f"{src}/b*")
    )
    q = (
        streaming.enrich_events(stream, cust)
        .writeStream.format("parquet")
        .option("path", sink)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    try:
        assert q.awaitTermination(120)
    finally:
        q.stop()

    got = sorted(
        tuple(r) for r in spark.read.parquet(sink).collect()
    )
    want = sorted(tuple(r) for r in streaming.enrich_events(ev, cust).collect())
    assert got == want and len(got) > 0
    # the left join is genuinely left: some events have no customer row
    assert any(r[-1] == "UNKNOWN" for r in got) or all(
        r[-1] != "UNKNOWN" for r in want
    )


def test_streaming_pca_stats_match_batch(spark, sf_dir, tmp_path):
    """Incremental PCA: statistics merged from per-micro-batch deltas
    must match the single-pass batch fit (same n, mean, covariance up
    to float addition order), so the derived eigenbasis is the same."""
    import numpy as np

    from als_hadoop_spark.operators.pca import fit_pca
    from als_hadoop_spark.streaming.pca_rollup import pca_ingest, read_pca_stats

    emb = load(spark, sf_dir, "embeddings")
    src = str(tmp_path / "pca_src")
    store = str(tmp_path / "pca_store")
    emb.repartition(3).write.parquet(src)  # several files → several batches
    stream = (
        spark.readStream.schema(emb.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    q = (
        pca_ingest(stream, store)
        .trigger(availableNow=True)
        .option("checkpointLocation", str(tmp_path / "pca_ckpt"))
        .start()
    )
    try:
        assert q.awaitTermination(180)
    finally:
        q.stop()

    n, mean, cov = read_pca_stats(spark, store)
    assert n == emb.count()
    X = np.stack([np.asarray(r["embedding"], dtype=np.float64) for r in emb.collect()])
    np.testing.assert_allclose(mean, X.mean(axis=0), rtol=1e-9)
    np.testing.assert_allclose(cov, np.cov(X, rowvar=False), rtol=1e-7, atol=1e-10)
    # and therefore the same basis as the one-shot distributed fit
    _, batch_mean, comps, _ = fit_pca(spark, emb)
    evals, evecs = np.linalg.eigh(cov)
    top = evecs[:, np.argsort(evals)[::-1][:2]].T
    for i in range(2):
        j = int(np.argmax(np.abs(top[i])))
        if top[i, j] < 0:
            top[i] = -top[i]
    np.testing.assert_allclose(np.abs(top), np.abs(comps), rtol=1e-4, atol=1e-7)


def test_streaming_cms_rollup_matches_batch(spark, tmp_path):
    """Incremental CMS frequency ingest: merged per-batch deltas must
    answer EXACTLY like one sketch over all rows (both add the same
    per-row counter increments into the same seeded grid — splitting
    into micro-batches adds no error), and compaction must be
    invisible to readers."""
    import os
    import time

    from als_hadoop_spark.streaming import cms_rollup

    docs = load(spark, "/root/testdata/sf0.001", "documents").select(
        "doc_id", "source", "text"
    )
    src = str(tmp_path / "doc_src")
    store = str(tmp_path / "cms_store")
    for i in range(3):
        chunk = docs.filter(F.pmod("doc_id", F.lit(3)) == i).drop("doc_id")
        chunk.coalesce(1).write.parquet(f"{src}/b{i}")
        time.sleep(1.1)  # distinct mtimes => deterministic file order

    stream = (
        spark.readStream.schema("source STRING, text STRING")
        .option("maxFilesPerTrigger", 1)
        .parquet(f"{src}/b*")
    )
    q = (
        cms_rollup.cms_ingest(stream, store)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    try:
        assert q.awaitTermination(180)
    finally:
        q.stop()

    # probe set: every distinct token (vocab is 31 on the fixture)
    toks = (
        docs.select(F.explode(F.split(F.lower("text"), " ")).alias("t"))
        .filter(F.col("t") != "")
    )
    truth = {r["t"]: r["n"] for r in toks.groupBy("t").agg(F.count("*").alias("n")).collect()}
    probe = sorted(truth)

    from als_hadoop_spark.operators.sketches import (
        CMS_CONFIDENCE,
        CMS_EPS,
        CMS_SEED,
    )

    whole = toks.agg(
        F.count_min_sketch(
            "t", F.lit(CMS_EPS), F.lit(CMS_CONFIDENCE), F.lit(CMS_SEED)
        ).alias("sk")
    ).collect()[0]["sk"]
    jvm = spark.sparkContext._jvm
    j_whole = jvm.org.apache.spark.util.sketch.CountMinSketch.readFrom(bytes(whole))

    streamed = {
        r["token"]: (r["est_count"], r["n_tokens_total"])
        for r in cms_rollup.read_frequencies(spark, store, probe).collect()
    }
    n_total = sum(truth.values())
    for t in probe:
        est, tot = streamed[t]
        assert tot == n_total
        assert est == j_whole.estimateCount(t), t     # merge adds no error
        assert est >= truth[t]                        # CMS one-sided

    cms_rollup.compact(spark, store)
    assert os.listdir(store) == ["batch=compacted-0"]
    # the blob's manifest remembers every folded delta digest
    assert len(cms_rollup._folded_keys(store)) == 3
    after = {
        r["token"]: (r["est_count"], r["n_tokens_total"])
        for r in cms_rollup.read_frequencies(spark, store, probe).collect()
    }
    assert after == streamed

    # at-least-once REPLAY after compaction must not double-count:
    # a fresh checkpoint replays the same files (re-numbered 0..2, but
    # numbering is irrelevant — identity is the delta content digest),
    # every digest is in the compacted manifest, so ingest skips them
    q2 = (
        cms_rollup.cms_ingest(
            spark.readStream.schema("source STRING, text STRING")
            .option("maxFilesPerTrigger", 1)
            .parquet(f"{src}/b*"),
            store,
        )
        .option("checkpointLocation", str(tmp_path / "ckpt2"))
        .trigger(availableNow=True)
        .start()
    )
    try:
        assert q2.awaitTermination(180)
    finally:
        q2.stop()
    replayed = {
        r["token"]: (r["est_count"], r["n_tokens_total"])
        for r in cms_rollup.read_frequencies(spark, store, probe).collect()
    }
    assert replayed == streamed

    # a fresh checkpoint that sees BOTH old files and NEW data must
    # count exactly the new rows once — the batch-id-keyed store
    # dropped these (ids restart at 0, under the old high-watermark)
    extra = spark.createDataFrame(
        [("wiki", "brandnew tokens here")], "source STRING, text STRING"
    )
    extra.coalesce(1).write.parquet(f"{src}/b3")
    q3 = (
        cms_rollup.cms_ingest(
            spark.readStream.schema("source STRING, text STRING")
            .option("maxFilesPerTrigger", 1)
            .parquet(f"{src}/b*"),
            store,
        )
        .option("checkpointLocation", str(tmp_path / "ckpt3"))
        .trigger(availableNow=True)
        .start()
    )
    try:
        assert q3.awaitTermination(180)
    finally:
        q3.stop()
    grown = {
        r["token"]: (r["est_count"], r["n_tokens_total"])
        for r in cms_rollup.read_frequencies(
            spark, store, probe + ["brandnew"]
        ).collect()
    }
    assert grown["brandnew"][0] >= 1
    assert grown[probe[0]][1] == n_total + 3  # old counts intact, +3 new

    # empty/absent store reads as zeros, not an exception
    zero = cms_rollup.read_frequencies(
        spark, str(tmp_path / "no_such_store"), ["scan"]
    ).collect()
    assert [(r["est_count"], r["n_tokens_total"]) for r in zero] == [(0, 0)]


def test_neardup_probe_plan_prunes_and_broadcasts(spark, tmp_path):
    """The per-batch index probe must stay O(batch), not O(corpus):
    the batch's band-prefix list reaches the index scan as
    PartitionFilters (directory pruning), the batch side broadcasts,
    and the O(corpus) index side is never shuffled or sorted
    (BroadcastHashJoin, no SortMergeJoin, no Exchange above the index
    scan)."""
    from als_hadoop_spark.streaming import neardup
    from pyspark.sql import functions as F

    idx = str(tmp_path / "nd_index")
    docs = spark.createDataFrame(
        [(i, " ".join(f"tok{i}_{j}" for j in range(30))) for i in range(20)],
        "doc_id LONG, text STRING",
    )
    bands = neardup.minhash_bands(docs).withColumn(
        "band_pfx", neardup.band_pfx(F.col("band_key"))
    )
    bands.write.mode("overwrite").partitionBy("band_pfx").parquet(
        f"{idx}/bands/batch=0"
    )

    new_docs = spark.createDataFrame(
        [(100, " ".join(f"new{j}" for j in range(30)))], "doc_id LONG, text STRING"
    )
    new_bands = new_docs.transform(neardup.minhash_bands).withColumn(
        "band_pfx", neardup.band_pfx(F.col("band_key"))
    )
    prefixes = [r[0] for r in new_bands.select("band_pfx").distinct().collect()]
    assert 0 < len(prefixes) <= neardup.BAND_PFX_MOD

    old_bands = neardup.read_band_index(spark, idx)
    from als_hadoop_spark.plans import explain_str

    cands = neardup.historical_candidates(old_bands, new_bands, prefixes)
    plan = explain_str(cands)
    assert "BroadcastHashJoin" in plan, plan
    assert "SortMergeJoin" not in plan, plan
    assert "PartitionFilters" in plan and "band_pfx" in plan, plan
    # the index side of the join must carry no Exchange: the only
    # exchange in the whole plan is the broadcast of the batch side
    import re

    exchanges = re.findall(r"^\s*\(\d+\) (\w*Exchange\w*)", plan, flags=re.M)
    assert all("Broadcast" in e for e in exchanges), (exchanges, plan)


def test_pca_ingest_rejects_foreign_checkpoint_lineage(spark, tmp_path):
    """A fresh checkpoint pointed at a store with existing later-batch
    history must fail loudly (batch ids are checkpoint-relative and
    PCA deltas double-count) — not silently renumber and corrupt."""
    import numpy as np
    import pytest

    from als_hadoop_spark.streaming import pca_rollup

    store = str(tmp_path / "pca_store")
    src = str(tmp_path / "emb_src")
    emb = spark.createDataFrame(
        [([float(i), float(i + 1)],) for i in range(8)],
        "embedding ARRAY<DOUBLE>",
    )
    emb.coalesce(1).write.parquet(f"{src}/b0")
    # fake history from a previous checkpoint lineage
    import os

    os.makedirs(f"{store}/batch=3")

    q = (
        pca_rollup.pca_ingest(
            spark.readStream.schema("embedding ARRAY<DOUBLE>").parquet(f"{src}/b*"),
            store,
        )
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    from pyspark.errors import StreamingQueryException

    with pytest.raises(StreamingQueryException, match="checkpoint lineage"):
        q.awaitTermination(120)
    q.stop()


def test_cdf_follower_and_rollup_maintenance(spark, tmp_path):
    """The r7 CDC-loop closer (VERDICT r6 #4): a materialized rollup
    maintained purely from the source table's change feed stays equal
    to the recompute across appends, merges, deletes — and across a
    follower RESTART, a lost checkpoint (forced replay), and a
    duplicated maintenance step. Exactly-once comes from the rollup
    table's own txn log, not the checkpoint file."""
    from als_hadoop_spark.sources.acid import AcidTable
    from als_hadoop_spark.streaming.cdf_source import CdfFollower, maintain_rollup

    src_path = str(tmp_path / "src")
    roll_path = str(tmp_path / "rollup")
    ckpt = str(tmp_path / "ckpt")
    src = AcidTable(spark, src_path)
    src.append(
        spark.createDataFrame(
            [(1, "g1", 10), (2, "g1", 99), (3, "g2", 5)],
            "k LONG, grp STRING, x LONG",
        ).coalesce(1)
    )

    def recompute():
        return {
            r["grp"]: (r["sx"], r["n"], r["mx"])
            for r in src.snapshot()
            .groupBy("grp")
            .agg(F.sum("x").alias("sx"), F.count("*").alias("n"), F.max("x").alias("mx"))
            .collect()
        }

    def rollup_state():
        return {
            r["grp"]: (r["sx"], r["n"], r["mx"])
            for r in AcidTable(spark, roll_path).snapshot().collect()
        }

    args = dict(
        spark=spark, source_path=src_path, rollup_path=roll_path,
        keys=["grp"], sums={"sx": "x"}, checkpoint_dir=ckpt,
        count_col="n", minmax={"mx": ("x", "max")},
    )
    # bootstrap
    assert maintain_rollup(**args) > 0
    assert rollup_state() == recompute()
    # caught up → no-op
    assert maintain_rollup(**args) == 0

    # source evolves: append + delete-of-max
    src.append(
        spark.createDataFrame([(4, "g3", 7), (5, "g2", 50)],
                              "k LONG, grp STRING, x LONG").coalesce(1)
    )
    src.delete(F.col("k") == 2)  # g1's max goes away
    assert maintain_rollup(**args) == 2  # two versions consumed
    assert rollup_state() == recompute()
    assert rollup_state()["g1"][2] == 10  # runner-up max surfaced

    # RESTART: fresh follower instance, nothing new → no-op
    assert maintain_rollup(**args) == 0

    # lost checkpoint: offset file gone, authoritative txn offset holds
    import os

    os.remove(os.path.join(ckpt, "cdf-offset.json"))
    follower = CdfFollower(spark, src_path, ckpt)
    assert follower.last_consumed() == -1
    assert maintain_rollup(**args) == 0  # replay recognized, folds nothing
    assert rollup_state() == recompute()
    # and the checkpoint hint was reconciled back
    assert CdfFollower(spark, src_path, ckpt).last_consumed() == src.latest_version()

    # one more change consumed through the reconciled state
    src.delete(F.col("grp") == "g3")  # drops g3 entirely
    assert maintain_rollup(**args) == 1
    assert rollup_state() == recompute()
    assert "g3" not in rollup_state()


def test_cdf_maintain_rollup_empty_source_waits(spark, tmp_path):
    """A maintainer pointed at a not-yet-written source must be a
    no-op (bootstrapping at version -1 would alias 'never
    bootstrapped'), then bootstrap normally on the first commit."""
    from als_hadoop_spark.sources.acid import AcidTable
    from als_hadoop_spark.streaming.cdf_source import maintain_rollup

    src_path = str(tmp_path / "src")
    AcidTable(spark, src_path)  # creates the table dir, no commits
    args = dict(
        spark=spark, source_path=src_path,
        rollup_path=str(tmp_path / "roll"), keys=["grp"],
        sums={"sx": "x"}, checkpoint_dir=str(tmp_path / "ckpt"),
        count_col="n",
    )
    assert maintain_rollup(**args) == 0
    assert maintain_rollup(**args) == 0  # still waiting, still no-op
    AcidTable(spark, src_path).append(
        spark.createDataFrame([(1, "g1", 5)], "k LONG, grp STRING, x LONG")
        .coalesce(1)
    )
    assert maintain_rollup(**args) > 0  # bootstraps now
    got = {
        r["grp"]: (r["sx"], r["n"])
        for r in AcidTable(spark, str(tmp_path / "roll")).snapshot().collect()
    }
    assert got == {"g1": (5, 1)}


def test_overwrite_expected_version_rejects_interleaved_commit(spark, tmp_path):
    """The TOCTOU primitive (post-r7 advice): ``overwrite`` pinned to
    the base the caller read its inputs at must CONFLICT — not
    silently commit — when any other writer landed in between."""
    from als_hadoop_spark.sources.acid import AcidTable, CommitConflict

    t = AcidTable(spark, str(tmp_path / "t"))
    df = spark.createDataFrame([(1, 10)], "k LONG, x LONG").coalesce(1)
    t.overwrite(df)
    v = t.latest_version()
    t.append(df)  # interleaved commit after the read
    with pytest.raises(CommitConflict):
        t.overwrite(df, expected_version=v)
    # unpinned overwrite (read-at-call-time) still works
    t.overwrite(df)


def test_maintain_rollup_interleaved_maintainer_never_double_folds(
    spark, tmp_path, monkeypatch
):
    """Double-driver TOCTOU (post-r7 advice): a competing maintainer
    committing BETWEEN this step's pinned read and its overwrite must
    make this step yield with 0 — the change batch folds exactly once.
    The race is injected deterministically inside fold_changes, i.e.
    after last_txn/snapshot were read and before the overwrite."""
    from als_hadoop_spark.sources.acid import AcidTable
    from als_hadoop_spark.streaming.cdf_source import maintain_rollup

    src_path = str(tmp_path / "src")
    roll_path = str(tmp_path / "rollup")
    src = AcidTable(spark, src_path)
    src.append(
        spark.createDataFrame(
            [(1, "g1", 10), (2, "g2", 5)], "k LONG, grp STRING, x LONG"
        ).coalesce(1)
    )

    def mk_args(ckpt):
        return dict(
            spark=spark, source_path=src_path, rollup_path=roll_path,
            keys=["grp"], sums={"sx": "x"}, checkpoint_dir=str(tmp_path / ckpt),
            count_col="n",
        )

    args_a, args_b = mk_args("ckpt_a"), mk_args("ckpt_b")
    assert maintain_rollup(**args_a) > 0  # bootstrap
    src.append(
        spark.createDataFrame([(3, "g1", 7)], "k LONG, grp STRING, x LONG")
        .coalesce(1)
    )

    orig = AcidTable.fold_changes
    state = {"injected": False}

    def interleaving(self, rollup, *a, **kw):
        if not state["injected"]:
            state["injected"] = True
            # maintainer B wins the race while A is mid-step
            assert maintain_rollup(**args_b) == 1
        return orig(self, rollup, *a, **kw)

    monkeypatch.setattr(AcidTable, "fold_changes", interleaving)
    assert maintain_rollup(**args_a) == 0  # A detects the conflict, yields

    got = {
        r["grp"]: (r["sx"], r["n"])
        for r in AcidTable(spark, roll_path).snapshot().collect()
    }
    assert got == {"g1": (17, 2), "g2": (5, 1)}  # folded ONCE
    monkeypatch.setattr(AcidTable, "fold_changes", orig)
    assert maintain_rollup(**args_a) == 0  # caught up


def _mini_acid(spark, path):
    from als_hadoop_spark.sources.acid import AcidTable

    t = AcidTable(spark, path)
    t.append(
        spark.createDataFrame(
            [(1, "g1", 10), (2, "g1", 99), (3, "g2", 5)],
            "k LONG, grp STRING, x LONG",
        ).coalesce(1)
    )
    return t


def _upsert_k(matched, changes):
    return matched.join(changes.select("k"), "k", "anti").unionByName(changes)


@pytest.mark.parametrize("dv", [False, True], ids=["cow", "dv"])
def test_acid_cdf_stream_equals_batch_table_changes(spark, tmp_path, dv):
    """The streaming CDF source: reading the table through
    ``spark.readStream.format("acid_cdf")`` with AvailableNow must
    produce EXACTLY the rows of the batch ``table_changes(0)`` — across
    append, CDC-sidecar MERGE (update pre/post images), CDC-sidecar
    DELETE, CDC-sidecar UPDATE, a second append and an overwrite; with
    deletion vectors on, the MERGE, DELETE and UPDATE mask rows instead
    of rewriting files and commit no ``remove`` action, so the overwrite
    removes masked files and must emit only their unmasked rows."""
    from als_hadoop_spark.sources import register_acid_cdf

    src = _mini_acid(spark, str(tmp_path / "src"))
    if dv:
        src.set_property("deletionVectors", "true")
    src.merge(
        spark.createDataFrame(
            [(2, "g1", 50), (4, "g3", 7)], "k LONG, grp STRING, x LONG"
        ).coalesce(1),
        key="k", apply_fn=_upsert_k, cdf=True,
    )
    src.delete(F.col("k") == 1, cdf=True)
    src.update({"x": "x + 1"}, "k = 3", cdf=True)
    src.append(
        spark.createDataFrame([(5, "g2", 20)], "k LONG, grp STRING, x LONG")
        .coalesce(1)
    )
    src.overwrite(
        spark.createDataFrame([(6, "g4", 1)], "k LONG, grp STRING, x LONG")
        .coalesce(1)
    )
    cols = ["k", "grp", "x", "_change_type", "_commit_version"]
    want = sorted(map(tuple, src.table_changes(0).select(*cols).collect()))

    register_acid_cdf(spark)
    stream = (
        spark.readStream.format("acid_cdf").option("path", src.path).load()
    )
    assert stream.isStreaming
    name = f"t_acid_cdf_{'dv' if dv else 'cow'}"
    q = (
        stream.writeStream.format("memory")
        .queryName(name)
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    try:
        assert q.awaitTermination(180)
    finally:
        q.stop()
    got = sorted(map(tuple, spark.table(name).select(*cols).collect()))
    # 10 changes before the overwrite; it deletes the 4 live rows and
    # inserts 1
    assert got == want and len(got) == 15


def test_acid_cdf_resumes_from_spark_checkpoint(spark, tmp_path):
    """Spark's own offset log drives resumption: a second AvailableNow
    run of the SAME checkpoint must deliver only the commits that
    landed after the first run — no replay, no gap."""
    from als_hadoop_spark.sources import register_acid_cdf

    src = _mini_acid(spark, str(tmp_path / "src"))
    register_acid_cdf(spark)
    out = str(tmp_path / "out")

    def run():
        stream = (
            spark.readStream.format("acid_cdf").option("path", src.path).load()
        )
        q = (
            stream.writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", str(tmp_path / "ckpt"))
            .trigger(availableNow=True)
            .start()
        )
        try:
            assert q.awaitTermination(180)
        finally:
            q.stop()
        return sorted(
            map(
                tuple,
                spark.read.parquet(out).select("k", "_commit_version").collect(),
            )
        )

    first = run()
    assert {v for _, v in first} == {0} and len(first) == 3
    src.delete(F.col("k") == 2, cdf=True)
    second = run()  # same checkpoint: only the new commit arrives
    fresh = [kv for kv in second if kv not in first]
    assert len(second) == len(first) + len(fresh)  # no replay of v0
    assert fresh and all(v == 1 for _, v in fresh)


def test_acid_cdf_merge_without_sidecar_fails_planning(spark, tmp_path):
    """A MERGE committed without ``cdf=True`` has no file-local change
    set; the stream must FAIL LOUDLY at planning and name the fix."""
    from als_hadoop_spark.sources import register_acid_cdf

    src = _mini_acid(spark, str(tmp_path / "src"))
    src.merge(
        spark.createDataFrame([(2, "g1", 50)], "k LONG, grp STRING, x LONG")
        .coalesce(1),
        key="k", apply_fn=_upsert_k, cdf=False,
    )
    register_acid_cdf(spark)
    stream = (
        spark.readStream.format("acid_cdf").option("path", src.path).load()
    )
    q = (
        stream.writeStream.format("noop")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    with pytest.raises(Exception, match="cdf=True"):
        q.awaitTermination(180)
    q.stop()


def test_acid_cdf_refuses_commits_without_sidecar_at_planning(
    spark, tmp_path
):
    """A MERGE, DELETE or UPDATE committed without ``cdf=True`` has a
    cross-file change set, copy-on-write and deletion-vector alike, so
    planning its version must raise and name the fix — never plan an
    empty or insert-only batch. Driven at the reader level, the
    surface Structured Streaming calls."""
    from als_hadoop_spark.sources.acid_cdf import build_acid_cdf_source

    t = _mini_acid(spark, str(tmp_path / "src"))  # v0
    upsert = spark.createDataFrame(
        [(2, "g1", 50), (4, "g3", 7)], "k LONG, grp STRING, x LONG"
    ).coalesce(1)
    t.merge(upsert, key="k", apply_fn=_upsert_k)  # v1: copy-on-write
    t.set_property("deletionVectors", "true")  # v2: metadata only
    t.merge(upsert, key="k", apply_fn=_upsert_k)  # v3: DV MERGE
    t.delete(F.col("k") == 1)  # v4: DV DELETE
    t.update({"x": "x + 1"}, "k = 3")  # v5: DV UPDATE
    log = t.history()
    assert "remove" in log[1]
    assert all("dv" in e and "remove" not in e for e in log[3:])
    reader = build_acid_cdf_source()(options={"path": t.path}).streamReader(
        spark.createDataFrame([], "k long, grp string, x long, "
                              "_change_type string, _commit_version long").schema
    )
    assert len(reader.partitions({"version": -1}, {"version": 0})) == 1
    assert [p.path for p in reader.partitions({"version": 1}, {"version": 2})] == [None]
    for v in (1, 3, 4, 5):
        with pytest.raises(ValueError, match="cdf=True"):
            reader.partitions({"version": v - 1}, {"version": v})


def test_acid_cdf_reads_spark_timestamps_as_table_changes(spark, tmp_path):
    """A Spark-written TIMESTAMP column (INT96 in the file) streams as
    ``table_changes`` reads it: typed ``timestamp``, not
    ``timestamp_ntz``, and a year-2500 value (past the nanosecond range)
    read exactly. Driven at the reader level, the surface Structured
    Streaming calls."""
    import pyarrow as pa

    from als_hadoop_spark.sources import register_acid_cdf
    from als_hadoop_spark.sources.acid import AcidTable
    from als_hadoop_spark.sources.acid_cdf import build_acid_cdf_source

    t = AcidTable(spark, str(tmp_path / "src"))
    t.append(
        spark.sql(
            "SELECT * FROM VALUES (1L, TIMESTAMP'2020-01-01 00:00:00'), "
            "(2L, TIMESTAMP'2500-01-01 00:00:00') AS v(k, ts)"
        ).coalesce(1)
    )
    batch = t.table_changes(0)
    register_acid_cdf(spark)
    schema = spark.readStream.format("acid_cdf").option("path", t.path).load().schema
    assert schema["ts"].dataType == batch.schema["ts"].dataType
    reader = build_acid_cdf_source()(options={"path": t.path}).streamReader(schema)
    got = pa.concat_tables(
        pa.Table.from_batches(list(reader.read(p)), schema=p.schema)
        for p in reader.partitions({"version": -1}, {"version": 0})
    )
    micros = got["ts"].cast(pa.int64()).to_pylist()
    rows = sorted(
        zip(got["k"].to_pylist(), micros, got["_change_type"].to_pylist(),
            got["_commit_version"].to_pylist())
    )
    want = sorted(
        map(tuple, batch.selectExpr(
            "k", "unix_micros(ts)", "_change_type", "_commit_version"
        ).collect())
    )
    assert rows == want and len(rows) == 2


def test_maintainers_agree_on_a_deletion_vector_source(
    spark, tmp_path, monkeypatch
):
    """Both maintainers share one fold step: over a deletion-vector
    source (append, DV MERGE with cdf=True, DV DELETE with cdf=True of
    a whole group), ``maintain_rollup`` run step by step and
    ``stream_maintain_rollup`` each reach the recompute's rollup —
    SUM, COUNT, MAX and AVG, the deleted group gone. A batch step after
    the bootstrap plans ``table_changes`` exactly once."""
    from als_hadoop_spark.sources.acid import AcidTable
    from als_hadoop_spark.streaming.cdf_source import (
        maintain_rollup,
        stream_maintain_rollup,
    )

    src = _mini_acid(spark, str(tmp_path / "src"))
    src.set_property("deletionVectors", "true")
    spec = dict(
        spark=spark, source_path=src.path, keys=["grp"], sums={"sx": "x"},
        count_col="n", minmax={"mx": ("x", "max")}, avgs={"ax": "x"},
    )
    batch = dict(spec, rollup_path=str(tmp_path / "roll_b"),
                 checkpoint_dir=str(tmp_path / "ck_b"))
    stream = dict(spec, rollup_path=str(tmp_path / "roll_s"),
                  checkpoint_dir=str(tmp_path / "ck_s"))

    def recompute():
        return {
            r["grp"]: (r["sx"], r["n"], r["mx"], r["ax"])
            for r in src.snapshot()
            .groupBy("grp")
            .agg(F.sum("x").alias("sx"), F.count("*").alias("n"),
                 F.max("x").alias("mx"), F.avg("x").alias("ax"))
            .collect()
        }

    def rollup(args):
        return {
            r["grp"]: (r["sx"], r["n"], r["mx"], r["ax"])
            for r in AcidTable(spark, args["rollup_path"]).snapshot().collect()
        }

    assert maintain_rollup(**batch) == 2  # bootstrap through v1
    planned = []
    orig = AcidTable.table_changes

    def spy(self, *a, **kw):
        planned.append(a)
        return orig(self, *a, **kw)

    monkeypatch.setattr(AcidTable, "table_changes", spy)
    src.merge(
        spark.createDataFrame(
            [(2, "g1", 50), (4, "g3", 7)], "k LONG, grp STRING, x LONG"
        ).coalesce(1),
        key="k", apply_fn=_upsert_k, cdf=True,
    )
    assert maintain_rollup(**batch) == 1
    assert planned == [(2, 2)]
    assert rollup(batch) == recompute()
    src.delete(F.col("grp") == "g1", cdf=True)
    assert maintain_rollup(**batch) == 1
    assert planned == [(2, 2), (3, 3)]
    monkeypatch.setattr(AcidTable, "table_changes", orig)
    want = recompute()
    assert "g1" not in want and set(want) == {"g2", "g3"}
    assert rollup(batch) == want

    q = stream_maintain_rollup(**stream)
    assert q.awaitTermination(180)
    assert rollup(stream) == want


def test_stream_maintain_rollup_lifecycle(spark, tmp_path):
    """stream_maintain_rollup (r8): rollup bootstrapped FROM THE REPLAY
    itself, folded incrementally across runs (restart), surviving a
    LOST STREAMING CHECKPOINT (batch ids reset, full replay — the
    _commit_version watermark in the rollup's txn log filters every
    already-folded row), then folding new changes normally — equal to
    recompute at every step, including delete-of-max re-aggregation."""
    import shutil

    from als_hadoop_spark.sources.acid import AcidTable
    from als_hadoop_spark.streaming.cdf_source import stream_maintain_rollup

    src = _mini_acid(spark, str(tmp_path / "src"))
    roll_path = str(tmp_path / "roll")
    args = dict(
        spark=spark, source_path=src.path, rollup_path=roll_path,
        keys=["grp"], sums={"sx": "x"}, checkpoint_dir=str(tmp_path / "ckpt"),
        count_col="n", minmax={"mx": ("x", "max")},
    )

    def recompute():
        return {
            r["grp"]: (r["sx"], r["n"], r["mx"])
            for r in src.snapshot()
            .groupBy("grp")
            .agg(F.sum("x").alias("sx"), F.count("*").alias("n"),
                 F.max("x").alias("mx"))
            .collect()
        }

    def rollup_state():
        return {
            r["grp"]: (r["sx"], r["n"], r["mx"])
            for r in AcidTable(spark, roll_path).snapshot().collect()
        }

    def run():
        q = stream_maintain_rollup(**args)
        assert q.awaitTermination(180)

    run()  # bootstrap: the replay of v0 folds into an empty rollup
    assert rollup_state() == recompute()

    # evolve: append + delete-of-max, fold in one multi-version batch
    src.append(
        spark.createDataFrame([(4, "g3", 7), (5, "g2", 50)],
                              "k LONG, grp STRING, x LONG").coalesce(1)
    )
    src.delete(F.col("k") == 2, cdf=True)  # g1's max goes away
    run()
    assert rollup_state() == recompute()
    assert rollup_state()["g1"][2] == 10  # runner-up max re-aggregated

    # no new commits → fold is a no-op, state unchanged
    run()
    assert rollup_state() == recompute()

    # LOST streaming checkpoint: full replay from version 0; every row
    # is at-or-below the rollup txn watermark and filters out
    shutil.rmtree(str(tmp_path / "ckpt"))
    run()
    assert rollup_state() == recompute()

    # a change committed AFTER the lost-checkpoint replay still folds
    src.delete(F.col("grp") == "g3", cdf=True)  # drops g3 entirely
    run()
    assert rollup_state() == recompute()
    assert "g3" not in rollup_state()


def test_acid_cdf_refuses_schema_evolved_tables(spark, tmp_path):
    """Even with a user-supplied explicit schema (which bypasses the
    source's own schema() refusal), planning must refuse a table with
    schema-op commits — aligning pre-rename files by name would emit
    silently-NULL columns, and this source promises errors, never
    wrong rows."""
    from als_hadoop_spark.sources import register_acid_cdf
    from als_hadoop_spark.sources.acid import AcidTable

    t = AcidTable(spark, str(tmp_path / "src"))
    t.append(
        spark.createDataFrame([(1, 10)], "k LONG, old_x LONG").coalesce(1)
    )
    t.rename_column("old_x", "x")
    t.append(spark.createDataFrame([(2, 20)], "k LONG, x LONG").coalesce(1))
    register_acid_cdf(spark)
    stream = (
        spark.readStream.format("acid_cdf")
        .schema("k long, x long, _change_type string, _commit_version long")
        .option("path", t.path)
        .load()
    )
    q = (
        stream.writeStream.format("noop")
        .option("checkpointLocation", str(tmp_path / "ck"))
        .trigger(availableNow=True)
        .start()
    )
    with pytest.raises(Exception, match="schema"):
        q.awaitTermination(120)
    q.stop()


def test_acid_cdf_guard_cache_catches_late_schema_op(spark, tmp_path):
    """The r9 schema-evolution guard caches its verdict per reader
    (commits <= N verified clean are never re-read), so the cache must
    NOT mask a schema op landing BETWEEN micro-batches: batch 1 plans
    clean, a rename commits, batch 2 must refuse. Driven at the reader
    level — the exact surface Structured Streaming calls."""
    from als_hadoop_spark.sources.acid import AcidTable
    from als_hadoop_spark.sources.acid_cdf import build_acid_cdf_source

    t = AcidTable(spark, str(tmp_path / "src"))
    one = spark.createDataFrame([(1, 10)], "k LONG, x LONG").coalesce(1)
    t.append(one)  # v0
    t.append(one)  # v1
    src = build_acid_cdf_source()(options={"path": t.path})
    reader = src.streamReader(
        spark.createDataFrame([], "k long, x long, _change_type string, "
                              "_commit_version long").schema
    )
    # batch 1: clean range plans fine, verdict cached up to v1
    parts = reader.partitions({"version": -1}, {"version": 1})
    assert len(parts) == 2
    assert reader._clean_upto == 1
    # schema op + another append land between batches
    t.rename_column("x", "y")  # v2
    t.append(spark.createDataFrame([(2, 20)], "k LONG, y LONG").coalesce(1))
    # batch 2 scans only (clean_upto, hi] — and still refuses
    with pytest.raises(ValueError, match="schema-change"):
        reader.partitions({"version": 1}, {"version": 3})
    # a second reader starting fresh refuses the full range too
    r2 = src.streamReader(
        spark.createDataFrame([], "k long, y long, _change_type string, "
                              "_commit_version long").schema
    )
    with pytest.raises(ValueError, match="schema-change"):
        r2.partitions({"version": -1}, {"version": 3})


def test_acid_cdf_plans_below_a_newer_checkpoint_pointer(
    spark, tmp_path, monkeypatch
):
    """A stream may start inside the retained suffix of a table whose
    prefix was cleaned at an older checkpoint while the pointer has
    since moved on. Its first batch ends below the pointer, so no
    checkpoint covers a replay to the batch end alone; planning must
    still succeed — for the first reader and for a fresh reader that
    re-plans the same batch after a restart."""
    from als_hadoop_spark.sources import acid as acid_mod
    from als_hadoop_spark.sources.acid import AcidTable
    from als_hadoop_spark.sources.acid_cdf import build_acid_cdf_source

    monkeypatch.setattr(acid_mod, "CHECKPOINT_INTERVAL", 4)
    t = AcidTable(spark, str(tmp_path / "src"))

    def append(v):
        t.append(
            spark.createDataFrame([(v, v)], "k LONG, x LONG").coalesce(1)
        )

    for v in range(5):  # v0..v4, checkpoint at v4
        append(v)
    assert t.cleanup_log()  # retained: v4..
    for v in range(5, 10):  # v5..v9, pointer moves to v8
        append(v)
    assert t._read_last_checkpoint() == 8
    src = build_acid_cdf_source()(
        options={"path": t.path, "startingVersion": "4",
                 "maxVersionsPerBatch": "2"}
    )
    schema = spark.createDataFrame(
        [], "k long, x long, _change_type string, _commit_version long"
    ).schema
    for _ in range(2):  # first plan, then a restart's re-plan
        reader = src.streamReader(schema)
        start = reader.initialOffset()
        end = reader.latestOffset()
        assert (start, end) == ({"version": 3}, {"version": 5})
        assert len(reader.partitions(start, end)) == 2


def test_acid_cdf_bounded_availablenow_backlog_drain(spark, tmp_path):
    """r10 (VERDICT r9 #7): the AvailableNow single-batch fallback must
    not swallow an N-commit backlog as one giant batch. With
    maxVersionsPerBatch=3 a 7-version backlog drains in ceil(7/3)=3
    AvailableNow runs over the same checkpoint, each run admitting at
    most 3 versions, with exactly-once totals at the end."""
    from als_hadoop_spark.sources import register_acid_cdf
    from als_hadoop_spark.sources.acid import AcidTable

    path = str(tmp_path / "src")
    t = AcidTable(spark, path)
    for v in range(7):  # versions 0..6, one row each
        t.append(
            spark.createDataFrame(
                [(v, "g", v * 10)], "k LONG, grp STRING, x LONG"
            ).coalesce(1)
        )
    register_acid_cdf(spark)
    out = str(tmp_path / "out")

    def run():
        stream = (
            spark.readStream.format("acid_cdf")
            .option("path", path)
            .option("maxVersionsPerBatch", 3)
            .load()
        )
        q = (
            stream.writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", str(tmp_path / "ckpt"))
            .trigger(availableNow=True)
            .start()
        )
        try:
            assert q.awaitTermination(180)
        finally:
            q.stop()
        return sorted(
            r["_commit_version"]
            for r in spark.read.parquet(out)
            .select("_commit_version")
            .collect()
        )

    assert run() == [0, 1, 2]  # run 1: exactly the first cap-full
    assert run() == [0, 1, 2, 3, 4, 5]  # run 2: the next 3, no replay
    assert run() == list(range(7))  # run 3: the tail — drained
    assert run() == list(range(7))  # run 4: caught up, no duplicates


def test_acid_cdf_cap_bounds_live_microbatches(spark, tmp_path):
    """The cap also bounds a LIVE stream's per-trigger admission: with
    cap=2 over a 6-version backlog, processedRowsPerBatch never
    exceeds 2 versions' worth, and the stream still reaches the head
    (no stall, no loss, no duplicate)."""
    from als_hadoop_spark.sources import register_acid_cdf
    from als_hadoop_spark.sources.acid import AcidTable

    path = str(tmp_path / "src")
    t = AcidTable(spark, path)
    for v in range(6):
        t.append(
            spark.createDataFrame(
                [(v, "g", v)], "k LONG, grp STRING, x LONG"
            ).coalesce(1)
        )
    register_acid_cdf(spark)
    stream = (
        spark.readStream.format("acid_cdf")
        .option("path", path)
        .option("maxVersionsPerBatch", 2)
        .load()
    )
    q = (
        stream.writeStream.format("memory")
        .queryName("t_cdf_cap")
        .option(
            "checkpointLocation", str(tmp_path / "ckpt")
        )
        .trigger(processingTime="200 milliseconds")
        .start()
    )
    try:
        import time

        deadline = time.time() + 120
        while time.time() < deadline:
            got = spark.table("t_cdf_cap").count()
            if got >= 6:
                break
            time.sleep(0.5)
        rows = sorted(
            r["_commit_version"]
            for r in spark.table("t_cdf_cap").collect()
        )
        assert rows == list(range(6))
        # admission was bounded: >= 3 batches moved data (6/cap 2)
        data_batches = [
            p for p in q.recentProgress if p["numInputRows"] > 0
        ]
        assert len(data_batches) >= 3, [
            (p["batchId"], p["numInputRows"]) for p in q.recentProgress
        ]
        assert all(p["numInputRows"] <= 2 for p in data_batches)
    finally:
        q.stop()
