"""Consumers of the ACID table's change feed (``table_changes`` and
its streaming twin, the ``acid_cdf`` source), closing the loop
``writer → ACID table → change feed → incremental rollup``:

- :class:`CdfFollower` — a micro-batch tailer with a file-checkpointed
  offset: ``poll()`` yields the next ``table_changes`` batch,
  ``commit()`` advances the offset (temp + atomic rename). A crash
  between the two replays the batch: AT-LEAST-ONCE.
- :func:`maintain_rollup` — one step of rollup maintenance driven by
  the follower; :func:`stream_maintain_rollup` — the same as a
  Structured Streaming query over ``acid_cdf``.

Both maintainers are EXACTLY-ONCE through one fold step: it pins the
rollup version and its consumed offset ``rollup.last_txn(app_id)``
once, folds the change rows above the offset into the rollup at that
version (``AcidTable.fold_changes``), and commits ONE ``overwrite``
pinned to that version and stamped ``txn={"app": app_id, "batch":
<last source version folded>}``. Offset and data land atomically (the
Delta txnAppId/txnVersion recipe): the follower or streaming
checkpoint is only a hint, a replayed batch folds nothing twice, and a
maintainer that commits after the pin makes the overwrite raise
``CommitConflict`` — the batch step yields 0, the stream fails.

Cost: a step reads only the commits in range (∝ changed rows) and
rewrites the rollup, which is bounded by key cardinality; the offset
is one integer. The reference chains batch jobs through HDFS dirs
(ALS-Hadoop/ALS/ALS.java:217-331); continuous maintenance of a derived
result is this engine's extension of it.
"""

from __future__ import annotations

import json
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..sources.acid import AcidTable, CommitConflict


class CdfFollower:
    """Micro-batch tailer over an AcidTable's change feed.

    ``poll()`` → ``(changes, start, end)`` for every commit in
    ``(last_consumed, latest]``, or ``None`` when caught up;
    ``commit(end)`` durably advances the offset. At-least-once:
    consumers must tolerate a replay of the last polled range."""

    def __init__(
        self, spark: SparkSession, table_path: str, checkpoint_dir: str
    ) -> None:
        self.spark = spark
        self.table = AcidTable(spark, table_path)
        self.checkpoint_dir = checkpoint_dir
        os.makedirs(checkpoint_dir, exist_ok=True)
        self._offset_path = os.path.join(checkpoint_dir, "cdf-offset.json")

    def last_consumed(self) -> int:
        """Highest source version already committed, or -1."""
        try:
            with open(self._offset_path) as f:
                return int(json.load(f)["version"])
        except (OSError, ValueError, KeyError):
            return -1

    def poll(self, max_versions: int | None = None) -> tuple[DataFrame, int, int] | None:
        """Next unconsumed change batch, bounded to ``max_versions``
        commits (admission control for a follower that fell far
        behind — N bounded batches instead of one giant one)."""
        start = self.last_consumed() + 1
        end = self.table.latest_version()
        if end < start:
            return None
        if max_versions is not None:
            end = min(end, start + max_versions - 1)
        return self.table.table_changes(start, end), start, end

    def commit(self, end: int) -> None:
        """Atomically persist ``end`` as consumed (temp + rename; a
        torn write can't corrupt the offset — the reader falls back to
        the previous value and replays)."""
        tmp = self._offset_path + ".tmp"
        with open(tmp, "w") as f:
            json.dump({"version": int(end)}, f)
        os.replace(tmp, self._offset_path)


def _rollup_aggs(sums, count_col=None, minmax=None, avgs=None) -> list:
    """The rollup's aggregate columns, as its recompute computes them:
    SUM per ``sums`` entry, COUNT(*) as ``count_col``, MIN/MAX per
    ``minmax`` entry, and per ``avgs`` entry the AVG plus the two
    companions ``fold_changes`` maintains it through (``{out}_sum`` and
    the non-null count ``{out}_cnt``)."""
    aggs = [F.sum(c).alias(out) for out, c in sums.items()]
    if count_col is not None:
        aggs.append(F.count(F.lit(1)).alias(count_col))
    for out, (c, how) in (minmax or {}).items():
        aggs.append(getattr(F, how)(F.col(c)).alias(out))
    for out, c in (avgs or {}).items():
        aggs.append(F.avg(F.col(c)).alias(out))
        aggs.append(F.sum(F.col(c)).alias(f"{out}_sum"))
        aggs.append(F.count(F.col(c)).alias(f"{out}_cnt"))
    return aggs


def _fold_step(
    src: AcidTable,
    rt: AcidTable,
    app_id: str,
    changes_after,
    keys: list[str],
    sums: dict[str, str],
    **agg,
) -> tuple[int, int] | None:
    """The fold step of both maintainers (module docstring).
    ``changes_after(consumed)`` returns the change rows above the
    pinned offset and the last source version they reach, ``(changes,
    end)`` — ``changes`` None asks for a recompute at ``end`` — or None
    when there is nothing to fold. Returns ``(consumed, end)``."""
    rollup_v = rt.latest_version()
    consumed = rt.last_txn(app_id, version=rollup_v if rollup_v >= 0 else None)
    batch = changes_after(consumed)
    if batch is None:
        return None
    changes, end = batch
    aggs = _rollup_aggs(sums, **agg)
    if changes is None:
        refreshed = src.snapshot(version=end).groupBy(*keys).agg(*aggs)
    else:
        base = (
            rt.snapshot(version=rollup_v)
            if consumed >= 0
            else src.snapshot(version=end).limit(0).groupBy(*keys).agg(*aggs)
        )
        refreshed = src.fold_changes(base, changes, keys, sums, end=end, **agg)
    rt.overwrite(
        refreshed, txn={"app": app_id, "batch": end}, expected_version=rollup_v
    )
    return consumed, end


def maintain_rollup(
    spark: SparkSession,
    source_path: str,
    rollup_path: str,
    keys: list[str],
    sums: dict[str, str],
    checkpoint_dir: str,
    count_col: str | None = None,
    minmax: dict[str, tuple[str, str]] | None = None,
    avgs: dict[str, str] | None = None,
    app_id: str = "cdf_rollup",
    max_versions: int | None = None,
) -> int:
    """Drive the continuous-IVM loop ONE step: fold every unconsumed
    source commit into the materialized rollup, exactly once. Returns
    the number of source versions consumed (0 = caught up, or another
    maintainer committed first).

    Call it from a scheduler, a loop, or a foreachBatch trigger — the
    step is self-contained and restart-safe: the authoritative offset
    is ``rollup_table.last_txn(app_id)`` (committed atomically WITH
    the refreshed data), the follower's file checkpoint is just a
    hint, and a replayed or duplicated step folds nothing twice.

    First call bootstraps: an empty rollup table is seeded with the
    full aggregate of the source snapshot at ``latest`` (one
    recompute), stamped as having consumed everything up to it."""
    follower = CdfFollower(spark, source_path, checkpoint_dir)
    src = follower.table

    def changes_after(consumed: int):
        if consumed < 0:
            # bootstrap; an empty source waits: committing txn
            # batch=-1 would be indistinguishable from never-bootstrapped
            end = src.latest_version()
            return None if end < 0 else (None, end)
        # reconcile the hint with the authoritative offset (checkpoint
        # may be stale — lost file — or ahead — crash before the data
        # commit)
        if follower.last_consumed() != consumed:
            follower.commit(consumed)
        batch = follower.poll(max_versions=max_versions)
        return None if batch is None else (batch[0], batch[2])

    try:
        step = _fold_step(
            src, AcidTable(spark, rollup_path), app_id, changes_after,
            keys, sums, count_col=count_col, minmax=minmax, avgs=avgs,
        )
    except CommitConflict:
        # another maintainer committed after this step's pin; its
        # commit carries its own offset, so this step yields
        return 0
    if step is None:
        return 0
    consumed, end = step
    follower.commit(end)
    return end - consumed


def stream_maintain_rollup(
    spark: SparkSession,
    source_path: str,
    rollup_path: str,
    keys: list[str],
    sums: dict[str, str],
    checkpoint_dir: str,
    count_col: str | None = None,
    minmax: dict[str, tuple[str, str]] | None = None,
    avgs: dict[str, str] | None = None,
    app_id: str = "cdf_rollup_stream",
    starting_version: int = 0,
    trigger: dict | None = None,
):
    """:func:`maintain_rollup` as an ALWAYS-ON Structured Streaming
    pipeline: the ``acid_cdf`` source (sources/acid_cdf.py) owns
    triggers, offset checkpointing, replay and backpressure; each
    micro-batch of change rows goes through the same fold step. Returns
    the started :class:`~pyspark.sql.streaming.StreamingQuery` (default
    trigger ``availableNow`` — process everything pending, then stop;
    pass ``trigger={"processingTime": "10 seconds"}`` for always-on).

    Exactly-once, independent of Spark's offset log: the authoritative
    consumed-offset is ``rollup.last_txn(app_id)`` — the max source
    ``_commit_version`` folded so far. Each batch folds only rows
    above it, so a replayed batch (restart mid-fold) folds nothing
    twice, and even a LOST STREAMING CHECKPOINT — where Spark restarts
    batch ids from 0 and replays from ``starting_version`` — degrades
    to re-reading already-folded change files whose rows all filter
    out. A competing maintainer trips the pinned overwrite's
    CommitConflict and fails the query rather than double-folding.

    Bootstrap falls out of replay: from ``starting_version=0`` the
    first batch IS the table's whole history folded into an empty
    rollup — no separate recompute path. For a table with deep history
    point ``starting_version`` at a recent version and seed the rollup
    with one batch recompute stamped ``txn={"app": app_id, "batch":
    starting_version - 1}`` first. Every commit in range must be
    streamable: MERGE/DELETE/UPDATE written with ``cdf=True`` (see the
    ``acid_cdf`` limitations).

    Note: Python data sources don't implement Spark's
    SupportsTriggerAvailableNow, so ``availableNow`` falls back to
    single-batch execution (Spark warns). The fallback's documented
    caveat — a run resuming over an UNCOMMITTED batch processes only
    that batch — is harmless here: the next run (or the always-on
    trigger) picks up the rest, and the txn watermark keeps every
    path exactly-once."""
    from ..sources.acid_cdf import register_acid_cdf

    register_acid_cdf(spark)
    changes = (
        spark.readStream.format("acid_cdf")
        .option("path", source_path)
        .option("startingVersion", starting_version)
        .load()
    )

    def _fold(batch_df: DataFrame, batch_id: int) -> None:
        def rows_after(consumed: int):
            fresh = batch_df.filter(F.col("_commit_version") > consumed)
            hi = fresh.agg(F.max("_commit_version")).collect()[0][0]
            # None: the batch is fully below the folded offset (replay)
            return None if hi is None else (fresh, int(hi))

        # the offset max, the signed-delta fold and the MIN/MAX
        # touched-key frames each execute the batch plan, whose leaf
        # is the Python source: cache the KB-sized change set once
        # instead of re-reading it through a Python worker per use
        batch_df.persist()
        try:
            _fold_step(
                AcidTable(spark, source_path), AcidTable(spark, rollup_path),
                app_id, rows_after, keys, sums,
                count_col=count_col, minmax=minmax, avgs=avgs,
            )
        finally:
            batch_df.unpersist()

    writer = (
        changes.writeStream.foreachBatch(_fold)
        .option("checkpointLocation", checkpoint_dir)
    )
    trig = trigger if trigger is not None else {"availableNow": True}
    return writer.trigger(**trig).start()
