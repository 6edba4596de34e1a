"""``format("acid")`` — the commit-log ACID table as a REGISTERED Spark
batch source AND sink::

    register_acid_format(spark)
    df.write.format("acid").mode("append").save("/data/orders_acid")
    df.write.format("acid").mode("overwrite").save("/data/orders_acid")
    spark.read.format("acid").load("/data/orders_acid")          # latest
    spark.read.format("acid").option("version", 3).load(...)      # travel
    stream.writeStream.format("acid").option("checkpointLocation", c) \
        .start("/data/orders_acid")   # exactly-once streaming appends

This is the DataFrame-API reader and writer of the table that
:class:`~als_hadoop_spark.sources.acid.AcidTable` drives through its
Python API, as an idiomatic Spark format. The SQL front door
(:mod:`als_hadoop_spark.sql`) does not read through it: its
``acid.`path``` references are ``AcidTable.snapshot`` views, a JVM
parquet scan with column pruning. What this reader adds is planning-
time file skipping from the log's stats and blooms; its cost is that
every column of every planned row crosses a Python worker.

Why the DataSource WRITER API fits a log-commit table exactly: Spark's
commit protocol — executors each ``write()`` their partition and return
a picklable ``WriterCommitMessage``; the driver calls ``commit()`` with
ALL messages only if every task succeeded, else ``abort()`` — is
precisely the two-phase shape the ACID log needs. Executors write
parquet files STRAIGHT INTO the table directory (safe: files the log
does not name are invisible to every reader by construction,
sources/acid.py module docstring) and send back {file name, footer
stats}; the driver's ``commit()`` publishes them in ONE O_EXCL log
entry. A failed job leaves only unreferenced files for vacuum; there
is no torn state to clean.

Scale design:

- WRITE: data never moves after the task writes it — no staging
  rename pass, no driver IO; per-file [min, max] stats are computed
  executor-side from the in-memory Arrow table
  (``acid_log.write_data_file``) and travel in the commit message
  (KBs), so the log entry carries pruning stats with ZERO extra reads.
- READ: planning replays the log (KBs of JSON) and emits one
  InputPartition per live file that ``acid_log.prune_files`` keeps for
  the pushed =, IN, <, <=, >, >= filters — the same decision
  ``AcidTable.snapshot_where`` and MERGE make, triggered by an
  ordinary ``.filter()`` on the DataFrame (partial pushdown: Spark
  re-checks rows). The schema and each file's read are the shared
  ``acid_log.live_schema`` / ``acid_log.read_live_file`` (deletion
  vectors masked, per-file-epoch rename/drop/widen, INT96 typed
  TIMESTAMP), so columns, order, types and rows match
  ``AcidTable.snapshot``.
- IDEMPOTENT WRITES: ``.option("txnAppId", a).option("txnVersion", n)``
  stamps the commit (the Delta recipe); a replayed micro-batch whose
  (app, version) is already in the log SKIPS the commit and removes
  its orphaned files — exactly-once from an at-least-once caller.

Deliberate refusals (loud errors, never silent wrongness): writing to
a table with CHECK constraints (validation needs a Spark-side scan of
the staged rows — use ``AcidTable.append``, which validates before
publishing); ``mode("overwrite")`` racing a concurrent commit raises
CommitConflict (same contract as ``AcidTable.overwrite``).

By-value rule: the classes run in Python workers that may not have
this package on their path, so they are built inside
:func:`build_acid_format_source` (cloudpickle ships local classes by
value) and reach shared code ONLY through
:mod:`~als_hadoop_spark.sources.acid_log` — which imports nothing
from this package and is registered for pickling by value.
"""

from __future__ import annotations

from . import acid_log


def build_acid_format_source(with_pushdown: bool = True):
    """Return the AcidFormatSource class (module docstring: by-value
    rule). ``with_pushdown=False`` omits the ``pushFilters`` override
    for sessions where ``spark.sql.python.filterPushdown.enabled``
    cannot be turned on (Spark refuses a reader that declares pushdown
    while the flag is off — the sources/generator.py:47 precedent)."""
    from dataclasses import dataclass, field

    from pyspark.sql.datasource import (
        DataSource,
        DataSourceArrowWriter,
        DataSourceReader,
        EqualTo,
        GreaterThan,
        GreaterThanOrEqual,
        In,
        InputPartition,
        LessThan,
        LessThanOrEqual,
        WriterCommitMessage,
    )

    _PUSHED_OPS = {
        EqualTo: "=",
        In: "IN",
        LessThan: "<",
        LessThanOrEqual: "<=",
        GreaterThan: ">",
        GreaterThanOrEqual: ">=",
    }

    # ------------------------------------------------------- reader

    @dataclass
    class LiveFile(InputPartition):
        path: str | None  # absolute parquet path; None = planned-empty
        ops: tuple  # schema ops newer than this file, oldest first
        schema: object = field(default=None)  # target pa.Schema
        dv: tuple = ()  # absolute deletion-vector sidecar paths

    class AcidReader(DataSourceReader):
        def __init__(self, options, schema):
            from pyspark.sql.pandas.types import to_arrow_schema

            self.path = options.get("path")
            if not self.path:
                raise ValueError("acid format: option 'path' is required")
            v = options.get("version")
            self.version = int(v) if v is not None else None
            self._arrow_schema = to_arrow_schema(schema)
            self._conjuncts: list = []  # (column, op, value)

        def _push_filters(self, filters):
            """Collect each single-column comparison as a conjunct for
            :func:`~als_hadoop_spark.sources.acid_log.prune_files` and
            yield every filter back: files are pruned at planning time,
            Spark still re-checks every row."""
            for f in filters:
                attr = getattr(f, "attribute", None)
                op = _PUSHED_OPS.get(type(f))
                if op and isinstance(attr, tuple) and len(attr) == 1:
                    self._conjuncts.append((attr[0], op, f.value))
                yield f

        def partitions(self):
            import os

            st = acid_log.replay(self.path, self.version)
            parts = []
            for fname in acid_log.prune_files(st, self._conjuncts):
                ap, ops, dv = acid_log.live_file(self.path, st, fname)
                if not os.path.exists(ap):
                    raise ValueError(
                        f"acid format: live file {fname} was vacuumed "
                        "away — the table is damaged below the vacuum "
                        "horizon"
                    )
                parts.append(LiveFile(ap, ops, self._arrow_schema, dv))
            # Spark requires >= 1 partition; an empty table (or a fully
            # pruned scan) yields a zero-row partition
            return parts or [LiveFile(None, (), self._arrow_schema)]

        def read(self, partition):
            yield from acid_log.read_live_file(
                partition.path, partition.schema, partition.ops, partition.dv
            ).to_batches()

    if with_pushdown:
        AcidReader.pushFilters = AcidReader._push_filters

    # ------------------------------------------------------- writer

    @dataclass
    class AddFiles(WriterCommitMessage):
        #: tuple of {"path": rel name, "stats": {col: [mn, mx]},
        #: "partition": {col: value} (partitioned writes only)} — one
        #: task may stage several files when ``partitionBy`` splits its
        #: rows across partition values
        files: tuple

    class AcidWriter(DataSourceArrowWriter):
        def __init__(self, options, overwrite: bool):
            self.path = options.get("path")
            if not self.path:
                raise ValueError("acid format: option 'path' is required")
            self.overwrite = overwrite
            app = options.get("txnappid") or options.get("txnAppId")
            ver = options.get("txnversion") or options.get("txnVersion")
            self.txn = (
                {"app": app, "batch": int(ver)}
                if app is not None and ver is not None
                else None
            )
            pb = options.get("partitionby") or options.get("partitionBy")
            self.partition_cols = (
                [c.strip() for c in pb.split(",") if c.strip()] if pb else []
            )
            bf = options.get("bloomfiltercolumns") or options.get(
                "bloomFilterColumns"
            )
            self.bloom_cols = (
                [c.strip() for c in bf.split(",") if c.strip()] if bf else []
            )

        def write(self, iterator):
            """Stage this task's rows as parquet in the table dir
            (unreferenced → invisible until commit). With
            ``partitionBy``, the task splits its rows BY PARTITION
            VALUE and writes one file per value under a ``col=value/``
            dir — the invariant partition elimination relies on (a
            partitioned file holds rows of exactly one value combo) is
            established here, executor-side, with Arrow compute; the
            exact values ride the commit message alongside the stats."""
            import os
            import uuid

            import pyarrow as pa
            import pyarrow.compute as pc

            batches = [b for b in iterator if b.num_rows]
            if not batches:
                return AddFiles(())  # empty task: nothing staged
            tbl = pa.Table.from_batches(batches)
            os.makedirs(self.path, exist_ok=True)
            if not self.partition_cols:
                name = f"w-{uuid.uuid4().hex}.parquet"
                stats = acid_log.write_data_file(
                    tbl, os.path.join(self.path, name)
                )
                add = {"path": name, "stats": stats}
                if self.bloom_cols:
                    blooms = acid_log.blooms_of(tbl, self.bloom_cols)
                    if blooms:
                        add["bloom"] = blooms
                return AddFiles((add,))
            missing = [
                c for c in self.partition_cols if c not in tbl.column_names
            ]
            if missing:
                raise ValueError(
                    f"acid format: partitionBy column(s) {missing} not "
                    "in the written schema"
                )
            for c in self.partition_cols:
                t = tbl.schema.field(c).type
                if not (
                    pa.types.is_integer(t)
                    or pa.types.is_string(t)
                    or pa.types.is_boolean(t)
                ):
                    raise ValueError(
                        f"acid format: partitionBy column {c!r} has "
                        f"type {t} — partition keys must be "
                        "int/string/bool (float keys don't compare "
                        "exactly; dates: partition on a string/int "
                        "derivation)"
                    )
            combos = (
                tbl.group_by(self.partition_cols).aggregate([]).to_pylist()
            )
            if len(combos) > 1024:
                # a near-unique partition key turns the table into
                # millions of single-row files/dirs — the classic
                # lakehouse over-partitioning failure. Refuse loudly
                # (per task, so the bound scales with parallelism, not
                # table size); high-cardinality clustering belongs to
                # OPTIMIZE cluster_by/zorder_by, not the directory tree.
                raise ValueError(
                    f"acid format: this task's rows span {len(combos)} "
                    "distinct partition values (> 1024) — the "
                    "partitionBy key is too fine-grained; partition on "
                    "a coarser derivation (date, tenant, bucket) and "
                    "use OPTIMIZE cluster_by for in-file ordering"
                )
            files = []
            for combo in combos:
                mask = None
                for c in self.partition_cols:
                    v = combo[c]
                    col = tbl.column(c)
                    m = (
                        pc.is_null(col)
                        if v is None
                        else pc.equal(col, pa.scalar(v, col.type))
                    )
                    mask = m if mask is None else pc.and_(mask, m)
                part_tbl = tbl.filter(mask)
                seg = "/".join(
                    acid_log.part_segment(c, combo[c]) for c in self.partition_cols
                )
                os.makedirs(os.path.join(self.path, seg), exist_ok=True)
                name = f"{seg}/w-{uuid.uuid4().hex}.parquet"
                stats = acid_log.write_data_file(
                    part_tbl, os.path.join(self.path, name)
                )
                add = {
                    "path": name,
                    "stats": stats,
                    "partition": {c: combo[c] for c in self.partition_cols},
                }
                if self.bloom_cols:
                    blooms = acid_log.blooms_of(part_tbl, self.bloom_cols)
                    if blooms:
                        add["bloom"] = blooms
                files.append(add)
            return AddFiles(tuple(files))

        def _cleanup(self, messages):
            import os

            for m in messages:
                if m is None:
                    continue
                for f in m.files:
                    try:
                        os.remove(os.path.join(self.path, f["path"]))
                    except OSError:
                        pass

        def commit(self, messages):
            """Publish the staged files as one log entry
            (``acid_log.publish``).

            No TOCTOU between state and version: the base version is
            pinned FIRST and the table state replayed AT that base, so
            a commit landing between the two reads collides at the
            ``base+1`` publish and flows through the conflict/rebase
            path instead of silently being folded into a stale snapshot
            (an overwrite must remove exactly the files live at its
            base; a rebasing append must see any interleaved CHECK
            constraint / txn watermark). Same ordering inside the retry
            arm."""
            import random
            import time

            adds = [
                dict(f) for m in messages if m is not None for f in m.files
            ]
            base = max(acid_log.versions(self.path), default=-1)
            st = acid_log.replay(self.path, base)
            for attempt in range(25):
                if st["constraints"]:
                    self._cleanup(messages)
                    raise ValueError(
                        "acid format: table has CHECK constraints "
                        f"({sorted(st['constraints'])}); the format "
                        "writer cannot validate rows at commit time — "
                        "write through AcidTable.append, which "
                        "validates before publishing"
                    ) from None
                if self.txn is not None and st["txns"].get(
                    self.txn["app"], -1
                ) >= int(self.txn["batch"]):
                    # idempotent replay: this (app, batch) committed
                    self._cleanup(messages)
                    return
                if self.overwrite:
                    entry = {
                        "operation": "overwrite",
                        "add": adds,
                        "remove": sorted(st["live"]),
                    }
                else:
                    entry = {"operation": "append", "add": adds}
                if self.txn is not None:
                    entry["txn"] = self.txn
                if acid_log.publish(self.path, base + 1, entry):
                    return
                if self.overwrite:
                    self._cleanup(messages)
                    raise RuntimeError(
                        "acid format: CommitConflict — table changed "
                        "during overwrite; re-run on the new state"
                    )
                # blind append: rebase onto the new head — pin it first
                # (no-TOCTOU ordering), then fold ONLY the interleaved
                # entries into the held state. A full replay per retry
                # livelocks under load: O(log) re-reads widen the race
                # window as the log grows. Incremental fold + jittered
                # backoff keeps each retry O(interleaved commits).
                new_base = max(acid_log.versions(self.path), default=-1)
                for iv in range(base + 1, new_base + 1):
                    acid_log.apply_entry(
                        st, iv, acid_log.read_entry(self.path, iv)
                    )
                base = new_base
                time.sleep(random.random() * 0.002 * (attempt + 1))
            self._cleanup(messages)
            raise RuntimeError(
                "acid format: append lost 25 commit races; retry"
            )

        def abort(self, messages):
            self._cleanup(messages)

    # ------------------------------------------------ streaming sink

    from pyspark.sql.datasource import DataSourceStreamArrowWriter

    class AcidStreamWriter(DataSourceStreamArrowWriter):
        """``writeStream.format("acid")`` — EXACTLY-ONCE streaming
        appends: each micro-batch commits as one log entry stamped
        ``txn={app, batch: batchId}`` (``.option("txnAppId", ...)``,
        default ``acid_stream_sink``). Spark hands ``commit`` the
        batchId, so a replayed micro-batch (restart, retry) finds its
        (app, batch) already in the log, skips the commit, and removes
        its orphaned files — the streaming/acid_ingest.py recipe as a
        REGISTERED sink. Append output mode only: the log is the
        truncation mechanism, not per-batch overwrite."""

        def __init__(self, options, overwrite: bool):
            if overwrite:
                raise ValueError(
                    "acid format: streaming sink supports APPEND output "
                    "mode only (complete/update would truncate the log "
                    "every batch — materialize through maintain_rollup "
                    "instead)"
                )
            self._inner = AcidWriter(options, overwrite=False)
            self._app = (
                options.get("txnappid")
                or options.get("txnAppId")
                or "acid_stream_sink"
            )

        def write(self, iterator):
            return self._inner.write(iterator)

        def commit(self, messages, batchId):
            self._inner.txn = {"app": self._app, "batch": int(batchId)}
            self._inner.commit(messages)

        def abort(self, messages, batchId):
            self._inner.abort(messages)

    # ------------------------------------------------------- source

    class AcidFormatSource(DataSource):
        """``spark.read/write.format("acid")`` — module docstring."""

        @classmethod
        def name(cls) -> str:
            return "acid"

        def schema(self):
            path = self.options.get("path")
            if not path:
                raise ValueError("acid format: option 'path' is required")
            v = self.options.get("version")
            st = acid_log.replay(path, int(v) if v is not None else None)
            return acid_log.live_schema(path, st)

        def reader(self, schema) -> DataSourceReader:
            return AcidReader(self.options, schema)

        def writer(self, schema, overwrite: bool):
            return AcidWriter(self.options, overwrite)

        def streamWriter(self, schema, overwrite: bool):
            return AcidStreamWriter(self.options, overwrite)

    return AcidFormatSource


def register_acid_format(spark) -> None:
    """Register the transactional table under format name ``acid``,
    enabling Python-source filter pushdown when the session permits
    (without it, reads are identical — only log-stats file pruning at
    planning time is lost)."""
    from pyspark import cloudpickle

    cloudpickle.register_pickle_by_value(acid_log)
    conf = "spark.sql.python.filterPushdown.enabled"
    try:
        spark.conf.set(conf, "true")
        pushdown = True
    except Exception:
        pushdown = spark.conf.get(conf, "false") == "true"
    spark.dataSource.register(build_acid_format_source(pushdown))
