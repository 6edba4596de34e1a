"""``acid_cdf`` — the commit-log ACID table's change feed as a REAL
Structured Streaming source::

    register_acid_cdf(spark)
    changes = (spark.readStream.format("acid_cdf")
               .option("path", "/data/orders_acid")
               .option("startingVersion", 0)
               .load())
    # schema: <table columns> + _change_type STRING + _commit_version BIGINT

Triggers, offset checkpointing, replay and backpressure belong to
Structured Streaming itself — the same move Delta makes with
``spark.readStream.format("delta").option("readChangeFeed", "true")``
(public Delta CDF docs). The offset IS the table's log version, the
pattern of the repo's generator source (sources/generator.py:171 —
initialOffset / latestOffset / offset-ranged deterministic partitions).

Scale design:

- PLANNING (driver): ``partitions(start, end)`` reads ONLY the commit
  JSONs in ``(start, end]`` — KBs per version, never data — and emits
  one ``InputPartition`` PER CHANGE FILE, so a commit that touched 400
  files fans out as 400 executor tasks like any parquet scan.
- READ (executor): each partition reads its one parquet file through
  the shared ``acid_log.read_live_file`` (as ``format("acid")`` does:
  deletion-vector positions masked, INT96 typed TIMESTAMP, missing
  columns NULL, additive widening cast) and stamps ``_change_type`` /
  ``_commit_version`` — Arrow batches end-to-end, no Python rows. A
  removed file is read as it stood at the version before: masked by
  the deletion vectors it carried there.
- REPLAY: commit JSONs and staged data files are immutable, so
  ``partitions(start, end)`` is deterministic — a failed or restarted
  micro-batch re-reads exactly its bytes (the exactly-once source
  contract; the sink side is ``stream_maintain_rollup``'s txn-stamped
  fold).
- CHANGE DERIVATION is file-local by construction, per the commit
  kind ``acid_log.change_files`` gives (as for ``table_changes``):
  append → added files tagged ``insert``; overwrite → removed files
  tagged ``delete`` plus added files tagged ``insert``; a write with
  ``cdf=True`` → its ``_acid_cdc/`` sidecar (precise pre/post images).

Limitations (all raise loudly at planning, never wrong answers):

- a MERGE/DELETE/UPDATE committed WITHOUT ``cdf=True``, copy-on-write
  or deletion-vector: its changes are a multiset diff across files, so
  planning raises and names the fix (Delta likewise requires
  ``delta.enableChangeDataFeed`` at write time);
- schema-op commits (rename/drop/widen) in the streamed range require
  a stream restart (Delta parity);
- change files vacuumed below the retention horizon;
- log versions cleaned below ``startingVersion``.

By-value rule: the classes run in Python workers that may not have
this package on their path, so they are built inside
:func:`build_acid_cdf_source` (cloudpickle ships local classes by
value) and reach shared code ONLY through
:mod:`~als_hadoop_spark.sources.acid_log` — which imports nothing
from this package and is registered for pickling by value.
"""

from __future__ import annotations

from . import acid_log

def build_acid_cdf_source():
    """Return the AcidCdfSource class (module docstring: by-value
    rule)."""
    from dataclasses import dataclass, field

    from pyspark.sql.datasource import (
        DataSource,
        DataSourceStreamReader,
        InputPartition,
    )

    @dataclass
    class ChangeFile(InputPartition):
        path: str | None  # absolute parquet path; None = planned-empty
        tag: str | None  # insert/delete, or None (file carries the tag)
        version: int
        schema: object = field(default=None)  # pa.Schema of the stream
        dv: tuple = ()  # absolute deletion-vector sidecar paths

    class AcidCdfStreamReader(DataSourceStreamReader):
        def __init__(self, options, schema):
            from pyspark.sql.pandas.types import to_arrow_schema

            self.path = options.get("path")
            if not self.path:
                raise ValueError("acid_cdf: option 'path' is required")
            self.starting = int(options.get("startingVersion", 0))
            #: per-batch version cap: pyspark's
            #: DataSourceStreamReader lacks SupportsTriggerAvailableNow
            #: AND ReadLimit, so Trigger.AvailableNow falls back to ONE
            #: batch over everything available — a month-long backlog
            #: becomes one giant batch. latestOffset() therefore admits
            #: at most this many versions past the highest offset the
            #: runtime has shown us (Spark re-plans the checkpointed
            #: batch via partitions() BEFORE asking latestOffset on a
            #: restart — probed behavior, gated in
            #: tests/test_streaming.py — so the floor is always known
            #: when it matters). A backlog of N commits drains in
            #: ceil(N/cap) AvailableNow runs, each exactly-once.
            self.max_versions = int(
                options.get("maxversionsperbatch")
                or options.get("maxVersionsPerBatch")
                or 256
            )
            if self.max_versions < 1:
                raise ValueError(
                    "acid_cdf: maxVersionsPerBatch must be >= 1"
                )
            #: highest offset version the runtime has revealed —
            #: through partitions() (planning/replay) or commit()
            self._floor: int | None = None
            self._schema = to_arrow_schema(schema)
            #: highest version verified schema-op-free (schema ops are
            #: append-only facts: once commits <= N are known clean,
            #: the next batch scans only (N, hi] — without this the
            #: guard re-read EVERY retained commit JSON per micro-batch,
            #: O(total commits) small-file reads on long-lived tables).
            #: None = the full check (incl. checkpoint) hasn't run yet.
            self._clean_upto: int | None = None
            #: bounded memo of parsed commit entries (immutable JSONs);
            #: the guard and the partition loop share reads through it
            self._entries: dict[int, dict] = {}

        def _entry_cached(self, v: int) -> dict:
            hit = self._entries.get(v)
            if hit is None:
                hit = acid_log.read_entry(self.path, v)
                if len(self._entries) >= 4096:
                    for k in list(self._entries)[:1024]:
                        del self._entries[k]
                self._entries[v] = hit
            return hit

        def initialOffset(self) -> dict:
            return {"version": self.starting - 1}

        def latestOffset(self) -> dict:
            vs = acid_log.versions(self.path)
            head = vs[-1] if vs else self.starting - 1
            floor = (
                self._floor if self._floor is not None else self.starting - 1
            )
            return {"version": min(head, floor + self.max_versions)}

        def partitions(self, start: dict, end: dict):
            import os

            lo, hi = int(start["version"]), int(end["version"])
            # the runtime's start/end are authoritative — ratchet the
            # admission floor so the NEXT latestOffset caps relative to
            # real progress (incl. a restart's re-planned batch)
            known = max(lo, hi)
            if self._floor is None or known > self._floor:
                self._floor = known
            retained = set(acid_log.versions(self.path))
            missing = [v for v in range(lo + 1, hi + 1) if v not in retained]
            if missing:
                raise ValueError(
                    f"acid_cdf: commit JSON(s) {missing[:5]} in range "
                    f"({lo}, {hi}] are below the retained-log horizon "
                    "(cleanup_log removed them) — restart the stream "
                    "with a higher startingVersion"
                )
            # refuse schema-evolved tables at PLANNING even when the
            # user supplied an explicit schema (bypassing schema()'s
            # own refusal): an overwrite in range can remove files
            # written before a rename, and aligning their OLD physical
            # names to the stream schema would silently emit NULL
            # columns — wrong rows, not an error. AcidTable's
            # table_changes applies per-file-epoch schema ops; this
            # source refuses until it does the same.
            if self._clean_upto is None:
                # first batch: the replayed state, so schema ops a
                # cleaned prefix left only in the checkpoint count. The
                # target is at least the pointer's checkpoint — the
                # missing-version check above proved (lo, hi] retained,
                # but a prefix cleaned at an OLDER checkpoint leaves no
                # full replay to any hi below the pointer.
                cp = acid_log.read_last_checkpoint(self.path)
                target = hi if cp is None else max(hi, cp)
                evolved = bool(
                    acid_log.replay(self.path, target, self._entry_cached)[
                        "schema_ops"
                    ]
                )
            else:
                # later batches: commits <= _clean_upto are known clean
                evolved = any(
                    self._clean_upto < v <= hi
                    and self._entry_cached(v).get("schema_op")
                    for v in retained
                )
            if evolved:
                raise ValueError(
                    "acid_cdf: table has schema-change commits — "
                    "streaming reads of schema-evolved tables are not "
                    "supported (aligning pre-rename files to the stream "
                    "schema would silently NULL their columns); use "
                    "AcidTable.table_changes (per-file-epoch mapping) "
                    "or restart after compacting with OPTIMIZE so files "
                    "carry current names"
                )
            self._clean_upto = max(self._clean_upto or -1, hi)
            parts: list[ChangeFile] = []
            # the table at version `at`: replayed for the first commit
            # that removes files, then folded forward — one replay per
            # batch, for the masks removed files carried at v-1
            state = at = None
            for v in range(lo + 1, hi + 1):
                e = self._entry_cached(v)
                kind, files, _ = acid_log.change_files(e)
                if kind == "diff":
                    raise ValueError(
                        f"acid_cdf: version {v} is a {e.get('operation')} "
                        "committed without a CDC sidecar — its change set "
                        "is a cross-file multiset diff, which a streaming "
                        "file read cannot express. Write MERGE/DELETE/"
                        "UPDATE with cdf=True to stream this table."
                    )
                if any(tag == "delete" for _, tag in files):
                    if state is None:
                        at = v - 1
                        state = acid_log.replay(self.path, at, self._entry_cached)
                    for at in range(at + 1, v):  # leaves at == v - 1
                        acid_log.apply_entry(state, at, self._entry_cached(at))
                for rel, tag in files:
                    ap = os.path.join(self.path, rel)
                    if not os.path.exists(ap):
                        raise ValueError(
                            f"acid_cdf: change file {rel} of version "
                            f"{v} was vacuumed away — restart above "
                            "the vacuum horizon"
                        )
                    dv = (
                        acid_log.live_file(self.path, state, rel)[2]
                        if tag == "delete"
                        else ()
                    )
                    parts.append(ChangeFile(ap, tag, v, self._schema, dv))
            return parts or [ChangeFile(None, None, -1, self._schema)]

        def read(self, partition):
            import pyarrow as pa
            import pyarrow.compute as pc

            tbl = acid_log.read_live_file(
                partition.path, partition.schema, dv=partition.dv
            )
            cols = []
            for f, col in zip(tbl.schema, tbl.columns):
                if f.name == "_commit_version":
                    col = pa.repeat(pa.scalar(partition.version, f.type), len(col))
                elif f.name == "_change_type":
                    # a file's own change type (a CDC sidecar's) wins
                    col = pc.fill_null(col, pa.scalar(partition.tag, f.type))
                cols.append(col)
            yield from pa.Table.from_arrays(cols, schema=tbl.schema).to_batches()

        def commit(self, end: dict) -> None:
            # log JSONs/data files are immutable; nothing to free —
            # but the committed offset is floor knowledge
            v = int(end.get("version", -1))
            if self._floor is None or v > self._floor:
                self._floor = v

    class AcidCdfSource(DataSource):
        """``spark.readStream.format("acid_cdf")`` — module docstring."""

        @classmethod
        def name(cls) -> str:
            return "acid_cdf"

        def schema(self):
            # the table columns (acid_log.live_schema, as format("acid")
            # types them) + the two CDF columns; driver-side metadata
            # reads only
            from pyspark.sql.types import (
                LongType,
                StringType,
                StructField,
                StructType,
            )

            path = self.options.get("path")
            if not path:
                raise ValueError("acid_cdf: option 'path' is required")
            st = acid_log.replay(path)
            if st["schema_ops"]:
                raise ValueError(
                    "acid_cdf: table has schema-op commits (rename/"
                    "drop/widen) — pass an explicit schema via "
                    ".schema(...) matching snapshot() at the latest "
                    "version"
                )
            table = acid_log.live_schema(path, st)
            return StructType(
                [f for f in table.fields if f.name != "_change_type"]
                + [
                    StructField("_change_type", StringType()),
                    StructField("_commit_version", LongType()),
                ]
            )

        def streamReader(self, schema) -> DataSourceStreamReader:
            return AcidCdfStreamReader(self.options, schema)

    return AcidCdfSource


def register_acid_cdf(spark) -> None:
    """Register the change-feed stream source under format name
    ``acid_cdf`` (idempotent — re-registration replaces)."""
    from pyspark import cloudpickle

    cloudpickle.register_pickle_by_value(acid_log)
    spark.dataSource.register(build_acid_cdf_source())
