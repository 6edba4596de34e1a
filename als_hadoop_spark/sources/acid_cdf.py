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
- READ (executor): each partition reads its one parquet file with
  pyarrow, stamps ``_change_type`` / ``_commit_version``, and aligns to
  the stream schema (missing columns → NULL, additive widening → cast)
  — Arrow batches end-to-end, no Python rows.
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
:mod:`~als_hadoop_spark.sources.acid_log` — which imports only the
standard library and pyarrow and is registered for pickling by value.
"""

from __future__ import annotations

from . import acid_log

#: extra columns every change row carries (Delta CDF naming)
CDF_COLS = (("_change_type", "string"), ("_commit_version", "bigint"))


def build_acid_cdf_source():
    """Return the AcidCdfSource class (module docstring: by-value
    rule)."""
    from dataclasses import dataclass, field

    import pyarrow as pa
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
                for rel, tag in files:
                    ap = os.path.join(self.path, rel)
                    if not os.path.exists(ap):
                        raise ValueError(
                            f"acid_cdf: change file {rel} of version "
                            f"{v} was vacuumed away — restart above "
                            "the vacuum horizon"
                        )
                    parts.append(ChangeFile(ap, tag, v, self._schema))
            return parts or [ChangeFile(None, None, -1, self._schema)]

        def read(self, partition):
            import pyarrow as pa
            import pyarrow.parquet as pq

            target: pa.Schema = partition.schema
            if partition.path is None:  # planned-empty range
                yield pa.RecordBatch.from_arrays(
                    [pa.nulls(0, f.type) for f in target],
                    schema=target,
                )
                return
            tbl = pq.read_table(partition.path)
            n = tbl.num_rows
            cols = []
            for f in target:
                if f.name == "_commit_version":
                    cols.append(
                        pa.array([partition.version] * n, pa.int64())
                    )
                elif f.name == "_change_type" and (
                    f.name not in tbl.column_names
                ):
                    cols.append(pa.array([partition.tag] * n, pa.string()))
                elif f.name in tbl.column_names:
                    # additive widening: cast the file's physical type
                    # to the stream's (int→bigint, float→double)
                    cols.append(tbl.column(f.name).cast(f.type))
                else:
                    # column added to the table after this file: NULL
                    cols.append(pa.nulls(n, f.type))
            yield from pa.Table.from_arrays(cols, schema=target).to_batches()

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
            # table columns (unified across live files' footers — the
            # additive-widening read) + the two CDF columns; driver-side
            # metadata reads only
            import os

            import pyarrow.parquet as pq
            from pyspark.sql.pandas.types import from_arrow_schema

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
            if not st["live"]:
                raise ValueError(
                    "acid_cdf: table has no live data to derive a "
                    "schema from — start the stream after the first "
                    "commit or pass .schema(...) explicitly"
                )
            footers = [
                pq.read_schema(os.path.join(path, f))
                for f in sorted(st["live"])
            ]
            unified = pa.unify_schemas(footers, promote_options="permissive")
            fields = [f for f in unified if f.name != "_change_type"]
            # prefer_timestamp_ntz: same NTZ round-trip contract as the
            # acid format reader (naive footer time ≠ UTC instant)
            struct = from_arrow_schema(
                pa.schema(fields), prefer_timestamp_ntz=True
            )
            ddl = ", ".join(
                f"{f.name} {f.dataType.simpleString()}" for f in struct.fields
            )
            cdf = ", ".join(f"{name} {typ}" for name, typ in CDF_COLS)
            return f"{ddl}, {cdf}"

        def streamReader(self, schema) -> DataSourceStreamReader:
            return AcidCdfStreamReader(self.options, schema)

    return AcidCdfSource


def register_acid_cdf(spark) -> None:
    """Register the change-feed stream source under format name
    ``acid_cdf`` (idempotent — re-registration replaces)."""
    from pyspark import cloudpickle

    cloudpickle.register_pickle_by_value(acid_log)
    spark.dataSource.register(build_acid_cdf_source())
