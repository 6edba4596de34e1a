"""The commit-log protocol of the ACID table — the one definition of the
on-disk format that :class:`~als_hadoop_spark.sources.acid.AcidTable`,
``format("acid")`` and the ``acid_cdf`` stream source all read and
write (the Delta log protocol, Armbrust et al., VLDB 2020, reduced to
its core):

- ``_acid_log/<version:010d>.json`` — one immutable commit entry per
  version (add / remove / dv / cdc / schema_op / constraint /
  properties / txn actions), published with create-if-absent
  exclusivity by :func:`publish`;
- ``_acid_log/<version:010d>.checkpoint.json`` — the fully replayed
  state at ``version``, and ``_acid_log/_last_checkpoint`` pointing at
  the newest one; :func:`replay` loads it and folds only the suffix.

It also holds the one file-skipping decision: the producers of each
add-action's ``stats`` (:func:`footer_stats`, :func:`table_stats`) and
blooms, and :func:`prune_files`, the only code that relies on what
they promise.

And the one Arrow read of a live file that ``format("acid")`` and the
``acid_cdf`` stream share: :func:`live_schema` (the Spark schema of a
state's live files) and :func:`read_live_file` (one file, its
deletion-vector positions masked, aligned to that schema).

This module imports only the standard library at module level and
pyarrow inside its functions; :func:`live_schema` also imports
pyspark's type converters, and :func:`read_live_file` numpy. The
source factories register it for cloudpickle's pickling BY VALUE: the
Python DataSource classes reach it from Python workers that do not
have this package on their path (they do have pyspark).
"""

import json
import math
import os
import time
import uuid

_LOG_DIR = "_acid_log"
_LAST_CHECKPOINT = "_last_checkpoint"
_CHECKPOINT_SUFFIX = ".checkpoint.json"

#: Bloom parameters: ~10 bits/value at k=7 gives ~1% fpp; the per-file
#: bitset is capped at 64 Kbit (8 KB raw, ~11 KB base64 in the commit
#: JSON) — past ~6.5 K distinct values the fpp degrades gracefully
#: instead of the log entry growing unboundedly.
_BLOOM_K = 7
_BLOOM_BITS_PER_VALUE = 10
_BLOOM_MAX_BITS = 1 << 16


# ------------------------------------------------------------- layout


def log_dir(path: str) -> str:
    return os.path.join(path, _LOG_DIR)


def entry_path(path: str, version: int) -> str:
    return os.path.join(path, _LOG_DIR, f"{version:010d}.json")


def _checkpoint_path(path: str, version: int) -> str:
    return os.path.join(path, _LOG_DIR, f"{version:010d}{_CHECKPOINT_SUFFIX}")


def versions(path: str) -> list[int]:
    """Retained commit versions, ascending (checkpoints and in-flight
    ``.tmp`` publishes excluded)."""
    d = log_dir(path)
    if not os.path.isdir(d):
        return []
    return sorted(
        int(n[:-5])
        for n in os.listdir(d)
        if n.endswith(".json")
        and not n.endswith(_CHECKPOINT_SUFFIX)
        and n[:-5].isdigit()
    )


def read_entry(path: str, version: int) -> dict:
    """Parsed commit entry, with a bounded retry on a torn/empty file.
    Entries published by :func:`publish` are complete the instant they
    are visible, so the retry only fires against a writer that creates
    and then writes the file; ~0.5 s outlasts any in-flight dump of a
    KB-sized entry, after which the parse error propagates."""
    p = entry_path(path, version)
    for attempt in range(50):
        try:
            with open(p) as f:
                return json.load(f)
        except json.JSONDecodeError:
            if attempt == 49:
                raise
            time.sleep(0.01)


def read_last_checkpoint(path: str) -> int | None:
    """Version the ``_last_checkpoint`` pointer names, or None."""
    try:
        with open(os.path.join(path, _LOG_DIR, _LAST_CHECKPOINT)) as f:
            return int(json.load(f)["version"])
    except (OSError, ValueError, KeyError):
        return None


def _replace_json(dest: str, obj: dict) -> None:
    tmp = dest + f".tmp-{uuid.uuid4().hex[:8]}"
    with open(tmp, "w") as f:
        json.dump(obj, f)
    os.replace(tmp, dest)


def write_checkpoint(path: str, version: int, state: dict) -> None:
    """Write the checkpoint at ``version`` and move the pointer to it
    (forward only). Both writes are tmp + rename: atomic, and
    idempotent because the state at a fixed version is immutable."""
    _replace_json(
        _checkpoint_path(path, version), {"version": version, "state": state}
    )
    prev = read_last_checkpoint(path)
    if prev is None or prev < version:
        _replace_json(
            os.path.join(path, _LOG_DIR, _LAST_CHECKPOINT),
            {"version": version},
        )


def publish(path: str, version: int, entry: dict) -> bool:
    """Atomically create the commit entry for ``version``; False if a
    concurrent writer claimed the version first.

    tmp-write + fsync + ``os.link``: link(2) gives the same EEXIST
    exclusivity as O_CREAT|O_EXCL, and the visible ``<version>.json`` is
    complete from the instant it exists — create-then-write lets a
    concurrent reader parse an empty entry. The tmp name does not end in
    ``.json``, so :func:`versions` never lists it."""
    d = log_dir(path)
    os.makedirs(d, exist_ok=True)
    # strict JSON (RFC 8259): a NaN or infinity raises before any file
    body = json.dumps({"version": version, **entry}, allow_nan=False)
    tmp = os.path.join(d, f".commit-{uuid.uuid4().hex}.tmp")
    with open(tmp, "w") as f:
        f.write(body)
        f.flush()
        os.fsync(f.fileno())
    try:
        os.link(tmp, entry_path(path, version))
    except FileExistsError:
        return False
    finally:
        os.unlink(tmp)
    return True


# ------------------------------------------------------------- replay


def empty_state() -> dict:
    return {
        "live": {},
        "schema_ops": [],
        "constraints": {},
        "txns": {},
        "props": {},
    }


def apply_entry(state: dict, version: int, entry: dict) -> None:
    """Fold one commit entry into a replayed state in place. ``live``
    maps each live file to ``{stats, added, [schema], [partition],
    [bloom], [dv]}``."""
    live = state["live"]
    for p in entry.get("remove", []):
        live.pop(p, None)
    for a in entry.get("add", []):
        act = {"stats": a.get("stats") or {}, "added": version}
        for k in ("schema", "partition", "bloom"):
            if a.get(k):
                act[k] = a[k]
        if a.get("dv"):
            # a RESTORE/CLONE re-add carries the deletion-vector refs
            # of the state it reproduces
            act["dv"] = list(a["dv"])
        live[a["path"]] = act
    dv = entry.get("dv")
    if dv:
        # attach the commit's sidecar(s) to every file it masks rows
        # of — a sidecar's rows for OTHER files match no basename of a
        # pruned scan, so per-file slicing is not needed
        for f in dv.get("files", {}):
            act = live.get(f)
            if act is not None:
                act["dv"] = sorted(
                    set(act.get("dv", ())) | set(dv.get("sidecars", ()))
                )
    c = entry.get("constraint")
    if c:
        state["constraints"][c["name"]] = c["expr"]
    props = list(entry.get("properties", ()))
    if entry.get("property"):  # single-pair shape of older logs
        props.insert(0, entry["property"])
    for prop in props:
        state["props"][prop["key"]] = prop["value"]
    op = entry.get("schema_op")
    if op:
        state["schema_ops"].append({"v": version, **op})
    txn = entry.get("txn")
    if txn and "app" in txn:
        app = txn["app"]
        state["txns"][app] = max(
            int(state["txns"].get(app, -1)), int(txn.get("batch", -1))
        )


def replay(path: str, version: int | None = None, read=None) -> dict:
    """Table state at ``version`` (default latest): the newest
    checkpoint at-or-below it plus the log suffix. ``read(v)`` returns
    the parsed entry at ``v`` (default :func:`read_entry`; callers pass
    their caching readers).

    Raises ValueError instead of returning partial state when the
    needed log is gone: the version predates the retained log, a
    commit in the replay range is missing, or the range is not
    contiguous. A gap right after a stale ``_last_checkpoint`` (a
    concurrent ``cleanup_log`` moved it) re-reads the pointer once."""
    read = read or (lambda v: read_entry(path, v))
    vs = versions(path)
    target = version if version is not None else (vs[-1] if vs else -1)
    if target < 0:
        return empty_state()
    for attempt in range(2):
        state, start = empty_state(), 0
        cp = read_last_checkpoint(path)
        if cp is not None and cp <= target:
            try:
                with open(_checkpoint_path(path, cp)) as f:
                    state = {**state, **json.load(f)["state"]}
                start = cp + 1
            except (OSError, KeyError, ValueError):
                pass  # corrupt/missing checkpoint: full replay
        if start == 0 and vs and vs[0] != 0:
            raise ValueError(
                f"{path}: version {target} predates the retained log "
                f"(earliest commit JSON is {vs[0]}; the prefix was "
                "checkpoint-cleaned) — time travel below the checkpoint "
                "horizon is gone"
            )
        relevant = [v for v in vs if start <= v <= target]
        if not relevant or relevant[0] == start:
            break
        if attempt == 0 and read_last_checkpoint(path) != cp:
            vs = versions(path)
            continue
        raise ValueError(
            f"{path}: log gap — replay should start at {start} but the "
            f"earliest retained commit at-or-after it is {relevant[0]} "
            "(the range was cleaned without a covering checkpoint or "
            "removed out of band); re-open the table to read through "
            "the newer checkpoint"
        )
    if relevant != list(range(start, start + len(relevant))):
        raise ValueError(
            f"{path}: non-contiguous commit log in replay range "
            f"{relevant[:5]}... — log files were removed out of band"
        )
    for v in relevant:
        apply_entry(state, v, read(v))
    return state


def change_files(entry: dict) -> tuple[str, list, dict | None]:
    """What one commit changed, as files: the one classification behind
    ``AcidTable.table_changes`` and the ``acid_cdf`` stream. Returns
    ``(kind, files, dv)``, ``files`` a list of ``(table-relative path,
    tag)``:

    - ``"none"``: OPTIMIZE or a metadata-only commit, no files;
    - ``"cdc"``: a staged CDC sidecar, whose rows carry their own
      ``_change_type`` (tag None);
    - ``"files"``: a pure-add or overwrite commit: the removed files,
      read at the version before, tagged ``delete``, the added ones
      ``insert``;
    - ``"diff"``: a MERGE/DELETE/UPDATE/RESTORE without a sidecar that
      removes files or masks rows (``dv``, its deletion-vector action;
      None for the other kinds): files tagged as above, but the change
      set is their multiset diff, which no per-file read expresses."""
    op = entry.get("operation")
    adds = [a["path"] for a in entry.get("add", ())]
    removes = entry.get("remove", ())
    dv = entry.get("dv")
    if op == "optimize" or not (adds or removes or dv):
        return "none", [], None
    if entry.get("cdc"):
        return "cdc", [(p, None) for p in entry["cdc"]], None
    files = [(p, "delete") for p in removes] + [(p, "insert") for p in adds]
    if op == "overwrite" or not (removes or dv):
        return "files", files, None
    return "diff", files, dv


def physical_name(col: str, added: int, ops: list) -> str:
    """Reverse-translate a CURRENT logical column name to the name
    physically stored in a file added at version ``added`` (walk the
    applicable renames newest-to-oldest)."""
    name = col
    for op in reversed(ops):
        if op["v"] > added and op.get("op") == "rename" and op["new"] == name:
            name = op["old"]
    return name


def part_segment(col: str, value) -> str:
    """One ``col=value`` partition directory segment: the value
    percent-encoded so separators/equals/unicode cannot corrupt the
    layout, NULL as the Hive default-partition sentinel."""
    from urllib.parse import quote

    enc = (
        "__HIVE_DEFAULT_PARTITION__"
        if value is None
        else quote(str(value), safe="")
    )
    return f"{col}={enc}"


# ---------------------------------------------------- live-file read

#: Arrow types of the ``widen`` schema op's targets
_WIDEN_TYPES = {"int": "int32", "bigint": "int64", "float": "float32", "double": "float64"}


def _epoch_fields(schema, ops) -> list:
    """``(stored name, field)`` for each column of a file's Arrow
    ``schema`` that the schema ops newer than the file (``ops``, oldest
    first) do not drop, the field under its renamed name and widened
    type."""
    import pyarrow as pa

    out = []
    for f in schema:
        name, typ = f.name, f.type
        for op in ops:
            kind = op.get("op")
            if kind == "rename" and op["old"] == name:
                name = op["new"]
            elif kind == "drop" and op["col"] == name:
                break
            elif kind == "widen" and op["col"] == name and op.get("type") in _WIDEN_TYPES:
                typ = getattr(pa, _WIDEN_TYPES[op["type"]])()
        else:
            out.append((f.name, pa.field(name, typ)))
    return out


def _file_schema(path: str, action: dict):
    """Arrow schema of one live file in the types its writer meant.
    Spark writes TIMESTAMP as INT96, which the footer reports as a
    NAIVE ``timestamp[ns]``; a Spark-written file's own Spark schema —
    logged on its add-action, else kept in the footer's
    ``org.apache.spark.sql.parquet.row.metadata`` — types it TIMESTAMP.
    Arrow-written files (the ``format("acid")`` writer) carry no Spark
    schema and their footer types are exact."""
    import pyarrow.parquet as pq
    from pyspark.sql.pandas.types import to_arrow_schema
    from pyspark.sql.types import StructType

    spark_json = action.get("schema")
    if spark_json is None:
        footer = pq.read_schema(path)
        spark_json = (footer.metadata or {}).get(
            b"org.apache.spark.sql.parquet.row.metadata"
        )
        if spark_json is None:
            return footer
    return to_arrow_schema(StructType.fromJson(json.loads(spark_json)))


def live_file(path: str, state: dict, name: str) -> tuple[str, tuple, tuple]:
    """``(absolute path, schema ops newer than the file, absolute
    deletion-vector sidecar paths)`` of the live file ``name`` of a
    replayed ``state`` of the table at ``path``: what
    :func:`read_live_file` needs to read it as it stands in ``state``."""
    action = state["live"][name]
    ops = tuple(op for op in state["schema_ops"] if op["v"] > action["added"])
    dv = tuple(os.path.join(path, s) for s in action.get("dv", ()))
    return os.path.join(path, name), ops, dv


def live_schema(path: str, state: dict):
    """Spark ``StructType`` of the live files of a replayed ``state`` of
    the table at ``path``, from footers only: each file typed as its
    writer meant (:func:`_file_schema`) and carried through the schema
    ops newer than it, the files unified permissively (additive
    columns, widened types) — columns, order and types as
    ``AcidTable.snapshot`` has them. A tz-aware timestamp is an instant
    whose zone name is display only (and unify refuses two names), so
    it reads as UTC; a NAIVE one stays TIMESTAMP_NTZ, or an NTZ table
    would be retyped on read and its later copy-on-write rewrites mix
    isAdjustedToUTC flags, which mergeSchema refuses."""
    import pyarrow as pa
    from pyspark.sql.pandas.types import from_arrow_schema

    if not state["live"]:
        raise ValueError(
            f"{path}: table has no live data to derive a schema from — "
            "pass .schema(...) explicitly"
        )
    schemas = []
    for name, action in sorted(state["live"].items()):
        ap, ops, _ = live_file(path, state, name)
        fields = []
        for _, f in _epoch_fields(_file_schema(ap, action), ops):
            if pa.types.is_timestamp(f.type) and f.type.tz is not None:
                f = pa.field(f.name, pa.timestamp(f.type.unit, "UTC"))
            fields.append(f)
        schemas.append(pa.schema(fields))
    unified = pa.unify_schemas(schemas, promote_options="permissive")
    return from_arrow_schema(unified, prefer_timestamp_ntz=True)


def read_live_file(path: str | None, target, ops=(), dv=()):
    """One data file as an Arrow table of schema ``target`` (empty when
    ``path`` is None). In order:

    1. the deletion-vector positions of the sidecars ``dv`` for this
       file (by basename; uuid names never collide) are dropped —
       positions are row indices in FILE order, pyarrow's read order,
       so a numpy mask applies them before any column changes;
    2. ``ops``, the schema ops newer than the file, rename and drop its
       columns;
    3. each ``target`` column is cast from the file's (additive
       widening), or NULL when the file predates it.

    INT96 (Spark's TIMESTAMP) reads as naive micros — the nanosecond
    default overflows outside 1677–2262 — and the cast to the target's
    UTC timestamp keeps its instant."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    if path is None:
        return target.empty_table()
    tbl = pq.read_table(path, coerce_int96_timestamp_unit="us")
    if dv:
        base = os.path.basename(path)
        keep = np.ones(tbl.num_rows, dtype=bool)
        for s in dv:
            side = pq.read_table(s, columns=["file", "pos"])
            keep[side.filter(pc.equal(side["file"], base))["pos"].to_numpy()] = False
        tbl = tbl.filter(keep)
    stored = {f.name: old for old, f in _epoch_fields(tbl.schema, ops)}
    n = tbl.num_rows
    return pa.Table.from_arrays(
        [
            tbl[stored[f.name]].cast(f.type) if f.name in stored else pa.nulls(n, f.type)
            for f in target
        ],
        schema=target,
    )


# ------------------------------------------------------------- blooms


def _bloom_tag(value) -> str | None:
    """Type tag stored with (and checked against) the bloom — a filter
    literal of a DIFFERENT type category must not be tested (an int 5
    and a float 5.0 hash differently; a mismatched test would be a
    false NEGATIVE, i.e. wrong pruning). bool first: it subclasses
    int."""
    if isinstance(value, bool):
        return "b"
    if isinstance(value, int):
        return "i"
    if isinstance(value, float):
        return "f"
    if isinstance(value, str):
        return "s"
    return None


def _bloom_hashes(value) -> tuple[int, int] | None:
    """(h1, h2) 64-bit double-hashing pair (Kirsch–Mitzenmacher) from
    a canonical byte encoding — the same function runs at write
    (harvest) and plan (consult) time."""
    import hashlib
    import struct

    if isinstance(value, bool):
        data = b"\x01" if value else b"\x00"
    elif isinstance(value, int):
        try:
            data = value.to_bytes(8, "little", signed=True)
        except OverflowError:
            return None
    elif isinstance(value, float):
        data = struct.pack("<d", value)
    elif isinstance(value, str):
        data = value.encode("utf-8")
    else:
        return None
    d = hashlib.blake2b(data, digest_size=16).digest()
    return int.from_bytes(d[:8], "little"), int.from_bytes(d[8:], "little")


def _bloom_build(values) -> dict | None:
    """Serialized bloom over the distinct non-NULL ``values`` of one
    file's column: {"m": bits, "k": hashes, "t": type tag, "b64":
    bitset}. None when the column is all-NULL, mixed-type, or
    unhashable — absence means "no verdict", never "absent"."""
    import base64

    vals = [v for v in values if v is not None]
    if not vals:
        return None
    tags = {_bloom_tag(v) for v in vals}
    if len(tags) != 1 or None in tags:
        return None
    m = max(64, min(_BLOOM_MAX_BITS, _BLOOM_BITS_PER_VALUE * len(vals)))
    m = (m + 7) // 8 * 8
    arr = bytearray(m // 8)
    for v in vals:
        hs = _bloom_hashes(v)
        if hs is None:
            return None
        h1, h2 = hs
        for i in range(_BLOOM_K):
            b = (h1 + i * h2) % m
            arr[b >> 3] |= 1 << (b & 7)
    return {
        "m": m,
        "k": _BLOOM_K,
        "t": tags.pop(),
        "b64": base64.b64encode(bytes(arr)).decode("ascii"),
    }


def bloom_maybe_contains(bloom: dict, value) -> bool:
    """Membership test against a serialized bloom. Conservative: any
    type mismatch, NULL, or malformed bloom answers True (keep the
    file). False is definitive — the value is NOT in the file."""
    import base64

    if value is None or _bloom_tag(value) != bloom.get("t"):
        return True
    if isinstance(value, float) and (value == 0.0 or value != value):
        # the bits hashed are raw IEEE: -0.0 and 0.0 differ, as do NaN
        # payloads, while Spark holds -0.0 = 0.0 and NaN = NaN
        return True
    hs = _bloom_hashes(value)
    if hs is None:
        return True
    try:
        arr = base64.b64decode(bloom["b64"])
        m = int(bloom["m"])
        k = int(bloom.get("k", _BLOOM_K))
    except (KeyError, ValueError, TypeError):
        return True
    if m <= 0 or len(arr) * 8 < m:
        return True
    h1, h2 = hs
    for i in range(k):
        b = (h1 + i * h2) % m
        if not arr[b >> 3] & (1 << (b & 7)):
            return False
    return True


def blooms_of(table, cols) -> dict:
    """Per-column serialized blooms harvested from an Arrow table (the
    distinct values of each declared column it has); unbuildable
    columns are simply absent (consulted conservatively)."""
    import pyarrow.compute as pc

    out = {}
    for c in cols:
        if c in table.column_names:
            b = _bloom_build(pc.unique(table[c]).to_pylist())
            if b is not None:
                out[c] = b
    return out


def file_blooms(path: str, cols) -> dict:
    """:func:`blooms_of` for a just-staged parquet file. Unlike footer
    stats this IS a data re-read of the declared columns — the write
    amplification the opt-in costs."""
    import pyarrow.parquet as pq

    try:
        present = pq.read_schema(path).names
        want = [c for c in cols if c in present]
        if not want:
            return {}
        return blooms_of(pq.read_table(path, columns=want), want)
    except OSError:
        return {}


# ---------------------------------------------------- stats and pruning


def _bound(value) -> bool:
    """A loggable [min, max] end: a JSON scalar, finite if a float."""
    return isinstance(value, (int, str)) or (isinstance(value, float) and math.isfinite(value))


def loggable_stats(stats: dict | None) -> dict:
    """``stats`` without the bounds a strict JSON log cannot hold — the
    NaN bounds of a log written before they were left out."""
    return {c: b for c, b in (stats or {}).items() if all(map(_bound, b))}


def footer_stats(path: str) -> dict:
    """Per-column [min, max] from the parquet footer the writer already
    produced — no data re-read. Only JSON scalars are kept (int, finite
    float, str, bool); a column with any other bound in any row group is
    simply absent, which :func:`prune_files` treats conservatively (file
    kept). A Spark-written footer orders NaN above every number, so a
    float column holding NaN has a NaN max and logs no bound."""
    import pyarrow.parquet as pq

    md = pq.read_metadata(path)
    mins, maxs, unbounded = {}, {}, set()
    for rg in range(md.num_row_groups):
        row = md.row_group(rg)
        for ci in range(row.num_columns):
            col = row.column(ci)
            st = col.statistics
            if st is None or not st.has_min_max:
                continue
            name = col.path_in_schema
            try:
                mn, mx = st.min, st.max
            except Exception:
                # pyarrow can't extract min/max for some logical types
                # (e.g. small decimals) — stats are an optimization,
                # the pruner treats a statless column conservatively
                mn = mx = None
            if "." in name or not (_bound(mn) and _bound(mx)):
                unbounded.add(name)
                continue
            if name in mins:
                mn, mx = min(mins[name], mn), max(maxs[name], mx)
            mins[name], maxs[name] = mn, mx
    return {k: [mins[k], maxs[k]] for k in mins if k not in unbounded}


def _nan_columns(table) -> set:
    """Names of the float columns of an Arrow table that hold NaN."""
    import pyarrow as pa
    import pyarrow.compute as pc

    return {
        f.name
        for f in table.schema
        if pa.types.is_floating(f.type)
        and pc.any(pc.is_nan(table.column(f.name))).as_py()
    }


def table_stats(table, nan: set | None = None) -> dict:
    """[min, max] per JSON-scalar column of an IN-MEMORY Arrow table —
    no file re-read. Arrow's ``min_max`` skips NaN, so a float column
    holding NaN logs no stats: its bounds would rule out the NaN rows.
    An infinite bound is not logged either (see :func:`footer_stats`).
    ``nan``: the table's :func:`_nan_columns`, when already known."""
    import pyarrow as pa
    import pyarrow.compute as pc

    if nan is None:
        nan = _nan_columns(table)
    out = {}
    for f in table.schema:
        if f.name in nan or not (
            pa.types.is_integer(f.type)
            or pa.types.is_floating(f.type)
            or pa.types.is_string(f.type)
            or pa.types.is_boolean(f.type)
        ):
            continue
        col = table.column(f.name)
        if col.null_count == len(col):
            continue
        mm = pc.min_max(col)
        mn, mx = mm["min"].as_py(), mm["max"].as_py()
        if _bound(mn) and _bound(mx):
            out[f.name] = [mn, mx]
    return out


def write_data_file(table, path: str) -> dict:
    """Write an Arrow table as the parquet data file ``path`` and return
    its :func:`table_stats`. The footer leaves out the statistics of a
    float column holding NaN for the same reason the log does: parquet
    writers skip NaN in min/max, and Spark's row-group filter trusts
    the footer. ``write_statistics`` names parquet leaf paths, which a
    zero-row write lists, so nested leaves keep theirs."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    nan = _nan_columns(table)
    keep = True
    if nan:
        buf = pa.BufferOutputStream()
        pq.write_table(table.schema.empty_table(), buf)
        leaves = pq.read_metadata(pa.BufferReader(buf.getvalue())).schema
        paths = (leaves.column(i).path for i in range(len(leaves)))
        keep = [c for c in paths if c not in nan]
    pq.write_table(table, path, write_statistics=keep)
    return table_stats(table, nan)


_PRUNE_OPS = ("=", "IN", "<", "<=", ">", ">=")


def _kind(value) -> str | None:
    """Comparison class: the bloom type tag, with ints and floats one."""
    tag = _bloom_tag(value)
    return "n" if tag in ("i", "f") else tag


def _ordered(a, b) -> bool:
    """Python orders ``a`` against ``b`` as Spark does: one comparable
    kind and no NaN (Spark holds NaN = NaN, above every number)."""
    kind = _kind(a)
    return kind is not None and kind == _kind(b) and a == a and b == b


def _may_hold(mn, mx, op: str, lit) -> bool:
    """False only when no value in [mn, mx] satisfies ``value op lit``."""
    if op == "IN":
        return any(_may_hold(mn, mx, "=", v) for v in lit)
    if not (_ordered(mn, lit) and _ordered(mx, lit)):
        return True
    if op == "=":
        return mn <= lit <= mx
    if op == "<":
        return mn < lit
    if op == "<=":
        return mn <= lit
    if op == ">":
        return mx > lit
    return mx >= lit


def _file_may_hold(action: dict, conjuncts: list, schema_ops: list) -> bool:
    cols = [physical_name(c, action["added"], schema_ops) for c, _, _ in conjuncts]
    part = action.get("partition") or {}
    stats = action.get("stats") or {}
    for col, (_, op, lit) in zip(cols, conjuncts):
        if col in part:
            if part[col] is None:
                return False
            mn = mx = part[col]
        else:
            mn, mx = stats.get(col) or (None, None)
        if mn is not None and mx is not None and not _may_hold(mn, mx, op, lit):
            return False
    blooms = action.get("bloom") or {}
    for col, (_, op, lit) in zip(cols, conjuncts):
        bloom = blooms.get(col)
        if bloom and op in ("=", "IN"):
            values = lit if op == "IN" else (lit,)
            if not any(bloom_maybe_contains(bloom, v) for v in values):
                return False
    return True


def prune_files(state: dict, conjuncts) -> list[str]:
    """Live file names of a replayed ``state``, sorted, that may hold a
    row satisfying every conjunct ``(logical column, op, value)`` — op
    one of ``=``, ``IN`` (value: a tuple), ``<``, ``<=``, ``>``,
    ``>=``. The decision reads only the log: a dropped file holds no
    such row under Spark's semantics (NULL satisfies nothing, -0.0 =
    0.0, NaN = NaN above every number); a kept file may hold none, so
    callers still apply the predicate to rows. Per file, each column
    translated to the file's physical name:

    1. partition value — exact: the file holds only that value, and a
       NULL one fails every conjunct;
    2. logged [min, max] — no stats, a cross-type comparison, or a NaN
       bound or value keeps the file;
    3. blooms — every ``=`` value must be possible, and one value of
       each ``IN`` list."""
    conjuncts = list(conjuncts)
    for c in conjuncts:
        if c[1] not in _PRUNE_OPS:
            raise ValueError(f"prune_files: unsupported conjunct {c!r}")
    ops = state["schema_ops"]
    return [
        name
        for name, action in sorted(state["live"].items())
        if _file_may_hold(action, conjuncts, ops)
    ]
