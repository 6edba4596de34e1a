"""SQL statement surface for ACID table management.

A pure-Python DataSource cannot plug Spark's SQL parser or catalog
(no ``VERSION AS OF`` / ``MERGE INTO`` support reaches a
``pyspark.sql.datasource`` format), so this module is an explicit,
NARROW front door: :func:`acid_sql` recognizes the lakehouse
table-management statements against ``acid.`<path>``` table references
and routes them to the :class:`~als_hadoop_spark.sources.acid.AcidTable`
API; every other statement passes through to ``spark.sql`` verbatim
(after time-travel rewriting). The supported grammar is EXACTLY:

- ``... acid.`/path/to/table` [VERSION AS OF <n>] ...`` anywhere in a
  query: each reference becomes a temp view of
  ``AcidTable.snapshot(n)`` and the reference text is substituted —
  arbitrary SELECTs (joins, CTEs, windows, self-joins across versions,
  a MERGE ``USING (subquery)``) over time-traveled ACID tables just
  work. Read contract: the view is Spark's own parquet scan of the
  live files under the logged schema, with the per-epoch schema ops
  and the deletion-vector anti-join, so Spark prunes it to the
  referenced columns and pushes row-group filters into its vectorized
  reader. Whole-file skipping from the log's [min, max] stats and
  bloom filters is not part of this path; it lives in
  ``spark.read.format("acid")`` (pushed filters) and
  ``AcidTable.snapshot_where``.
- ``MERGE INTO acid.`<path>` [AS <t>] USING <view|(subquery)> [AS <s>]
  ON <t>.<key> = <s>.<key> WHEN MATCHED THEN UPDATE SET * WHEN NOT
  MATCHED THEN INSERT *`` — the canonical upsert (Delta's most common
  MERGE form): matched rows take ALL source columns, unmatched source
  rows insert. Returns the committed version. Other WHEN forms raise
  with the exact unsupported clause named — a silent partial MERGE
  would be data loss.
- ``OPTIMIZE acid.`<path>` [CLUSTER BY <col>] [ZORDER BY (<a>, <b>)]``
- ``VACUUM acid.`<path>` [RETAIN <n> HOURS]`` → deleted file names.
- ``DESCRIBE HISTORY acid.`<path>``` → one row per commit (version,
  operation, n_added, n_removed).
- ``RESTORE acid.`<path>` TO VERSION AS OF <n>`` → the rollback
  commit's version (zero-copy: the old live set is republished,
  history is kept).
- ``CREATE TABLE acid.`<dest>` SHALLOW CLONE acid.`<src>` [VERSION AS
  OF <n>]`` → zero-copy table branch.
- ``ALTER TABLE acid.`<path>` RENAME COLUMN <a> TO <b> | DROP COLUMN
  <c> | ALTER COLUMN <c> TYPE <t> | ADD CONSTRAINT <name> CHECK
  (<expr>)`` → the committed version (log-only schema evolution and
  CHECK registration; no data file is rewritten).
- ``ALTER TABLE acid.`<path>` SET TBLPROPERTIES ('k' = 'v', ...)`` →
  the committed version; every pair lands in one commit
  (``'deletionVectors' = 'true'`` flips DELETE/UPDATE/MERGE to
  merge-on-read).
- ``SHOW TBLPROPERTIES acid.`<path>``` → one (key, value) row per
  active property.
- ``DELETE FROM acid.`<path>` [WHERE <pred>]`` → the committed
  version (no WHERE deletes every row, the SQL semantics).
- ``UPDATE acid.`<path>` SET <col> = <expr>[, ...] [WHERE <pred>]``
  → the committed version (assignments evaluate simultaneously
  against the original row — ``SET a=b, b=a`` swaps).

The point is API parity with the SQL text a Delta/Iceberg user already
writes, not a general parser: anything outside this grammar is either
passed through untouched (plain SQL) or refused loudly (a MERGE/
OPTIMIZE/VACUUM variant we'd half-execute). Reference ancestry: the
reference drives everything from hand-built job mains
(ALS-Hadoop/ALS/ALS.java:217-331) and reads each intermediate matrix
with the engine's native scan; the SQL front door is this engine's
equivalent of "the interface users already have."
"""

from __future__ import annotations

import hashlib
import re

from pyspark.sql import DataFrame, SparkSession

from .sources.acid import AcidTable

#: acid.`/path` with optional VERSION AS OF n
_REF = re.compile(
    r"acid\.`(?P<path>[^`]+)`(?:\s+VERSION\s+AS\s+OF\s+(?P<version>\d+))?",
    re.IGNORECASE,
)

_MERGE = re.compile(
    r"^\s*MERGE\s+INTO\s+acid\.`(?P<path>[^`]+)`"
    r"(?:\s+AS\s+(?P<talias>\w+))?"
    r"\s+USING\s+(?P<source>\((?:[^()]|\([^()]*\))*\)|\w+)"
    r"(?:\s+AS\s+(?P<salias>\w+))?"
    r"\s+ON\s+(?P<on>.+?)"
    r"\s+WHEN\s+(?P<whens>MATCHED.+)$",
    re.IGNORECASE | re.DOTALL,
)

_ON = re.compile(
    r"^\s*(\w+)\.(\w+)\s*=\s*(\w+)\.(\w+)\s*$", re.IGNORECASE
)

_CANONICAL_WHENS = re.compile(
    r"^MATCHED\s+THEN\s+UPDATE\s+SET\s+\*\s+"
    r"WHEN\s+NOT\s+MATCHED\s+THEN\s+INSERT\s+\*\s*;?\s*$",
    re.IGNORECASE | re.DOTALL,
)

_OPTIMIZE = re.compile(
    r"^\s*OPTIMIZE\s+acid\.`(?P<path>[^`]+)`"
    r"(?:\s+CLUSTER\s+BY\s+(?P<cluster>\w+))?"
    r"(?:\s+ZORDER\s+BY\s+\(\s*(?P<zx>\w+)\s*,\s*(?P<zy>\w+)\s*\))?"
    r"\s*;?\s*$",
    re.IGNORECASE,
)

_VACUUM = re.compile(
    r"^\s*VACUUM\s+acid\.`(?P<path>[^`]+)`"
    r"(?:\s+RETAIN\s+(?P<hours>\d+(?:\.\d+)?)\s+HOURS?)?\s*;?\s*$",
    re.IGNORECASE,
)

_HISTORY = re.compile(
    r"^\s*DESCRIBE\s+HISTORY\s+acid\.`(?P<path>[^`]+)`\s*;?\s*$",
    re.IGNORECASE,
)

#: the four ALTER TABLE forms backed by existing AcidTable services —
#: log-only schema evolution + CHECK constraints
_ALTER = re.compile(
    r"^\s*ALTER\s+TABLE\s+acid\.`(?P<path>[^`]+)`\s+(?:"
    r"RENAME\s+COLUMN\s+(?P<old>\w+)\s+TO\s+(?P<new>\w+)"
    r"|DROP\s+COLUMN\s+(?P<drop>\w+)"
    r"|ALTER\s+COLUMN\s+(?P<widen>\w+)\s+TYPE\s+(?P<type>\w+)"
    r"|ADD\s+CONSTRAINT\s+(?P<cname>\w+)\s+CHECK\s*\((?P<expr>.+)\)"
    r")\s*;?\s*$",
    re.IGNORECASE | re.DOTALL,
)

_TBLPROPS = re.compile(
    r"^\s*ALTER\s+TABLE\s+acid\.`(?P<path>[^`]+)`"
    r"\s+SET\s+TBLPROPERTIES\s*\(\s*(?P<props>.+?)\s*\)\s*;?\s*$",
    re.IGNORECASE | re.DOTALL,
)

_PROP_PAIR = re.compile(r"^\s*'([^']+)'\s*=\s*'([^']*)'\s*$")

_DELETE = re.compile(
    r"^\s*DELETE\s+FROM\s+acid\.`(?P<path>[^`]+)`"
    r"(?:\s+WHERE\s+(?P<pred>.+?))?\s*;?\s*$",
    re.IGNORECASE | re.DOTALL,
)

_UPDATE = re.compile(
    r"^\s*UPDATE\s+acid\.`(?P<path>[^`]+)`"
    r"\s+SET\s+(?P<body>.+?)\s*;?\s*$",
    re.IGNORECASE | re.DOTALL,
)

_WHERE_KW = re.compile(r"\bWHERE\b", re.IGNORECASE)


def _split_on_where(body: str) -> tuple[str, str | None]:
    """Split ``<assignments> [WHERE <pred>]`` at the first WHERE
    keyword OUTSIDE parentheses and single-quoted strings — a regex
    alone would cut ``SET note = 'a where b'`` inside the literal.
    Same quote convention as :func:`_split_top_level`."""
    depth, in_str = 0, False
    i = 0
    while i < len(body):
        ch = body[i]
        if in_str:
            if ch == "'":
                if i + 1 < len(body) and body[i + 1] == "'":
                    i += 2
                    continue
                in_str = False
        elif ch == "'":
            in_str = True
        elif ch == "(":
            depth += 1
        elif ch == ")":
            depth -= 1
        elif depth == 0:
            m = _WHERE_KW.match(body, i)
            if m and (i == 0 or body[i - 1].isspace()):
                return body[:i].strip(), body[m.end():].strip()
        i += 1
    return body.strip(), None

_ASSIGN = re.compile(r"^\s*(\w+)\s*=\s*(.+?)\s*$", re.DOTALL)

_SHOW_PROPS = re.compile(
    r"^\s*SHOW\s+TBLPROPERTIES\s+acid\.`(?P<path>[^`]+)`\s*;?\s*$",
    re.IGNORECASE,
)

_RESTORE = re.compile(
    r"^\s*RESTORE\s+acid\.`(?P<path>[^`]+)`"
    r"\s+TO\s+VERSION\s+AS\s+OF\s+(?P<version>\d+)\s*;?\s*$",
    re.IGNORECASE,
)

_CLONE = re.compile(
    r"^\s*CREATE\s+TABLE\s+acid\.`(?P<dest>[^`]+)`"
    r"\s+SHALLOW\s+CLONE\s+acid\.`(?P<src>[^`]+)`"
    r"(?:\s+VERSION\s+AS\s+OF\s+(?P<version>\d+))?\s*;?\s*$",
    re.IGNORECASE,
)


def _split_top_level(text: str) -> list[str]:
    """Split on commas OUTSIDE parentheses and single-quoted strings —
    ``SET v = concat(a, b), k = 'x,y'`` is two assignments, not four.
    Escapes are the SQL convention (doubled quote inside a literal)."""
    parts, buf, depth, in_str = [], [], 0, False
    i = 0
    while i < len(text):
        ch = text[i]
        if in_str:
            if ch == "'":
                if i + 1 < len(text) and text[i + 1] == "'":
                    buf.append("''")
                    i += 2
                    continue
                in_str = False
        elif ch == "'":
            in_str = True
        elif ch == "(":
            depth += 1
        elif ch == ")":
            depth -= 1
        elif ch == "," and depth == 0:
            parts.append("".join(buf).strip())
            buf = []
            i += 1
            continue
        buf.append(ch)
        i += 1
    tail = "".join(buf).strip()
    if tail:
        parts.append(tail)
    return parts


def _register_refs(spark: SparkSession, text: str) -> str:
    """Register every ``acid.`path` [VERSION AS OF n]`` reference as a
    temp view of ``AcidTable(spark, path).snapshot(n)`` and substitute
    the view name, so plain ``spark.sql`` runs the rest of the text.

    Read contract: the view is the engine's JVM snapshot read — the
    parquet scan under the schema logged on each add-action, the
    per-epoch rename/drop/widen ops, and the deletion-vector anti-join.
    Spark therefore prunes the scan to the referenced columns and
    pushes row-group filters into the vectorized reader. What the view
    does not do is skip whole files at planning time from the log's
    [min, max] stats and bloom filters: that lives in
    ``spark.read.format("acid")`` (pushed filters) and
    ``AcidTable.snapshot_where``.

    The view name is the readable squashed path and version plus a
    digest of the exact (path, version): two paths that squash to the
    same text (``/data/t.new`` and ``/data/t_new``) get distinct views,
    so one reference never reads another's snapshot."""

    def sub(m: re.Match) -> str:
        path, v = m.group("path"), m.group("version")
        digest = hashlib.blake2b(
            f"{path}\x00{v}".encode(), digest_size=6
        ).hexdigest()
        name = (
            "acid_ref_"
            + re.sub(r"\W", "_", f"{path}_v{v if v else 'head'}").strip("_")
            + "_"
            + digest
        )
        AcidTable(spark, path).snapshot(
            int(v) if v is not None else None
        ).createOrReplaceTempView(name)
        return name

    return _REF.sub(sub, text)


def acid_sql(spark: SparkSession, text: str):
    """Execute one SQL statement with ACID table-management support —
    module docstring has the exact grammar. Returns a DataFrame for
    reads (SELECT/DESCRIBE HISTORY), the committed version (int) for
    MERGE/OPTIMIZE, the deleted file list for VACUUM."""
    m = _MERGE.match(text)
    if m:
        return _run_merge(spark, m)
    m = _OPTIMIZE.match(text)
    if m:
        zo = (
            (m.group("zx"), m.group("zy"))
            if m.group("zx") is not None
            else None
        )
        return AcidTable(spark, m.group("path")).optimize(
            cluster_by=m.group("cluster"), zorder_by=zo
        )
    m = _VACUUM.match(text)
    if m:
        hours = float(m.group("hours")) if m.group("hours") else 24.0
        return AcidTable(spark, m.group("path")).vacuum(
            retention_hours=hours
        )
    m = _TBLPROPS.match(text)
    if m:
        t = AcidTable(spark, m.group("path"))
        pairs = []
        for part in _split_top_level(m.group("props")):
            pm = _PROP_PAIR.match(part)
            if not pm:
                raise ValueError(
                    "acid_sql SET TBLPROPERTIES: each property must be "
                    f"a literal 'key' = 'value' pair; got {part!r}"
                )
            pairs.append((pm.group(1), pm.group(2)))
        # ONE commit for every pair — the statement's atomicity
        return t.set_properties(dict(pairs))
    m = _SHOW_PROPS.match(text)
    if m:
        props = AcidTable(spark, m.group("path")).properties()
        return spark.createDataFrame(
            sorted(props.items()) or [("", "")],
            "key STRING, value STRING",
        ).filter("key != ''")
    m = _DELETE.match(text)
    if m:
        pred = m.group("pred")
        return AcidTable(spark, m.group("path")).delete(
            pred if pred is not None else "true"
        )
    m = _UPDATE.match(text)
    if m:
        sets, pred = _split_on_where(m.group("body"))
        assignments = {}
        for part in _split_top_level(sets):
            am = _ASSIGN.match(part)
            if not am:
                raise ValueError(
                    "acid_sql UPDATE: each assignment must be "
                    f"'<column> = <expression>'; got {part!r}"
                )
            col = am.group(1)
            if col in assignments:
                raise ValueError(
                    f"acid_sql UPDATE: column {col!r} assigned twice"
                )
            assignments[col] = am.group(2)
        return AcidTable(spark, m.group("path")).update(assignments, pred)
    m = _ALTER.match(text)
    if m:
        t = AcidTable(spark, m.group("path"))
        if m.group("old"):
            return t.rename_column(m.group("old"), m.group("new"))
        if m.group("drop"):
            return t.drop_column(m.group("drop"))
        if m.group("widen"):
            return t.widen_column_type(m.group("widen"), m.group("type"))
        return t.set_constraint(m.group("cname"), m.group("expr").strip())
    m = _RESTORE.match(text)
    if m:
        return AcidTable(spark, m.group("path")).restore(
            int(m.group("version"))
        )
    m = _CLONE.match(text)
    if m:
        src = AcidTable(spark, m.group("src"))
        v = int(m.group("version")) if m.group("version") else None
        src.clone(m.group("dest"), version=v)
        return m.group("dest")
    m = _HISTORY.match(text)
    if m:
        hist = AcidTable(spark, m.group("path")).history()
        # each log entry carries its TRUE version — enumerate() would
        # misnumber the retained suffix after cleanup_log removed the
        # prefix, sending a later VERSION AS OF to the wrong snapshot
        return spark.createDataFrame(
            [
                (
                    int(e["version"]),
                    e.get("operation", ""),
                    len(e.get("add", [])),
                    len(e.get("remove", [])),
                )
                for e in hist
            ],
            "version LONG, operation STRING, n_added LONG, n_removed LONG",
        )
    if re.match(
        r"^\s*(MERGE|OPTIMIZE|VACUUM|RESTORE|ALTER\s+TABLE\s+acid\."
        r"|DELETE\s+FROM\s+acid\.|UPDATE\s+acid\.)",
        text,
        re.IGNORECASE,
    ) or (
        # only CLONE statements that actually reference an acid table:
        # pass-through SQL that merely names a column "clone" (CREATE
        # TABLE t AS SELECT clone FROM s) runs, while a CLONE variant
        # over acid.` refs (DEEP CLONE, extra clauses) refuses rather
        # than half-executing through view rewriting
        re.match(
            r"^\s*CREATE\s+TABLE\b.*\bCLONE\b",
            text,
            re.IGNORECASE | re.DOTALL,
        )
        and re.search(r"acid\.`", text, re.IGNORECASE)
    ):
        # it LOOKED like a management statement but didn't parse —
        # refuse rather than hand spark.sql a statement it will also
        # reject with a less actionable error
        raise ValueError(
            "acid_sql: unsupported statement form — supported grammar "
            "is in als_hadoop_spark/sql.py's module docstring: "
            f"{text.strip()[:120]!r}"
        )
    return spark.sql(_register_refs(spark, text))


def _run_merge(spark: SparkSession, m: re.Match) -> int:
    path = m.group("path")
    talias = m.group("talias") or "t"
    salias = m.group("salias") or "s"
    whens = m.group("whens").strip()
    if not _CANONICAL_WHENS.match(whens):
        raise ValueError(
            "acid_sql MERGE: only the canonical upsert is supported — "
            "'WHEN MATCHED THEN UPDATE SET * WHEN NOT MATCHED THEN "
            f"INSERT *'; got: {whens[:120]!r}. Other WHEN forms need "
            "the AcidTable.merge API (pass your own apply_fn)."
        )
    on = _ON.match(m.group("on"))
    if not on:
        raise ValueError(
            "acid_sql MERGE: ON must be a single equality "
            "'<target>.<col> = <source>.<col>' with the SAME column "
            f"name on both sides; got: {m.group('on').strip()!r}"
        )
    a1, c1, a2, c2 = on.groups()
    aliases = {a1: c1, a2: c2}
    if set(aliases) != {talias, salias} or c1 != c2:
        raise ValueError(
            "acid_sql MERGE: ON aliases must be the target and source "
            f"aliases ({talias!r}, {salias!r}) and the key column must "
            f"match by name; got ON {m.group('on').strip()!r}"
        )
    key = c1
    source = m.group("source")
    changes = spark.sql(
        _register_refs(
            spark,
            source[1:-1] if source.startswith("(") else f"SELECT * FROM {source}",
        )
    )

    def upsert(touched: DataFrame, chg: DataFrame) -> DataFrame:
        # UPDATE SET * / INSERT *: source rows win wholesale on key
        return touched.join(
            chg.select(key).distinct(), key, "anti"
        ).unionByName(chg)

    return AcidTable(spark, path).merge(changes, key, upsert)
