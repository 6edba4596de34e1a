"""Dense-id assignment at scale (reference A7).

The reference densifies ids in one Python process with an in-memory set
(``ALS-Hadoop/mapid.py:28-38``) — O(distinct) driver RAM, the classic
non-distributed anti-pattern. The obvious Spark rewrite,
``dense_rank() OVER (ORDER BY key)``, is just as bad at 100 TB: an
unpartitioned window funnels every distinct key through ONE task.

``dense_ids`` instead does a fully-JVM distributed enumeration (the
``grouped_ranks`` recipe over the distinct keys):

1. ``distinct`` keys + ``repartitionByRange(key)`` +
   ``sortWithinPartitions`` — keys globally sorted across partitions
   (partition *p*'s keys all precede partition *p+1*'s).
2. per-partition local index via ``monotonically_increasing_id()``
   decomposition: Spark packs ``partition_id`` into the upper bits and a
   0-based sequential row index into the lower 33 bits, so
   ``local_idx = id & (2^33 - 1)`` — computed inside whole-stage
   codegen, no shuffle, no Python.
3. per-partition counts and first local index → cumulative offsets (a
   window over a frame bounded by partitions, never by data size)
   broadcast-joined back:
   ``dense_id = offset[pid] + local_idx - first[pid]``.

The result is bit-identical to ``dense_rank()-1`` ordered by key, while
every step stays O(rows/partitions) per task. Any single boundary
choice by ``repartitionByRange`` preserves the global sort order — but
every helper in this module consumes its enumerated frame TWICE (rows
+ the per-partition offset/boundary table), and the sampled range
exchange below a NONDETERMINISTIC expression (mono-id /
spark_partition_id) is not guaranteed to be computed once: a
re-execution may sample different boundaries and silently misalign the
two branches (observed in practice for ``distributed_lead``). Each
helper therefore pins its enumerated frame with
``localCheckpoint(eager=False)`` — one linear materialization, the
standard price for cutting a nondeterministic lineage. (Cluster
caveat: localCheckpoint data does not survive executor loss; a
production run with preemptible executors should swap in reliable
``checkpoint()`` against the cluster checkpoint dir.)
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

#: monotonically_increasing_id puts the in-partition row index in the
#: low 33 bits and the partition id above them.
_MONO_LOCAL_MASK = (1 << 33) - 1


def dense_ids(
    df: DataFrame,
    key: str,
    num_partitions: int | None = None,
    pin: bool = True,
) -> DataFrame:
    """Dense 0-based ids in sorted key order: the mapping ``(key,
    dense_id: long)``, where ``dense_id`` is the rank of ``key`` among
    its distinct values. No single task holds every distinct key, so
    the key set is unbounded (contrast ``operators.als.encode_ids``,
    which sorts each column's distinct ids in one task)."""
    ranked = grouped_ranks(df.select(key).distinct(), [], key, num_partitions, pin)
    return ranked.select(key, (F.col("rank") - 1).alias("dense_id"))


def global_ranks(
    df: DataFrame,
    order_exprs: list,
    num_partitions: int | None = None,
    rank_col: str = "rank",
    pin: bool = True,
) -> DataFrame:
    """df + ``rank_col``: the 1-based global row_number over
    ``order_exprs`` (Column expressions; ``.desc()`` supported) —
    the scale-safe form of ``row_number() OVER (ORDER BY ...)``.

    An unpartitioned rank window funnels the whole input through ONE
    task (Spark's ``WindowExec: No Partition Defined`` warning). This
    is the same two-stage enumeration as ``dense_ids`` generalized to
    arbitrary sort expressions and full-row passthrough:
    range-partition on the order expressions (global order preserved
    across partition boundaries), enumerate locally via
    ``monotonically_increasing_id`` decomposition, then add
    broadcast per-partition offsets (a ≤``num_partitions``-row frame).
    Ties get arbitrary-but-valid distinct ranks (row_number
    semantics); pass a unique tiebreaker column for determinism."""
    spark = df.sparkSession
    if num_partitions is None:
        num_partitions = int(spark.conf.get("spark.sql.shuffle.partitions", "32"))

    mono = F.monotonically_increasing_id()
    parts = (
        df.repartitionByRange(num_partitions, *order_exprs)
        .sortWithinPartitions(*order_exprs)
        .select(
            *df.columns,
            F.shiftrightunsigned(mono, 33).cast("int").alias("_pid"),
            mono.bitwiseAND(F.lit(_MONO_LOCAL_MASK)).alias("_lidx"),
        )
    )
    if pin:  # see module docstring: two-consumer layout pin
        parts = parts.localCheckpoint(eager=False)
    cnt = parts.groupBy("_pid").agg(F.count("*").alias("_n"))
    w = Window.orderBy("_pid").rowsBetween(Window.unboundedPreceding, -1)
    off = cnt.select(
        "_pid", F.coalesce(F.sum("_n").over(w), F.lit(0)).alias("_off")
    )
    return parts.join(F.broadcast(off), "_pid").select(
        *df.columns,
        (F.col("_off") + F.col("_lidx") + F.lit(1)).alias(rank_col),
    )


def distributed_lead(
    df: DataFrame,
    group_col: str,
    order_cols: list[str],
    lead_cols: list[str],
    num_partitions: int | None = None,
    suffix: str = "_next",
    pin: bool = True,
) -> DataFrame:
    """df + ``<col><suffix>`` for each of ``lead_cols``: the next row's
    values within ``group_col`` ordered by ``order_cols`` — row-
    identical to ``F.lead(col).over(Window.partitionBy(group)
    .orderBy(*order))``, without ever sorting a whole group in one
    task.

    A lead window partitioned by a LOW-CARDINALITY key (5 event types
    over 10¹¹ rows = 5 impossible sorts) is the third face of the same
    hazard ``dense_ids``/``global_ranks`` solve. Same recipe plus a
    boundary exchange:

    1. range-partition on (group, order) — each group spans a
       contiguous run of partitions, every partition O(rows/N);
    2. within-(partition, group) lead via an ordinary window — the
       shuffle key (_pid, group) has N×G balanced groups, so the sorts
       parallelize;
    3. each (partition, group)'s FIRST row (one ``min(struct)``
       aggregate, ≤ N+G rows total under the contiguous layout) feeds
       a successor table: the next partition holding the same group —
       handles empty range slices — gives the boundary row's lead;
    4. the struct-valued coalesce(local lead, boundary) distinguishes
       "no next row" from "next row carries NULL" (a plain column
       lead could not).
    """
    spark = df.sparkSession
    if num_partitions is None:
        num_partitions = int(spark.conf.get("spark.sql.shuffle.partitions", "32"))

    parts = df.repartitionByRange(
        num_partitions, group_col, *order_cols
    ).withColumn("_pid", F.spark_partition_id())

    w_local = Window.partitionBy("_pid", group_col).orderBy(*order_cols)
    led = parts.withColumn(
        "_lead_s", F.lead(F.struct(*[F.col(c) for c in lead_cols])).over(w_local)
    )
    # PIN the partition layout: the plan below consumes `led` twice
    # (rows + boundary table), and a re-executed range exchange may
    # SAMPLE DIFFERENT BOUNDARIES — observed in practice even with
    # exchange reuse available — silently misaligning _pid between
    # the branches. localCheckpoint materializes `led` once, so both
    # consumers read the same physical rows; one linear storage pass,
    # the standard price for cutting a nondeterministic lineage.
    if pin:
        led = led.localCheckpoint(eager=False)

    extra = [c for c in lead_cols if c not in order_cols]
    firsts = led.groupBy("_pid", group_col).agg(
        F.min(
            F.struct(*[F.col(c) for c in order_cols], *[F.col(c) for c in extra])
        ).alias("_first")
    )
    # successor per (pid, group): the first row of the NEXT partition
    # holding this group (lead over ≤N rows per group — bounded)
    w_g = Window.partitionBy(group_col).orderBy("_pid")
    succ = firsts.select(
        "_pid",
        group_col,
        F.lead(
            F.struct(*[F.col(f"_first.{c}") for c in lead_cols])
        ).over(w_g).alias("_boundary_s"),
    )

    out = led.join(succ, ["_pid", group_col], "left").withColumn(
        "_next_s", F.coalesce("_lead_s", "_boundary_s")
    )
    return out.select(
        *df.columns,
        *[F.col(f"_next_s.{c}").alias(f"{c}{suffix}") for c in lead_cols],
    )


def grouped_ranks(
    df: DataFrame,
    group_cols: list[str],
    order_col: str,
    num_partitions: int | None = None,
    pin: bool = True,
) -> DataFrame:
    """df + ``rank``: the 1-based rank of ``order_col`` within each
    group — the scale-safe form of ``row_number() OVER (PARTITION BY
    group ORDER BY v)``.

    A window with low-cardinality partitions sorts EACH GROUP IN ONE
    TASK (3 groups over 10¹¹ rows = 3 impossible sorts). Here the
    global_ranks enumeration generalizes: ``repartitionByRange(group, order)``
    spreads every group across many partitions while keeping global
    (group, order) sort order across partition boundaries; rows
    enumerate locally via monotonically_increasing_id decomposition;
    and a partitions×groups-bounded offset table (cumulative counts of
    earlier partitions per group, plus each partition's base local
    index) broadcasts back. Every task is O(rows/partitions); no
    single-task sort at any group cardinality.

    Ties on ``order_col`` get arbitrary-but-valid distinct ranks
    (row_number semantics). An empty ``group_cols`` ranks the whole
    frame as one group."""
    spark = df.sparkSession
    if num_partitions is None:
        num_partitions = int(spark.conf.get("spark.sql.shuffle.partitions", "32"))

    mono = F.monotonically_increasing_id()
    parts = (
        df.repartitionByRange(num_partitions, *group_cols, order_col)
        .sortWithinPartitions(*group_cols, order_col)
        .select(
            *df.columns,
            F.shiftrightunsigned(mono, 33).cast("int").alias("_pid"),
            mono.bitwiseAND(F.lit(_MONO_LOCAL_MASK)).alias("_lidx"),
        )
    )
    if pin:  # see module docstring: two-consumer layout pin
        parts = parts.localCheckpoint(eager=False)
    # per (partition, group): row count + base local index. Bounded by
    # partitions × groups-present-per-partition (a range-partitioned
    # layout touches each group in a contiguous partition span).
    cnt = parts.groupBy("_pid", *group_cols).agg(
        F.count("*").alias("_n"), F.min("_lidx").alias("_base")
    )
    w = (
        Window.partitionBy(*group_cols)
        .orderBy("_pid")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    off = cnt.select(
        "_pid",
        *group_cols,
        "_base",
        F.coalesce(F.sum("_n").over(w), F.lit(0)).alias("_off"),
    )
    return parts.join(F.broadcast(off), ["_pid", *group_cols]).select(
        *df.columns,
        (F.col("_off") + F.col("_lidx") - F.col("_base") + 1).alias("rank"),
    )
