"""Property-based tests (SURVEY.md §5.4): hypothesis-generated small
frames against brute-force Python references. Example counts are kept
low — each example pays a Spark job — but the generators cover the
edges unit fixtures miss (duplicate keys, ties, empty sides)."""

from __future__ import annotations

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

SETTINGS = dict(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)


def _encoded(df, cols):
    """``{row: (id of each of cols)}`` from ``encode_ids`` over a frame
    whose first column is a unique ``row``."""
    from als_hadoop_spark.operators.als import encode_ids

    return {r[0]: tuple(r[1:]) for r in encode_ids(df, cols).select("row", *cols).collect()}


def _ranks(values) -> dict:
    return {v: i for i, v in enumerate(sorted({v for v in values if v is not None}))}


@settings(**SETTINGS)
@given(
    keys=st.lists(st.integers(-(10**6), 10**6), min_size=1, max_size=40),
    others=st.lists(
        st.one_of(st.none(), st.integers(-(10**6), 10**6)), min_size=0, max_size=20
    ),
)
def test_dense_ids_is_sorted_bijection(spark, keys, others):
    """dense_ids == rank in sorted distinct order, for ANY key multiset
    (duplicates collapse, negatives sort before positives) — and the
    ALS pipeline's ``encode_ids`` gives each column (LONG and STRING
    here) its own sorted-distinct ranks. The STRING column shares half
    of the first's values as text and carries NULLs: a row with a NULL
    id is dropped and the other ids stay 0..n-1. 1 or 3 input
    partitions split the sets across tasks."""
    from als_hadoop_spark.functions.ids import dense_ids

    df = spark.createDataFrame([(k,) for k in keys], "k LONG")
    got = {r["k"]: r["dense_id"] for r in dense_ids(df, "k", num_partitions=3).collect()}
    assert got == _ranks(keys)

    col_b = [None if v is None else str(v) for v in others + keys[: (len(keys) + 1) // 2]]
    n = max(len(keys), len(col_b))
    rows = [(i, keys[i % len(keys)], col_b[i % len(col_b)]) for i in range(n)]
    two = spark.createDataFrame(rows, "row INT, a LONG, b STRING")
    a_ids, b_ids = _ranks(r[1] for r in rows), _ranks(r[2] for r in rows)
    want = {i: (a_ids[a], b_ids[b]) for i, a, b in rows if b is not None}
    for parts in (1, 3):
        assert _encoded(two.repartition(parts), ["a", "b"]) == want, parts


def test_encode_ids_float_keys_follow_spark_equality(spark):
    """DOUBLE ids: -0.0 and 0.0 are one id, every NaN is one id sorting
    after +inf (as ``distinct`` and ``ORDER BY`` treat them), and a
    NULL id drops its row."""
    nan, inf = float("nan"), float("inf")
    values = [0.0, -0.0, nan, inf, -inf, 1.5, nan, None, -2.0, 0.0]
    df = spark.createDataFrame(list(enumerate(values)), "row INT, x DOUBLE")
    # sorted distinct: -inf, -2.0, 0.0 (= -0.0), 1.5, inf, NaN
    assert _encoded(df, ["x"]) == {
        0: (2,), 1: (2,), 2: (5,), 3: (4,), 4: (0,), 5: (3,), 6: (5,),
        8: (1,), 9: (2,),
    }


@settings(**SETTINGS)
@given(
    lefts=st.lists(
        st.tuples(st.integers(0, 2), st.integers(0, 50)), min_size=1, max_size=25
    ),
    rights=st.lists(
        st.tuples(st.integers(0, 2), st.integers(0, 50)), min_size=0, max_size=25
    ),
)
def test_as_of_join_matches_bruteforce(spark, lefts, rights):
    """as_of_join == per-row 'latest right strictly before me on my
    key' brute force, including ties (same-ts right must NOT match)
    and keys with no right rows at all."""
    from als_hadoop_spark.operators.timeseries import as_of_join

    rights = list({(k, t): (k, t) for k, t in rights}.values())  # unique (key, ts)
    left = spark.createDataFrame(
        [(i, k, t) for i, (k, t) in enumerate(lefts)], "row_id LONG, k LONG, t LONG"
    )
    right = spark.createDataFrame(
        [(k, t, float(k * 100 + t)) for k, t in rights] or [(99, 99, 0.0)],
        "k LONG, rt LONG, val DOUBLE",
    )
    if not rights:
        right = right.filter("k < 0")  # truly empty right side
    out = {
        r["row_id"]: (r["asof_ts"], r["asof_val"])
        for r in as_of_join(
            left, right, on="k", left_ts="t", right_ts="rt", value_cols=["val"]
        ).collect()
    }
    for i, (k, t) in enumerate(lefts):
        prior = [(rt, v) for (rk, rt, v) in ((a, b, float(a * 100 + b)) for a, b in rights) if rk == k and rt < t]
        want = max(prior) if prior else (None, None)
        assert out[i] == want, f"row {i} (k={k}, t={t}): {out[i]} != {want}"


@settings(**SETTINGS)
@given(
    ids=st.lists(st.integers(0, 10**14), unique=True, min_size=1, max_size=30),
)
def test_mixture_sampling_is_layout_independent(spark, ids):
    """The mixture-sampling predicate must select the IDENTICAL doc set
    under any partition layout (its whole point vs F.rand/sample), and
    must agree with a host-side recomputation of the same arithmetic —
    including ids far beyond 2^31 (the overflow-guard range)."""
    from als_hadoop_spark.operators.text import _KNUTH, _MOD31, MIXTURE_RATES

    langs = ["en", "zh", "fr"]
    rows = [(i, langs[k % 3], 1, "x") for k, i in enumerate(ids)]
    docs = spark.createDataFrame(
        rows, "doc_id LONG, lang STRING, n_chars LONG, text STRING"
    )

    from pyspark.sql import functions as F

    def kept_set(df):
        u = F.pmod(F.pmod(F.col("doc_id"), F.lit(_MOD31)) * F.lit(_KNUTH), F.lit(_MOD31)) / F.lit(
            float(_MOD31)
        )
        rate = F.lit(1.0)
        for lang, r in MIXTURE_RATES.items():
            rate = F.when(F.col("lang") == lang, F.lit(r)).otherwise(rate)
        return {r["doc_id"] for r in df.filter(u < rate).select("doc_id").collect()}

    got1 = kept_set(docs.repartition(1))
    got7 = kept_set(docs.repartition(7, "lang"))
    want = {
        i
        for k, i in enumerate(ids)
        if ((i % _MOD31) * _KNUTH) % _MOD31 / _MOD31
        < MIXTURE_RATES.get(langs[k % 3], 1.0)
    }
    assert got1 == got7 == want


@settings(**SETTINGS)
@given(
    vals=st.lists(
        st.tuples(
            st.sampled_from(["A", "B"]),
            st.floats(0, 10**6, allow_nan=False, allow_infinity=False),
        ),
        min_size=1,
        max_size=40,
    )
)
def test_grouped_quantiles_match_numpy(spark, vals):
    """grouped_quantiles (the no-full-sort chunk-locate algorithm)
    equals numpy linear interpolation for every quantile level on any
    value multiset — single-element groups, ties, integral positions."""
    import numpy as np

    from als_hadoop_spark.functions.quantiles import grouped_quantiles

    qs = (("p25", 0.25), ("p50", 0.5), ("p90", 0.9), ("p100", 1.0))
    df = spark.createDataFrame(vals, "g STRING, v DOUBLE").repartition(5)
    out = grouped_quantiles(df, ["g"], "v", qs, num_partitions=3).collect()
    got = {(r["g"], r["q_name"]): (r["value"], r["n"]) for r in out}
    for g in {g for g, _ in vals}:
        data = [v for gg, v in vals if gg == g]
        for name, q in qs:
            want = float(np.percentile(data, q * 100))
            val, n = got[(g, name)]
            assert n == len(data)
            assert abs(val - want) < 1e-6, (g, name, val, want)


@settings(**SETTINGS)
@given(
    vals=st.lists(
        st.tuples(
            st.sampled_from(["A", "B"]),
            st.floats(0, 10**6, allow_nan=False, allow_infinity=False),
        ),
        min_size=1,
        max_size=40,
    )
)
def test_grouped_rank_percentiles_match_numpy(spark, vals):
    """The distributed rank-based exact percentile (grouped_ranks +
    interpolation) equals numpy's linear interpolation for any value
    multiset — including single-element groups (frac paths) and ties."""
    import numpy as np

    from als_hadoop_spark.functions.ids import grouped_ranks
    from pyspark.sql import functions as F

    df = spark.createDataFrame(vals, "g STRING, v DOUBLE").repartition(5)
    ranked = grouped_ranks(df, ["g"], "v", num_partitions=3)
    counts = df.groupBy("g").agg(F.count("*").alias("n"))
    j = ranked.join(F.broadcast(counts), "g")
    q = 0.9
    pos = (F.col("n") - 1) * F.lit(q)
    lo, frac = F.floor(pos) + 1, pos - F.floor(pos)
    got = {
        r["g"]: r["p"]
        for r in (
            j.filter((F.col("rank") == lo) | (F.col("rank") == lo + 1))
            .groupBy("g")
            .agg(
                F.max(F.when(F.col("rank") == lo, F.col("v"))).alias("vlo"),
                F.max(F.when(F.col("rank") == lo + 1, F.col("v"))).alias("vhi"),
                F.first(frac).alias("f"),
            )
            .select(
                "g",
                F.when(F.col("f") == 0, F.col("vlo"))
                .otherwise(F.col("vlo") + F.col("f") * (F.col("vhi") - F.col("vlo")))
                .alias("p"),
            )
            .collect()
        )
    }
    for g in {g for g, _ in vals}:
        want = float(np.percentile([v for gg, v in vals if gg == g], 90))
        assert abs(got[g] - want) < 1e-6, (g, got[g], want)


@settings(**SETTINGS)
@given(
    edges=st.lists(
        st.tuples(st.integers(0, 12), st.integers(0, 12)), min_size=0, max_size=25
    )
)
def test_connected_components_match_union_find(spark, edges):
    """large-star/small-star CC must equal a brute-force union-find on
    ANY small graph — self-loops, duplicate edges, chains, cliques."""
    from als_hadoop_spark.functions.graph import connected_components

    real = [(u, v) for u, v in edges if u != v]
    if not real:
        return
    df = spark.createDataFrame(real, "src LONG, dst LONG")
    got = {r["node"]: r["component"] for r in connected_components(df).collect()}

    parent: dict = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for u, v in real:
        ru, rv = find(u), find(v)
        if ru != rv:
            parent[max(ru, rv)] = min(ru, rv)
    want = {n: find(n) for n in parent}
    assert got == want


@settings(**SETTINGS)
@given(
    ts=st.lists(
        st.tuples(st.integers(0, 3), st.integers(0, 2000)), min_size=1, max_size=30
    )
)
def test_interval_merge_islands_match_bruteforce(spark, ts):
    """The running-max-end island windows must reproduce a brute-force
    interval sweep for ANY event multiset (ties, duplicates, nested and
    touching intervals). Span fixed at 100 time units."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    span = 100
    df = spark.createDataFrame(ts, "user_id LONG, t LONG").select(
        "user_id", F.col("t").alias("start"), (F.col("t") + span).alias("end")
    )
    w_prev = (
        Window.partitionBy("user_id")
        .orderBy("start", "end")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    w_run = (
        Window.partitionBy("user_id")
        .orderBy("start", "end")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    prev_end = F.max("end").over(w_prev)
    is_new = F.when(prev_end.isNull() | (F.col("start") > prev_end), 1).otherwise(0)
    got = sorted(
        (r["user_id"], r["s"], r["e"], r["n"])
        for r in df.select(
            "user_id", "start", "end", F.sum(is_new).over(w_run).alias("isl")
        )
        .groupBy("user_id", "isl")
        .agg(F.min("start").alias("s"), F.max("end").alias("e"), F.count("*").alias("n"))
        .collect()
    )

    want = []
    from collections import defaultdict

    by_user = defaultdict(list)
    for u, t in ts:
        by_user[u].append((t, t + span))
    for u, ivs in by_user.items():
        ivs.sort()
        cur_s, cur_e, cnt = ivs[0][0], ivs[0][1], 1
        for s, e in ivs[1:]:
            if s > cur_e:
                want.append((u, cur_s, cur_e, cnt))
                cur_s, cur_e, cnt = s, e, 1
            else:
                cur_e = max(cur_e, e)
                cnt += 1
        want.append((u, cur_s, cur_e, cnt))
    assert got == sorted(want)


@settings(**SETTINGS)
@given(
    pairs=st.lists(
        st.tuples(st.integers(0, (1 << 16) - 1), st.integers(0, (1 << 16) - 1)),
        min_size=1,
        max_size=40,
    )
)
def test_zvalue_matches_reference_interleave(spark, pairs):
    """The JVM Morton key equals the textbook bit interleave for any
    16-bit inputs — and is therefore a bijection on (x, y)."""
    from pyspark.sql import functions as F

    from als_hadoop_spark.sources.tables import zvalue

    def ref(x: int, y: int) -> int:
        z = 0
        for i in range(16):
            z |= ((x >> i) & 1) << (2 * i)
            z |= ((y >> i) & 1) << (2 * i + 1)
        return z

    df = spark.createDataFrame(pairs, "x LONG, y LONG")
    got = {
        (r["x"], r["y"]): r["z"]
        for r in df.select("x", "y", zvalue(F.col("x"), F.col("y")).alias("z")).collect()
    }
    for (x, y), z in got.items():
        assert z == ref(x, y), (x, y)
    assert len(set(got.values())) == len(set(pairs))  # bijective


@settings(**SETTINGS)
@given(
    toks=st.lists(
        st.tuples(st.text("abcde", min_size=1, max_size=3), st.integers(1, 99)),
        min_size=1,
        max_size=30,
        unique_by=lambda t: t[0],
    )
)
def test_global_ranks_matches_row_number(spark, toks):
    """global_ranks == row_number() OVER (ORDER BY freq DESC, tok) for
    any (tok, freq) table — including freq ties broken by the string
    column and descending order — while never sorting in one task."""
    from als_hadoop_spark.functions.ids import global_ranks
    from pyspark.sql import functions as F

    df = spark.createDataFrame(toks, "tok STRING, freq LONG").repartition(5)
    got = {
        r["tok"]: r["rank"]
        for r in global_ranks(
            df, [F.col("freq").desc(), F.col("tok")], num_partitions=3
        ).collect()
    }
    want = {
        tok: i + 1
        for i, (tok, _) in enumerate(sorted(toks, key=lambda t: (-t[1], t[0])))
    }
    assert got == want


@settings(**SETTINGS)
@given(
    rows=st.lists(
        st.tuples(
            st.sampled_from(["a", "b", "c"]),          # low-card group
            st.integers(0, 50),                         # order key
            st.one_of(st.none(), st.integers(0, 9)),    # lead value (nullable!)
        ),
        min_size=1,
        max_size=40,
    )
)
def test_distributed_lead_matches_window_lead(spark, rows):
    """distributed_lead == F.lead over partitionBy(group) for any
    frame — including NULL lead values (which must NOT be confused
    with 'no next row'), groups spanning partition boundaries, and
    single-row groups."""
    from als_hadoop_spark.functions.ids import distributed_lead
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    # make the order a total order per group (dedupe ties)
    uniq = {}
    for g, t, v in rows:
        uniq[(g, t)] = v
    data = [(g, t, v) for (g, t), v in uniq.items()]
    df = spark.createDataFrame(data, "g STRING, t LONG, v LONG").repartition(7)

    got = {
        (r["g"], r["t"]): r["v_next"]
        for r in distributed_lead(
            df, "g", ["t"], ["v"], num_partitions=3
        ).collect()
    }
    w = Window.partitionBy("g").orderBy("t")
    want = {
        (r["g"], r["t"]): r["v_next"]
        for r in df.withColumn("v_next", F.lead("v").over(w)).collect()
    }
    assert got == want


_PRUNE_FLOATS = [float("nan"), -0.0, 0.0, 1.5, -2.0, 3.0]
_PRUNE_STRINGS = ["", "a", "ab", "b"]
_PRUNE_VALUES = {
    "i": st.one_of(st.none(), st.integers(-3, 3)),
    "f": st.one_of(st.none(), st.sampled_from(_PRUNE_FLOATS)),
    "s": st.one_of(st.none(), st.sampled_from(_PRUNE_STRINGS)),
}
_PRUNE_LITERALS = {
    "i": st.integers(-3, 3),
    "f": st.sampled_from(_PRUNE_FLOATS + [2.5]),
    "s": st.sampled_from(_PRUNE_STRINGS + ["zz"]),
    "p": st.integers(-3, 3),
}
_ANY_LITERAL = st.one_of(
    st.integers(-3, 3),
    _PRUNE_LITERALS["f"],
    _PRUNE_LITERALS["s"],
    st.booleans(),
)


@st.composite
def _conjunct(draw):
    """(column, op, literal): the column's own type three times in
    four, any type (a cross-type literal) otherwise."""
    col = draw(st.sampled_from("ifsp"))
    op = draw(st.sampled_from(["=", "IN", "<", "<=", ">", ">="]))
    lit = _PRUNE_LITERALS[col] if draw(st.integers(0, 3)) else _ANY_LITERAL
    if op == "IN":
        return col, op, tuple(draw(st.lists(lit, min_size=1, max_size=3)))
    return col, op, draw(lit)


@st.composite
def _pruned_table(draw):
    """A replayed state of 1–4 small files (int ``i``, float ``f``,
    string ``s`` and int ``p`` columns with NULL, NaN and ±0.0), some
    partitioned on ``p``, some with blooms and Spark-writer stats (NaN
    above every number, -0.0 below 0.0), plus a random conjunct list
    that mixes in cross-type literals."""
    import json
    import math

    import pyarrow as pa

    from als_hadoop_spark.sources import acid_log

    partitioned = draw(st.booleans())
    bloom_cols = draw(st.lists(st.sampled_from("ifsp"), unique=True))
    files = {}
    live = {}
    for j in range(draw(st.integers(1, 4))):
        rows = draw(
            st.lists(st.fixed_dictionaries(_PRUNE_VALUES), min_size=1, max_size=6)
        )
        part = draw(_PRUNE_VALUES["i"])
        for r in rows:
            r["p"] = part if partitioned else draw(_PRUNE_VALUES["i"])
        tbl = pa.table(
            {
                "i": pa.array([r["i"] for r in rows], pa.int64()),
                "f": pa.array([r["f"] for r in rows], pa.float64()),
                "s": pa.array([r["s"] for r in rows], pa.string()),
                "p": pa.array([r["p"] for r in rows], pa.int64()),
            }
        )
        stats = acid_log.table_stats(tbl)
        fs = [r["f"] for r in rows if r["f"] is not None]
        if fs and draw(st.booleans()):
            fs.sort(key=lambda x: (x != x, 0.0 if x != x else x, math.copysign(1, x)))
            stats["f"] = [fs[0], fs[-1]]
        action = {"stats": stats, "added": 0}
        if partitioned:
            action["partition"] = {"p": part}
        blooms = acid_log.blooms_of(tbl, bloom_cols)
        if blooms:
            action["bloom"] = blooms
        files[f"f{j}"] = rows
        live[f"f{j}"] = action
    state = {"live": live, "schema_ops": []}
    state = json.loads(json.dumps(state))  # as the commit log carries it
    conjuncts = draw(st.lists(_conjunct(), min_size=1, max_size=3))
    return state, files, conjuncts


def _spark_holds(value, op, lit) -> bool:
    """``value op lit`` as Spark evaluates it: NULL satisfies nothing,
    -0.0 = 0.0, NaN = NaN and NaN sorts above every number. A literal
    of another type (bool / number / string) is a comparison Spark
    would not push; the reference counts it as satisfied, so the
    pruner must keep every file for it."""
    if op == "IN":
        return any(_spark_holds(value, "=", v) for v in lit)
    if value is None:
        return False

    def kind(x):
        return "b" if isinstance(x, bool) else "n" if isinstance(x, (int, float)) else "s"

    if kind(value) != kind(lit):
        return True

    def key(x):
        return (1, 0.0) if isinstance(x, float) and x != x else (0, x)

    a, b = key(value), key(lit)
    return {
        "=": a == b, "<": a < b, "<=": a <= b, ">": a > b, ">=": a >= b
    }[op]


@settings(max_examples=400, deadline=None)
@given(case=_pruned_table())
def test_prune_files_never_drops_a_matching_row(case):
    """``acid_log.prune_files`` keeps every file holding a row that
    satisfies all conjuncts: the rows of the kept files that satisfy
    the exact predicate are all rows that satisfy it."""
    from als_hadoop_spark.sources import acid_log

    state, files, conjuncts = case
    kept = set(acid_log.prune_files(state, conjuncts))

    def matching(names):
        return [
            (name, i)
            for name in names
            for i, row in enumerate(files[name])
            if all(_spark_holds(row[c], op, lit) for c, op, lit in conjuncts)
        ]

    assert matching(sorted(kept)) == matching(sorted(files))
