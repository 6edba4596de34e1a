"""The benchmark's workloads. Each is one closed loop driven by a single
client thread: the next call starts when the previous one returned.

A workload supplies

- ``prepare()``: engine-side set-up, done once after the session set-ups
  and not part of ``setup_s``;
- ``before_pass(k)`` / ``after_pass(k)``: untimed resets and checks;
- ``ops(k)``: the calls of pass ``k``, as :class:`Op` records.

Passes ``-warm_up`` … ``-1`` are the untimed warm-up; the first pass's
outputs are checked against DuckDB twins where they exist and become
the reference every later pass must reproduce.

Inputs come from ``datagen`` and the workload seed only; the engine sees
nothing but the generated files.
"""

from __future__ import annotations

import dataclasses
import os
import shutil
import time
from collections.abc import Callable

import duckdb
import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

import datagen
from checks import fingerprint

#: Scale of each workload, full size and smoke-test size.
SCALES = {
    "full": {
        "sf": 0.01,
        "ratings": (943, 1682, 100_000),  # MovieLens-100k shape
        "acid_rows": 20_000,
        "acid_keys": 200,
    },
    "smoke": {
        "sf": 0.001,
        "ratings": (200, 300, 10_000),
        "acid_rows": 5_000,
        "acid_keys": 50,
    },
}


@dataclasses.dataclass
class Op:
    """One timed call. ``run`` is timed; ``check`` (untimed) gets its
    result and returns an error message, or None when the output is
    right. ``kind`` is ``"query"`` for read-only calls and ``"write"``
    for calls that build or change state (a model fit, a commit); the
    ``query_mean_s`` and ``write_mean_s`` metrics summarise them."""

    layer: str
    name: str
    run: Callable[[], object]
    check: Callable[[object], str | None]
    kind: str = ""


def _layer(fn) -> str:
    """``als_hadoop_spark.operators.udfs`` → ``operators.udfs``."""
    return fn.__module__.removeprefix("als_hadoop_spark.")


class Workload:
    name = ""
    #: untimed passes before the timed ones
    warm_up = 1
    #: timed passes per run, at least; every call's latency is its
    #: median over them. A fixed count, so that a slow host does not also
    #: move the medians along the warm-up curve.
    passes = 3

    def __init__(self, bench) -> None:
        self.b = bench
        self.scale = SCALES[bench.scale]
        self.dir = os.path.join(bench.work, self.name)
        self.duck = duckdb.connect()
        self.duck.execute("SET TimeZone = 'UTC'")

    @property
    def spark(self):
        return self.b.spark

    def rng(self, stream: int, k: int) -> np.random.Generator:
        """The seeded generator of one input stream for pass ``k``."""
        return np.random.default_rng([self.b.seed, stream, k + self.warm_up])

    def generate(self) -> dict:
        """Write the seeded inputs; returns what to record about them."""
        raise NotImplementedError

    def prepare(self) -> None:
        pass

    def before_pass(self, k: int) -> None:
        pass

    def ops(self, k: int) -> list[Op]:
        raise NotImplementedError

    def after_pass(self, k: int) -> str | None:
        return None

    def close(self) -> None:
        self.duck.close()


# ------------------------------------------------------------ ALS


class AlsTrainServe(Workload):
    """The paper's workflow: ratings CSV → dense ids → 0.8/0.2 split →
    ALS-WR fit (rank 20, 10 iterations, λ=0.065) → probe RMSE, then
    top-10 recommendations for every user."""

    name = "als_train_serve"
    #: a pass takes about 9 s; a third would take the run past a minute
    passes = 2
    #: probe RMSE must beat the global mean and stay in this band; the
    #: split is not reproducible run to run, so the value is not exact
    RMSE_BAND = (0.3, 0.9)
    TOP_K = 10
    #: serving calls per pass; the first call after a fit is the slower
    RECOMMENDS = 2

    def generate(self) -> dict:
        n_users, n_items, n = self.scale["ratings"]
        self.csv = os.path.join(self.dir, "ratings", "ratings.csv")
        rows = datagen.write_ratings_csv(self.csv, n_users, n_items, n, self.b.seed)
        return {"ratings": rows, "users": n_users, "items": n_items}

    def _train(self):
        from als_hadoop_spark.operators.als import reference_pipeline

        self.preds, self.rmse, self.base_rmse, self.model = reference_pipeline(
            self.spark, self.csv
        )
        return self.rmse, self.base_rmse

    def _check_train(self, res) -> str | None:
        rmse, base = res
        lo, hi = self.RMSE_BAND
        self.b.annotate(rmse=rmse)
        self.n_model_users = self.model.userFactors.count()
        if not (rmse < base and lo < rmse < hi):
            return f"rmse {rmse:.4f} (global mean {base:.4f}) outside ({lo}, {hi})"
        return None

    def _recommend_all(self):
        return self.model.recommendForAllUsers(self.TOP_K).toArrow()

    def _check_recs(self, tbl) -> str | None:
        recs = tbl.column("recommendations").to_pylist()
        if tbl.num_rows != self.n_model_users:
            return f"{tbl.num_rows} users recommended, expected {self.n_model_users}"
        if any(len(r) != self.TOP_K for r in recs):
            return "a user got fewer than top-k recommendations"
        scores_sorted = all(
            all(a["rating"] >= b["rating"] for a, b in zip(r, r[1:])) for r in recs
        )
        return None if scores_sorted else "recommendations not ordered by score"

    def ops(self, k: int) -> list[Op]:
        return [
            Op("operators.als", "train", self._train, self._check_train, kind="write"),
        ] + [
            Op("operators.als", f"recommend_all{i}", self._recommend_all,
               self._check_recs, kind="query")
            for i in range(self.RECOMMENDS)
        ]

    def after_pass(self, k: int) -> str | None:
        self.preds.unpersist()
        return None


# ------------------------------------------------------------ lakehouse


#: one registered query per operator module: JVM-only SQL operators,
#: then an operator that ships rows to Python workers over Arrow
JVM_QUERIES = (
    "q_groupby_sum",  # relational
    "q_sessionize",  # analytics
)
PYTHON_QUERIES = ("q_udf_groupfit",)  # udfs


class LakehouseMix(Workload):
    """Analytic reads, then an upsert. One pass runs the registered
    queries in a seeded order (scan/join/aggregate/window with AQE and
    codegen, and the Arrow hop to Python workers), then one MERGE through
    the SQL front door on a commit-log table with deletion vectors, a
    fold of its change feed into a rollup, and an ad-hoc SELECT. Every
    pass starts from the same table (reset untimed). The MERGE keeps a
    fixed place so that its latency does not depend on which query ran
    just before it."""

    name = "lakehouse_mix"
    READ_SQL = (
        "SELECT event_type, count(*) AS n, round(sum(value), 2) AS total "
        "FROM {t} WHERE value > 1 GROUP BY event_type"
    )

    def generate(self) -> dict:
        self.sf_dir = os.path.join(self.dir, "tables")
        counts = datagen.write_tables(self.sf_dir, self.scale["sf"], self.b.seed)
        for t in counts:
            self.duck.execute(
                f"CREATE VIEW {t} AS SELECT * FROM read_parquet("
                f"'{self.sf_dir}/{t}.parquet')"
            )
        rng = np.random.default_rng([self.b.seed, 6])
        n = self.scale["acid_rows"]
        tbl = datagen.events(rng, n, max(15, n // 60))
        # tz-aware so Spark reads TIMESTAMP and DuckDB TIMESTAMPTZ
        i = tbl.schema.get_field_index("ts")
        tbl = tbl.set_column(i, "ts", tbl.column("ts").cast(pa.timestamp("us", "UTC")))
        import __spark_entry__ as entry

        self.oracles = entry.oracle_sql()
        self.expect: dict[str, tuple] = {}
        os.makedirs(os.path.join(self.dir, "input"), exist_ok=True)
        self.events_file = os.path.join(self.dir, "input", "events.parquet")
        pq.write_table(tbl, self.events_file)
        return {"sf": self.scale["sf"], "rows": counts,
                "acid_rows": n, "keys_per_merge": self.scale["acid_keys"]}

    def _paths(self, tag: str) -> dict:
        root = os.path.join(self.dir, tag)
        return {"table": f"{root}/table", "rollup": f"{root}/rollup",
                "ckpt": f"{root}/ckpt", "root": root}

    def _fold_args(self, p: dict) -> dict:
        return dict(spark=self.spark, source_path=p["table"],
                    rollup_path=p["rollup"], keys=["event_type"],
                    sums={"total": "value"}, checkpoint_dir=p["ckpt"],
                    count_col="n")

    def prepare(self) -> None:
        """Create the pristine table (deletion vectors on) and bootstrap
        its rollup; every pass starts from a copy of the two."""
        from als_hadoop_spark.sources.acid import AcidTable
        from als_hadoop_spark.sources.tables import load
        from als_hadoop_spark.sql import acid_sql
        from als_hadoop_spark.streaming.cdf_source import maintain_rollup

        p = self._paths("pristine")
        shutil.rmtree(p["root"], ignore_errors=True)
        AcidTable(self.spark, p["table"]).append(
            load(self.spark, os.path.dirname(self.events_file), "events").coalesce(2)
        )
        acid_sql(self.spark, f"ALTER TABLE acid.`{p['table']}` SET TBLPROPERTIES "
                             "('deletionVectors' = 'true')")
        maintain_rollup(**self._fold_args(p))

    def before_pass(self, k: int) -> None:
        pristine = self._paths("pristine")
        shutil.rmtree(os.path.join(self.dir, "pass"), ignore_errors=True)
        self.p = self._paths("pass")
        for part in ("table", "rollup", "ckpt"):
            shutil.copytree(pristine[part], self.p[part])
        self.last = _dir_stats(self.p["table"])
        self.duck.execute(
            "CREATE OR REPLACE TABLE ev AS SELECT * FROM "
            f"read_parquet('{self.events_file}')"
        )
        rng = self.rng(7, k)
        n, n_keys = self.scale["acid_rows"], self.scale["acid_keys"]
        # existing keys (updates) and up to 10% new keys (inserts)
        keys = np.sort(rng.choice(n + n // 10, n_keys, replace=False))
        chg = datagen.events(rng, n_keys, max(15, n // 60))
        chg = chg.set_column(0, "event_id", pa.array(keys, pa.int64()))
        chg = chg.set_column(1, "ts", chg.column("ts").cast(pa.timestamp("us", "UTC")))
        f = os.path.join(self.p["root"], "change.parquet")
        pq.write_table(chg, f)
        self.supplied = os.path.getsize(f)
        self.spark.read.parquet(f).createOrReplaceTempView("chg")
        self.duck.execute(f"CREATE OR REPLACE VIEW chg AS SELECT * FROM read_parquet('{f}')")

    def _run_query(self, fn):
        t0 = time.perf_counter()
        df = fn(self.spark, self.sf_dir)
        # time until the query function returned its DataFrame
        self.b.annotate(build_s=time.perf_counter() - t0)
        return df.toArrow()

    def ops(self, k: int) -> list[Op]:
        import __spark_entry__ as entry
        from als_hadoop_spark.sql import acid_sql
        from als_hadoop_spark.streaming.cdf_source import maintain_rollup

        registry = entry.queries()
        order = self.rng(5, k).permutation(
            sorted(JVM_QUERIES + PYTHON_QUERIES))
        queries = [
            Op(_layer(registry[n]), n, lambda f=registry[n]: self._run_query(f),
               lambda t, n=n: self._check_query(n, t), kind="query")
            for n in order
        ]
        t = f"acid.`{self.p['table']}`"
        merge = (f"MERGE INTO {t} AS t USING chg AS s ON t.event_id = s.event_id "
                 "WHEN MATCHED THEN UPDATE SET * WHEN NOT MATCHED THEN INSERT *")
        read = self.READ_SQL.format(t=t)
        return queries + [
            Op("sources.acid", "merge", lambda: acid_sql(self.spark, merge),
               self._after_merge, kind="write"),
            Op("streaming.cdf_source", "fold",
               lambda: maintain_rollup(**self._fold_args(self.p)),
               lambda n: None if n == 1 else f"fold consumed {n} versions"),
            Op("sql", "read", lambda: acid_sql(self.spark, read).toArrow(),
               self._check_read, kind="query"),
        ]

    def _check_query(self, name: str, tbl) -> str | None:
        """The first result must match its DuckDB twin; every later
        pass must reproduce it."""
        got = fingerprint(tbl)
        if name not in self.expect:
            self.expect[name] = got
            if name in self.oracles:
                twin = fingerprint(self.duck.execute(self.oracles[name]).arrow())
                if got != twin:
                    return f"{name}: spark {got} != duckdb {twin}"
            return None
        want = self.expect[name]
        if got != want:
            return f"{name}: {got} differs from the first result {want}"
        return None

    def _after_merge(self, version) -> str | None:
        self.duck.execute("DELETE FROM ev WHERE event_id IN (SELECT event_id FROM chg); "
                          "INSERT INTO ev SELECT * FROM chg")
        now = _dir_stats(self.p["table"])
        self.b.annotate(
            **{k: now[k] - self.last[k] for k in ("bytes_data", "bytes_dv",
                                                    "bytes_cdc", "bytes_log")},
            data_files=now["data_files"], dv_files=now["dv_files"],
            table_bytes_before=self.last["bytes_data"] + self.last["bytes_dv"],
            supplied=self.supplied,
        )
        self.last = now
        return None if isinstance(version, int) else f"commit returned {version!r}"

    def _check_read(self, tbl) -> str | None:
        want = fingerprint(self.duck.execute(self.READ_SQL.format(t="ev")).arrow())
        got = fingerprint(tbl)
        return None if got == want else f"read {got} != duckdb {want}"

    def after_pass(self, k: int) -> str | None:
        """The rollup must equal a DuckDB recompute of the final table,
        taken from DuckDB's own replay of the same MERGE (the read
        already matched that replay)."""
        from als_hadoop_spark.sources.acid import AcidTable

        rollup = AcidTable(self.spark, self.p["rollup"]).snapshot().toArrow()
        rollup = rollup.select(["event_type", "total", "n"])
        rollup = rollup.set_column(1, "total", pc.round(rollup.column("total"), 2))
        want = self.duck.execute(
            "SELECT event_type, round(sum(value), 2) AS total, count(*) AS n "
            "FROM ev GROUP BY event_type"
        ).arrow()
        if fingerprint(rollup) != fingerprint(want):
            return "rollup differs from a recompute of the final table"
        return None


def _dir_stats(table: str) -> dict[str, int]:
    """Bytes under a table directory by role (data files at the root,
    deletion-vector sidecars, change-data files, commit log) and the
    data and sidecar file counts. Nothing is vacuumed during a pass, so
    ``data_files`` counts superseded files too."""
    out = dict(bytes_data=0, bytes_dv=0, bytes_cdc=0, bytes_log=0,
               data_files=0, dv_files=0)
    for e in os.scandir(table):
        if e.is_file() and e.name.endswith(".parquet"):
            out["bytes_data"] += e.stat().st_size
            out["data_files"] += 1
    for sub, role in (("_acid_dv", "dv"), ("_acid_cdc", "cdc"), ("_acid_log", "log")):
        for dirpath, _, files in os.walk(os.path.join(table, sub)):
            for f in files:
                out[f"bytes_{role}"] += os.path.getsize(os.path.join(dirpath, f))
                if role == "dv":
                    out["dv_files"] += 1
    return out


WORKLOADS = {w.name: w for w in (AlsTrainServe, LakehouseMix)}
