"""Per-commit marginal cost of the stateful ACID queries (r11,
VERDICT r10 #8 — "twin honesty").

q_acid_incremental / q_acid_ivm_loop race N REAL transactional commits
against a stateless DuckDB recompute, so the bench ratio structurally
penalizes the product for having state. This records the metric the
ratio hides: SECONDS PER FOLD STEP at x100 — derived from the SHIPPED
code path, not a reimplementation: the query runs untouched and the
per-commit intervals are read off the scratch table's commit-log
publish mtimes afterwards (the log file's mtime IS the publish
instant; the gap between consecutive publishes is the full cost of
that fold step, compute included).

Usage:
    python scripts/bench_acid_marginal.py [sf_dir]
Default sf_dir: /tmp/sf01_x100. Prints one JSON line per query.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def commit_intervals(table_dir: str) -> list[float]:
    """Publish-to-publish gaps (seconds) between consecutive commit
    JSONs, ordered by version."""
    from als_hadoop_spark.sources import acid_log

    stamps = [
        os.path.getmtime(acid_log.entry_path(table_dir, v))
        for v in acid_log.versions(table_dir)
    ]
    return [round(b - a, 2) for a, b in zip(stamps, stamps[1:])]


def main():
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/tmp/sf01_x100"
    from als_hadoop_spark.operators import timeseries
    from als_hadoop_spark.session import get_spark
    from als_hadoop_spark.sources import acid_log

    spark = get_spark(
        "acid_marginal", cpus=int(os.environ.get("SPARK_GRAFT_CPUS", 32))
    )
    spark.sparkContext.setLogLevel("ERROR")
    app = spark.sparkContext.applicationId
    scratch = os.path.join("/tmp", "spark_graft_acid")
    base = os.path.basename(sf_dir.rstrip("/"))
    # tag -> the scratch table(s) whose log carries the commits
    plan = {
        "q_acid_incremental": ["ivm"],
        "q_acid_ivm_loop": ["ivmloop_src", "ivmloop_roll"],
        "q_acid_merge": ["merge"],
    }
    for qname, tags in plan.items():
        fn = timeseries.QUERIES[qname]
        t0 = time.time()
        n_rows = fn(spark, sf_dir).count()
        total = round(time.time() - t0, 2)
        rec = {
            "query": qname,
            "sf_dir": sf_dir,
            "total_sec": total,
            "rows": n_rows,
        }
        for tag in tags:
            d = os.path.join(scratch, f"{app}-{tag}-{base}")
            if acid_log.versions(d):
                iv = commit_intervals(d)
                rec[f"commits_{tag}"] = len(iv) + 1
                rec[f"intervals_{tag}"] = iv
                if iv:
                    rec[f"marginal_avg_{tag}"] = round(
                        sum(iv) / len(iv), 2
                    )
        print(json.dumps(rec), flush=True)


if __name__ == "__main__":
    main()
