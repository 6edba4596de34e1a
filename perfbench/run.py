"""Benchmark entry point. Run from the root of a checkout:

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

One closed-loop client (this process's main thread) drives one workload
against ``local[<half the cores>]``. The run sets the engine's session up
``SETUP_REPS`` times, lets the workload prepare its tables, runs the
workload's untimed warm-up passes, then runs whole timed passes until
``--seconds`` have elapsed and there are at least the workload's
``passes``. The last line of standard output is one JSON object
``{"correct", "attempted", "failed", "metrics"}``: the end-to-end metrics with ``--trace 0``, the per-layer
metrics with ``--trace 1`` (Spark's event log on, counters attributed
to the benchmark's spans). The line before it records provenance:
cores, heap, versions, seed, scales and sample counts.

Everything the run writes goes under ``.perfbench/`` in the checkout.
Exits 2 without a result when the engine is not importable.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import time
import traceback

ROOT = os.getcwd()
WORK = os.path.join(ROOT, ".perfbench", "work")
TRACES = os.path.join(ROOT, ".perfbench", "traces")
#: session set-ups per run; ``setup_s`` is their median. The first also
#: starts the JVM; the median is a set-up on a warm JVM.
SETUP_REPS = 3
#: driver heap: fits a 4-core, 15 GB machine with room for the Python
#: workers (the engine's own default is sized for a large server)
DRIVER_MEM = "4g"

#: per-layer counter names, by kind of layer
_SPARK = ("wall_s", "jobs", "tasks", "task_s", "gc_s", "input_bytes",
          "shuffle_read_bytes", "shuffle_write_bytes")
_PYTHON = ("python_run_s", "python_bytes_sent", "python_bytes_returned")
# a MERGE on a deletion-vector table writes no change-data files, so
# their bytes count only towards write_amp
_ACID = ("bytes_data", "bytes_dv", "bytes_log", "data_files", "dv_files",
         "scan_fraction", "write_amp")
LAYERS = {
    "session": ("wall_s", "jobs", "task_s"),
    "operators.als": _SPARK + ("spill_bytes", "train_s", "recommend_s", "rmse"),
    "operators.relational": _SPARK + ("build_s",),
    "operators.analytics": _SPARK + ("build_s",),
    "operators.udfs": _SPARK + ("build_s",) + _PYTHON,
    # reads of the ACID table go through a Python data source: Spark
    # counts neither input bytes nor Python worker time for them
    "sql": tuple(c for c in _SPARK + _PYTHON
                 if c not in ("input_bytes", "python_run_s")),
    "sources.acid": _SPARK + ("spill_bytes",) + _ACID,
    "streaming.cdf_source": _SPARK,
}
PER_LAYER = [f"{layer}.{c}" for layer, cs in LAYERS.items() for c in cs]
END_TO_END = {
    "setup_s": "s",
    "pass_s": "s",
    "query_mean_s": "s",
    "write_mean_s": "s",
}


def _cpu_times() -> list[int]:
    """The machine's CPU time counters from ``/proc/stat``."""
    with open("/proc/stat") as f:
        return [int(v) for v in f.readline().split()[1:]]


def _steal_share(before: list[int], after: list[int]) -> float:
    """Share of CPU time the hypervisor gave to other guests between two
    ``_cpu_times()`` readings, recorded with each run."""
    d = [b - a for a, b in zip(before, after)]
    return d[7] / sum(d) if sum(d) else 0.0


def _units(name: str) -> str:
    c = name.rsplit(".", 1)[1]
    if c.endswith("_s"):
        return "s"
    if "bytes" in c:
        return "B"
    return {"scan_fraction": "B/B", "write_amp": "B/B", "rmse": "rating"}.get(c, "count")


class Bench:
    """State of one run: the session, the tracer and the tallies."""

    def __init__(self, args) -> None:
        from spans import Tracer

        self.seed = args.seed
        self.scale = args.scale
        self.traced = bool(args.trace)
        self.work = WORK
        self.tracer = Tracer()
        self.spark = None
        self.attempted = 0
        self.failed = 0
        self.errors: list[str] = []
        self._op_span: dict | None = None

    # ---- session

    def conf(self) -> dict[str, str]:
        from spans import eventlog_conf

        tmp = os.path.join(self.work, "tmp")
        out = {
            "spark.ui.showConsoleProgress": "false",
            "spark.sql.warehouse.dir": os.path.join(self.work, "warehouse"),
            "spark.driver.extraJavaOptions": (
                # no hsperfdata file under /tmp
                f"-Xms{DRIVER_MEM} -XX:-UsePerfData -Djava.io.tmpdir={tmp} "
                f"-Dderby.system.home={os.path.join(self.work, 'derby')}"
            ),
        }
        if self.traced:
            os.makedirs(self.eventlog_dir, exist_ok=True)
            out.update(eventlog_conf(self.eventlog_dir))
        return out

    @property
    def eventlog_dir(self) -> str:
        return os.path.join(self.work, "eventlog")

    def start_session(self) -> None:
        from als_hadoop_spark.session import get_spark

        self.spark = get_spark("perfbench", extra_conf=self.conf())

    def stop(self) -> None:
        """Stop the session and the JVM, and wait for the JVM to exit."""
        from py4j.protocol import Py4JError
        from pyspark import SparkContext

        if self.spark is not None:
            try:
                self.spark.stop()
            except (Py4JError, OSError):  # the JVM is gone already
                traceback.print_exc()
            self.spark = None
        gw = SparkContext._gateway
        if gw is None:
            return
        proc = getattr(gw, "proc", None)
        gw.shutdown()
        SparkContext._gateway = None
        SparkContext._jvm = None
        if proc is not None:
            proc.stdin.close()  # the JVM exits when its stdin closes
            try:
                proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()

    def peak_rss_mb(self) -> float:
        pid = self.spark._jvm.java.lang.ProcessHandle.current().pid()
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024.0
        raise RuntimeError("VmHWM missing from /proc status")

    # ---- tallies

    def fail(self, msg: str) -> None:
        self.failed += 1
        self.errors.append(msg)
        print(f"perfbench: FAILED {msg}", file=sys.stderr)

    def annotate(self, **attrs) -> None:
        """Attach measurements to the span of the call just made."""
        self._op_span["attrs"].update(attrs)

    def run_op(self, op, k: int) -> None:
        self.attempted += 1
        span = None
        try:
            with self.tracer.span(op.layer, op.name, pass_no=k, kind=op.kind) as span:
                self._op_span = span
                res = op.run()
        except Exception as e:  # one failed call never stops the run
            if span is not None:
                span["attrs"]["error"] = True
            traceback.print_exc()
            self.fail(f"{op.name} (pass {k}): {type(e).__name__}: {e}")
            return
        try:
            err = op.check(res)
        except Exception as e:
            traceback.print_exc()
            err = f"check raised {type(e).__name__}: {e}"
        if err:
            span["attrs"]["error"] = True
            self.fail(f"{op.name} (pass {k}): {err}")

    def run_pass(self, wl, k: int) -> None:
        wl.before_pass(k)
        with self.tracer.span("pass", f"pass{k}", pass_no=k):
            for op in wl.ops(k):
                self.run_op(op, k)
        self.attempted += 1
        try:
            err = wl.after_pass(k)
        except Exception as e:  # a failed check never stops the run
            traceback.print_exc()
            err = f"{type(e).__name__}: {e}"
        if err:
            self.fail(f"pass {k}: {err}")


def run(args) -> dict:
    import pyspark

    from workloads import SCALES, WORKLOADS

    shutil.rmtree(WORK, ignore_errors=True)
    os.makedirs(os.path.join(WORK, "tmp"))
    # half the cores run tasks; the rest keep the JVM's compiler and GC
    # threads, the Python workers and this client off the task threads
    cores = max(1, len(os.sched_getaffinity(0)) // 2)
    os.environ.update(
        SPARK_GRAFT_CPUS=str(cores),
        SPARK_GRAFT_DRIVER_MEM=DRIVER_MEM,
        SPARK_LOCAL_DIRS=os.path.join(WORK, "local"),
        TMPDIR=os.path.join(WORK, "tmp"),
        PYSPARK_PYTHON=sys.executable,
        PYTHONPATH=os.pathsep.join(
            p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
        ),
    )
    os.environ.pop("SPARK_GRAFT_MASTER", None)

    b = Bench(args)
    wl = WORKLOADS[args.workload](b)
    prov = {
        "workload": args.workload,
        "seed": args.seed,
        "seconds": args.seconds,
        "trace": args.trace,
        "cores": cores,
        "driver_mem": DRIVER_MEM,
        "pyspark": pyspark.__version__,
        "scale": {args.scale: SCALES[args.scale]},
        "inputs": wl.generate(),
        "phase_s": {},
    }
    t_phase = time.perf_counter()
    cpu0 = _cpu_times()

    def phase(name: str) -> None:
        nonlocal t_phase
        now = time.perf_counter()
        prov["phase_s"][name] = round(now - t_phase, 3)
        t_phase = now

    try:
        setup = []
        for r in range(SETUP_REPS):
            if b.spark is not None:
                b.spark.stop()
            with b.tracer.span("session", f"setup{r}", rep=r) as s:
                b.start_session()
                b.spark.range(1000).selectExpr("sum(id)").collect()
            setup.append(s["wall_s"])
        phase("setup")
        # its own span, so that its jobs count towards no layer
        with b.tracer.span("prepare", "prepare"):
            wl.prepare()
        phase("prepare")
        for k in range(-wl.warm_up, 0):
            b.run_pass(wl, k)
        phase("warmup")

        # whole passes, until the time is up and there are as many as
        # the workload needs for its medians
        deadline = time.perf_counter() + args.seconds
        k = 0
        while k < wl.passes or time.perf_counter() < deadline:
            b.run_pass(wl, k)
            k += 1
        rss = b.peak_rss_mb()
        phase("timed")
    finally:
        wl.close()
        b.stop()
    phase("stop")

    spans = b.tracer.spans
    passes = {s["attrs"]["pass_no"] for s in spans
              if s["layer"] == "pass" and s["attrs"]["pass_no"] >= 0}
    ops = [s for s in spans if s["layer"] not in ("pass", "session")
           and s["attrs"].get("pass_no", -1) >= 0 and not s["attrs"].get("error")]
    pass_walls = [sum(s["wall_s"] for s in ops if s["attrs"]["pass_no"] == k)
                  for k in sorted(passes)]
    # every call of a pass has its own name; its latency is the median
    # over the timed passes, which leaves out the calls that fell into
    # one of the host's slow spells
    by_op: dict[str, list[float]] = {}
    kind_of: dict[str, str] = {}
    for s in ops:
        by_op.setdefault(s["name"], []).append(s["wall_s"])
        kind_of[s["name"]] = s["attrs"]["kind"]
    op_s = {n: statistics.median(v) for n, v in by_op.items()}
    of_kind = {kind: [v for n, v in op_s.items() if kind_of[n] == kind]
               for kind in ("query", "write")}
    prov.update(
        setup_samples=setup, passes=len(passes), pass_samples=pass_walls,
        op_samples=by_op, peak_rss_mb=rss,
        host_steal=round(_steal_share(cpu0, _cpu_times()), 4),
        errors=b.errors[:20],
    )
    # a metric whose every call failed is left out; the run is then
    # not correct anyway
    e2e = {
        "setup_s": statistics.median(setup),
        "pass_s": sum(op_s.values()) if op_s else None,
        "query_mean_s": statistics.mean(of_kind["query"]) if of_kind["query"] else None,
        "write_mean_s": statistics.mean(of_kind["write"]) if of_kind["write"] else None,
    }
    prov["end_to_end"] = e2e
    if args.trace:
        unclaimed = b.tracer.attribute(b.eventlog_dir)
        layers = per_layer(spans, passes)
        metrics = {n: {"value": layers[n], "unit": _units(n)} for n in PER_LAYER}
        b.tracer.dump(
            os.path.join(TRACES, f"{args.workload}-seed{args.seed}.json"),
            provenance=prov, unclaimed=unclaimed, per_layer=layers,
        )
    else:
        metrics = {n: {"value": v, "unit": END_TO_END[n]}
                   for n, v in e2e.items() if v is not None}
    print(json.dumps({"provenance": prov}, default=str))
    return {
        "correct": b.failed == 0,
        "attempted": b.attempted,
        "failed": b.failed,
        "metrics": metrics,
    }


def per_layer(spans: list[dict], passes: set) -> dict[str, float]:
    """Per-layer counters per timed pass (``session`` per set-up), from
    the attributed spans."""
    sums = {n: 0.0 for n in PER_LAYER}

    def add(layer: str, counter: str, v: float) -> None:
        key = f"{layer}.{counter}"
        if key in sums:
            sums[key] += v

    reps = 0
    rmse = []
    acid_input = acid_before = acid_added = acid_supplied = 0.0
    for s in spans:
        layer, a = s["layer"], s["attrs"]
        if layer == "session":
            reps += 1
        elif a.get("pass_no") not in passes or layer == "pass":
            continue
        add(layer, "wall_s", s["wall_s"])
        for c, v in s["counters"].items():
            add(layer, c, v)
        add(layer, "build_s", a.get("build_s", 0.0))
        if layer == "operators.als":
            add(layer, "train_s" if s["name"] == "train" else "recommend_s", s["wall_s"])
            if "rmse" in a:
                rmse.append(a["rmse"])
        if "supplied" in a:  # an ACID commit, with its directory counters
            added = [a[c] for c in ("bytes_data", "bytes_dv", "bytes_cdc", "bytes_log")]
            for c in ("bytes_data", "bytes_dv", "bytes_log", "data_files", "dv_files"):
                add(layer, c, a[c])
            acid_input += s["counters"].get("input_bytes", 0.0)
            acid_before += a["table_bytes_before"]
            acid_added += sum(added)
            acid_supplied += a["supplied"]

    out = {}
    for n, v in sums.items():
        div = reps if n.startswith("session.") else len(passes)
        out[n] = v / div if div else 0.0
    out["sources.acid.scan_fraction"] = acid_input / acid_before if acid_before else 0.0
    out["sources.acid.write_amp"] = acid_added / acid_supplied if acid_supplied else 0.0
    out["operators.als.rmse"] = statistics.mean(rmse) if rmse else 0.0
    return out


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--scale", choices=("full", "smoke"), default="full",
                    help="smoke: tiny inputs, for the benchmark's self-test")
    args = ap.parse_args(argv)

    sys.path.insert(0, ROOT)
    try:
        import __spark_entry__  # noqa: F401
        import als_hadoop_spark  # noqa: F401
    except ImportError as e:
        print(f"perfbench: the engine is not importable from {ROOT}: {e}",
              file=sys.stderr)
        return 2
    from workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; one of "
              f"{sorted(WORKLOADS)}", file=sys.stderr)
        return 2
    result = run(args)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
