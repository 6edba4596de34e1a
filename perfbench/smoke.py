"""Self-test for the benchmark. Run from the root of a checkout:

    python3 perfbench/smoke.py

Runs every workload in ``BENCHMARK.json`` once untraced and once traced,
at the tiny ``smoke`` scale with seed 1, and fails unless each run is
correct and prints every end-to-end metric (untraced) or per-layer
metric (traced) named in ``BENCHMARK.json``, with its unit.
"""

from __future__ import annotations

import json
import subprocess
import sys


def one_run(workload: str, trace: int) -> tuple[dict, dict]:
    """(provenance, result) of one benchmark run."""
    cmd = [sys.executable, "perfbench/run.py", "--workload", workload,
           "--seed", "1", "--seconds", "1", "--trace", str(trace),
           "--scale", "smoke"]
    p = subprocess.run(cmd, capture_output=True, text=True, timeout=600)
    if p.returncode != 0:
        sys.stderr.write(p.stderr[-4000:])
        raise SystemExit(f"{workload} trace={trace}: exit {p.returncode}")
    lines = p.stdout.strip().splitlines()
    return json.loads(lines[-2])["provenance"], json.loads(lines[-1])


def main() -> int:
    with open("BENCHMARK.json") as f:
        spec = json.load(f)
    problems = []
    for w in (w["name"] for w in spec["workloads"]):
        for trace, key in ((0, "end_to_end"), (1, "per_layer")):
            prov, res = one_run(w, trace)
            if not res["correct"] or res["failed"]:
                problems.append(f"{w} trace={trace}: {prov['errors']}")
            for m in spec[key]:
                got = res["metrics"].get(m["name"])
                if got is None or got.get("unit") != m["unit"]:
                    problems.append(f"{w} trace={trace}: {m['name']} missing or "
                                    f"wrong unit: {got}")
        print(f"{w}: checked")
    for p in problems:
        print("FAIL", p)
    print("smoke:", "FAILED" if problems else "ok")
    return 1 if problems else 0


if __name__ == "__main__":
    sys.exit(main())
