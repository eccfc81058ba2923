"""Record the traced run of every workload, with its tracing overhead.

    python3 perfbench/traced_report.py --out perfbench/results/traced.json

For each workload of ``BENCHMARK.json`` this runs the benchmark on seed
``SEED``, untraced and traced in turn, ``PAIRS`` times, so both modes
meet the same host conditions. It writes, per workload, the median of
every per-layer metric over the traced runs, the median of every
end-to-end metric in each mode, the tracing overhead (traced median minus
untraced median, per end-to-end metric) and every run's end-to-end
figures.
"""

from __future__ import annotations

import argparse
import json
import statistics
import subprocess
import sys
import tempfile
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
SEED = 1
PAIRS = 3


def _run(workload: str, seconds: int, trace: int) -> dict:
    with tempfile.TemporaryDirectory() as d:
        report = Path(d) / "report.json"
        subprocess.run(
            [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", str(SEED),
             "--seconds", str(seconds), "--trace", str(trace), "--report", str(report)],
            cwd=ROOT, check=True, stdout=subprocess.DEVNULL,
        )
        return json.loads(report.read_text())


def _medians(reports: list[dict], key: str) -> dict[str, float]:
    return {k: statistics.median(r[key][k] for r in reports) for k in reports[0][key]}


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--out", type=Path, required=True)
    args = ap.parse_args()
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    record = {}
    for w in (wl["name"] for wl in spec["workloads"]):
        plain, traced = [], []
        for _ in range(PAIRS):
            plain.append(_run(w, spec["run_seconds"], 0))
            traced.append(_run(w, spec["run_seconds"], 1))
        e2e_plain, e2e_traced = _medians(plain, "end_to_end"), _medians(traced, "end_to_end")
        record[w] = {
            "cpus": traced[0]["cpus"],
            "SPARK_GRAFT_CPUS": traced[0]["SPARK_GRAFT_CPUS"],
            "driver_memory": traced[0]["driver_memory"],
            "seed": SEED,
            "seconds": spec["run_seconds"],
            "pairs": PAIRS,
            "failures": {"untraced": [r["failures"] for r in plain],
                         "traced": [r["failures"] for r in traced]},
            "per_layer": _medians(traced, "per_layer"),
            "end_to_end_untraced": e2e_plain,
            "end_to_end_traced": e2e_traced,
            "tracing_overhead": {k: e2e_traced[k] - v for k, v in e2e_plain.items()},
            "runs": [
                {"trace": r["trace"], "run_wall_s": r["run_wall_s"], "end_to_end": r["end_to_end"]}
                for pair in zip(plain, traced) for r in pair
            ],
            "isolation_leaks": traced[0]["isolation"],
            "info": traced[0]["info"],
        }
        print(f"{w}: recorded", file=sys.stderr)
    args.out.parent.mkdir(parents=True, exist_ok=True)
    args.out.write_text(json.dumps(record, indent=1) + "\n")
    return 0


if __name__ == "__main__":
    sys.exit(main())
