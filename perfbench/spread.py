"""Run-to-run spread of the end-to-end metrics, over two sets of runs.

    python3 perfbench/spread.py --out perfbench/results/spread.json

Runs the benchmark untraced, sequentially: one set is one run per seed
``1..RUNS`` on every workload of ``BENCHMARK.json``, and two sets run one
after the other. Per set it prints, per metric, the median and the
spread: the distance between the first and third quartile
(``statistics.quantiles(values, n=4)``) as a share of the median. Per
metric it then prints the drift: how much worse the second set's median
is than the first's, as a share of the first (negative when it is
better). Both sit beside the metric's bound.
"""

from __future__ import annotations

import argparse
import json
import statistics
import subprocess
import sys
import time
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
RUNS = 10
SETS = 2


def spread(values: list[float]) -> float:
    q1, _q2, q3 = statistics.quantiles(values, n=4)
    med = statistics.median(values)
    return (q3 - q1) / med if med else float("inf")


def drift(first: float, second: float, better: str) -> float:
    if not first:
        return 0.0 if first == second else float("inf")
    worse = second - first if better == "lower" else first - second
    return worse / first


def run_set(spec: dict) -> dict:
    record = {}
    for w in (wl["name"] for wl in spec["workloads"]):
        values: dict[str, list[float]] = {}
        walls, failed = [], 0
        for seed in range(1, RUNS + 1):
            t0 = time.time()
            out = subprocess.run(
                [sys.executable, "perfbench/run.py", "--workload", w, "--seed", str(seed),
                 "--seconds", str(spec["run_seconds"]), "--trace", "0"],
                cwd=ROOT, capture_output=True, text=True, check=True,
            )
            walls.append(time.time() - t0)
            res = json.loads(out.stdout.strip().splitlines()[-1])
            failed += res["failed"]
            for name, m in res["metrics"].items():
                values.setdefault(name, []).append(m["value"])
            print(f"{w} seed {seed}: {walls[-1]:.1f}s correct={res['correct']}", file=sys.stderr)
        record[w] = {
            "run_wall_s": walls,
            "failed": failed,
            "metrics": {
                name: {"median": statistics.median(vs), "spread": spread(vs), "values": vs}
                for name, vs in values.items()
            },
        }
    return record


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--out", type=Path, required=True)
    args = ap.parse_args()
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    metrics = {m["name"]: m for m in spec["end_to_end"]}
    sets = [run_set(spec) for _ in range(SETS)]
    agreement = {}
    for w in sets[0]:
        agreement[w] = {}
        for name, m in metrics.items():
            meds = [s[w]["metrics"][name]["median"] for s in sets]
            spreads = [s[w]["metrics"][name]["spread"] for s in sets]
            d = drift(meds[0], meds[1], m["better"])
            agreement[w][name] = {"spreads": spreads, "drift": d, "bound": m["bound"]}
            print(f"{w:14s} {name:28s} median={meds[0]:12.4f} "
                  f"spreads={spreads[0]:.3f},{spreads[1]:.3f} drift={d:+.3f} "
                  f"bound={m['bound']}")
    args.out.parent.mkdir(parents=True, exist_ok=True)
    args.out.write_text(json.dumps({"runs_per_set": RUNS, "sets": sets,
                                    "agreement": agreement}, indent=1) + "\n")
    return 0


if __name__ == "__main__":
    sys.exit(main())
