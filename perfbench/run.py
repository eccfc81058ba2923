"""perfbench: the repository's benchmark.

    python3 perfbench/run.py --workload adtech_cycles --seed 1 --seconds 5 --trace 0

Runs one workload in one process on ``local[nproc]`` and prints, as the
last line of standard output, one JSON object:
``{"correct", "attempted", "failed", "metrics"}``. With ``--trace 0`` the
metrics are the ``end_to_end`` ones of ``BENCHMARK.json``, measured with
no tracing; with ``--trace 1`` they are the ``per_layer`` ones, from a run
that tags Spark job groups, writes a Spark event log and snapshots session
state around every query. ``--report PATH`` also writes every figure the
run has, with the run's settings, to PATH.

Workloads:
- ``adtech_cycles`` (``adtech.py``): initial load, then seeded delta cycles.
- ``query_mix`` (``querymix.py``): the reference-parity core queries and
  one training-data query per operator family, in seeded order.

Harness hygiene: ``SPARK_GRAFT_CPUS`` is pinned to the CPUs this process
may use; ``PYTHONPATH`` carries the repository root so Python workers can
import the package from wherever the command is launched; the console
progress bar is off so standard output carries only the result; temp
files, Spark local dirs and the event log stay in a per-run work
directory under ``.perfbench_work`` in the checkout, removed at exit.
The harness starts no processes of its own; Spark runs at most one task
per CPU.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time
from contextlib import contextmanager
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
sys.path.insert(0, str(HERE))

from harness import PACKAGE, Bench, read_event_log  # noqa: E402

WORKLOADS = ("adtech_cycles", "query_mix")
# The driver heap is capped below the package default (8g), so a run
# holds little memory on a shared host: under 8g the resident set of
# query_mix grew to 2.3 to 3.9 GB over five seeds, under 2g to 1.2 to 1.8.
DRIVER_MEMORY = "2g"


def _parse(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--report", type=Path, default=None)
    return ap.parse_args(argv)


def _hygiene(work: Path, cpus: int) -> None:
    """Process environment every run gets, set before Spark starts."""
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
    os.environ["SPARK_DRIVER_MEM"] = DRIVER_MEMORY
    paths = [str(ROOT)] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    os.environ["PYTHONPATH"] = os.pathsep.join(paths)
    sys.path.insert(0, str(ROOT))
    (work / "tmp").mkdir(parents=True)
    os.environ["TMPDIR"] = str(work / "tmp")
    # HotSpot keeps its perf-data file in /tmp, outside the checkout; every
    # JVM here skips it. The caller's own options are kept.
    opts = os.environ.get("JAVA_TOOL_OPTIONS", "").split()
    os.environ["JAVA_TOOL_OPTIONS"] = " ".join([*opts, "-XX:-UsePerfData"])
    import tempfile

    tempfile.tempdir = None  # re-read TMPDIR


@contextmanager
def _stdout_to_stderr():
    """Send everything this process and its children write to standard
    output to standard error, so the result line stands alone."""
    sys.stdout.flush()
    saved = os.dup(1)
    os.dup2(2, 1)
    try:
        yield
    finally:
        sys.stdout.flush()
        os.dup2(saved, 1)
        os.close(saved)


def _run(bench: Bench, workload: str) -> dict:
    """The end-to-end and (traced run) per-layer figures of one run."""
    import adtech
    import querymix

    bench.start_session()
    module = adtech if workload == "adtech_cycles" else querymix
    res = module.run(bench)
    e2e = dict(res["metrics"])
    e2e["ok_op_share"] = bench.ok_op_share()
    peak_rss_mb = bench.jvm_peak_rss_mb()
    bench.stop_session()
    layer = {}
    if bench.trace:
        log = read_event_log(bench.eventlog_dir)
        layer = module.per_layer(bench, res, log)
        layer["session.peak_rss_mb"] = peak_rss_mb
    return {"end_to_end": e2e, "per_layer": layer, "info": res["info"]}


def _select(figures: dict, specs: list[dict], absent_is_zero: bool) -> dict:
    """The metrics ``specs`` names, with their units. A per-layer metric
    of a layer the workload does not run reads 0."""
    names = {s["name"] for s in specs}
    unknown = set(figures) - names
    missing = names - set(figures)
    if unknown or (missing and not absent_is_zero):
        raise RuntimeError(f"metrics not in BENCHMARK.json {sorted(unknown)}, "
                           f"not produced {sorted(missing)}")
    figures = {**{n: 0.0 for n in missing}, **figures}
    return {s["name"]: {"value": figures[s["name"]], "unit": s["unit"]} for s in specs}


def main(argv=None) -> int:
    args = _parse(argv)
    if not (ROOT / PACKAGE / "__init__.py").is_file():
        print(f"perfbench: package {PACKAGE} not found under {ROOT}", file=sys.stderr)
        return 2
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    cpus = len(os.sched_getaffinity(0))
    work = ROOT / ".perfbench_work" / f"{args.workload}-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    _hygiene(work, cpus)
    bench = Bench(ROOT, work, args.seed, args.seconds, bool(args.trace), cpus)
    t0 = time.time()
    try:
        with _stdout_to_stderr():
            figures = _run(bench, args.workload)
    finally:
        bench.stop_session()
        shutil.rmtree(work, ignore_errors=True)
    wanted = spec["per_layer"] if args.trace else spec["end_to_end"]
    pool = figures["per_layer"] if args.trace else figures["end_to_end"]
    result = {
        "correct": not bench.failures,
        "attempted": bench.attempted,
        "failed": len(bench.failures),
        "metrics": _select(pool, wanted, absent_is_zero=bool(args.trace)),
    }
    if args.trace:
        figures["per_layer"] = {k: m["value"] for k, m in result["metrics"].items()}
    if args.report:
        args.report.parent.mkdir(parents=True, exist_ok=True)
        args.report.write_text(json.dumps({
            "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
            "trace": args.trace, "cpus": cpus,
            "SPARK_GRAFT_CPUS": os.environ["SPARK_GRAFT_CPUS"],
            "driver_memory": bench.driver_memory, "run_wall_s": time.time() - t0,
            "failures": bench.failures,
            "isolation": [iso for iso in bench.isolation if iso[2] or iso[3]],
            **figures,
            "spans": [[sp.name, round(sp.t0 - t0, 4), round(sp.wall, 4)] for sp in bench.spans],
        }, indent=1, default=float) + "\n")
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
