"""Shared machinery of the perfbench workloads.

- :class:`Bench` owns one benchmark run: the SparkSession (started under
  the harness hygiene below), the run's work directory, the spans it
  records around calls into the engine, and the failure ledger.
- :func:`read_event_log` turns the Spark event log of a traced run into
  per-job-group aggregates (jobs, job intervals, tasks, shuffle and
  output bytes) and per-task run time and spill.

Spans are recorded in both modes because the end-to-end timings are made
of them. Only a traced run (``trace=True``) also tags Spark job groups,
writes the event log and takes the isolation snapshots, so the untraced
run carries none of that cost.
"""

from __future__ import annotations

import gc
import json
import math
import os
import statistics
import subprocess
import sys
import time
import traceback
from contextlib import contextmanager
from dataclasses import dataclass, field
from pathlib import Path

PACKAGE = "data_engineering_task_adtech_data_pipeline_spark"


@dataclass
class Span:
    name: str
    t0: float
    t1: float

    @property
    def wall(self) -> float:
        return self.t1 - self.t0


# A timing with no samples (every call it times failed) reads 0; the run
# still prints its result, with the failures in the ledger.


def median(xs) -> float:
    return statistics.median(xs) if xs else 0.0


def nearest_rank(xs, q: float) -> float:
    """Nearest-rank ``q``-quantile of ``xs`` (0 < q <= 1)."""
    s = sorted(xs)
    return s[max(0, math.ceil(q * len(s)) - 1)] if s else 0.0


def per_second(count: float, seconds: float) -> float:
    return count / seconds if seconds else 0.0


def tail_quantile(n_samples: int) -> float:
    """The highest quantile, capped at p90, that keeps at least ten
    samples beyond it; never below the median."""
    if n_samples <= 0:
        return 0.5
    return max(0.5, min(0.9, 1.0 - 10.0 / n_samples))


def dir_bytes(path: Path) -> tuple[int, int]:
    """(bytes, files) of the regular files under ``path``, skipping the
    committer's hidden and underscore-prefixed bookkeeping files."""
    total = files = 0
    if not path.exists():
        return 0, 0
    for dirpath, _dirs, names in os.walk(path):
        for n in names:
            if n.startswith((".", "_")):
                continue
            total += os.path.getsize(os.path.join(dirpath, n))
            files += 1
    return total, files


class Bench:
    """One run of one workload."""

    def __init__(self, root: Path, work: Path, seed: int, seconds: int,
                 trace: bool, cpus: int):
        self.root = root
        self.work = work
        self.seed = seed
        self.seconds = seconds
        self.trace = trace
        self.cpus = cpus
        self.spans: list[Span] = []
        self.attempted = 0
        self.failures: list[str] = []
        self.spark = None
        self.start_s = 0.0
        self.driver_memory = ""
        self.eventlog_dir = work / "eventlog"
        # (pass tag, query, session-conf keys changed, persistent RDDs left)
        self.isolation: list[tuple[str, str, list[str], int]] = []

    # -- session ------------------------------------------------------
    def start_session(self):
        from data_engineering_task_adtech_data_pipeline_spark.session import (
            get_spark,
        )

        conf = {
            "spark.ui.showConsoleProgress": "false",
            "spark.local.dir": str(self.work / "spark-local"),
            "spark.sql.warehouse.dir": str(self.work / "warehouse"),
            "spark.driver.extraJavaOptions": (
                f"-Djava.io.tmpdir={self.work / 'tmp'} "
                f"-Dderby.system.home={self.work}"
            ),
        }
        if self.trace:
            self.eventlog_dir.mkdir(parents=True, exist_ok=True)
            conf["spark.eventLog.enabled"] = "true"
            conf["spark.eventLog.dir"] = self.eventlog_dir.as_uri()
            conf["spark.eventLog.compress"] = "false"
            conf["spark.eventLog.rolling.enabled"] = "false"
        t0 = time.time()
        self.spark = get_spark("perfbench", extra_conf=conf)
        self.spark.range(1).count()  # first job: executor + codegen warm-up
        self.start_s = time.time() - t0
        self.driver_memory = self.spark.sparkContext.getConf().get("spark.driver.memory")
        return self.spark

    def stop_session(self) -> None:
        """Stop Spark and wait for the driver JVM to exit."""
        from pyspark import SparkContext

        if self.spark is None:
            return
        self.spark.stop()
        gateway = SparkContext._gateway
        proc = getattr(gateway, "proc", None)
        if gateway is not None:
            gateway.shutdown()
        if proc is not None:
            if proc.stdin:
                proc.stdin.close()
            try:
                proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
        self.spark = None

    def jvm_peak_rss_mb(self) -> float:
        """VmHWM of the driver JVM, the process that runs every task in
        local mode."""
        pid = self.spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()
        for line in Path(f"/proc/{pid}/status").read_text().splitlines():
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
        raise RuntimeError("VmHWM missing from /proc status")

    def jvm_gc_s(self) -> float:
        """Cumulative collection time of every JVM garbage collector."""
        jvm = self.spark.sparkContext._jvm
        beans = jvm.java.lang.management.ManagementFactory.getGarbageCollectorMXBeans()
        return sum(max(0, b.getCollectionTime()) for b in beans) / 1000.0

    def retained_heap_mb(self) -> float:
        """Force full collections in the driver JVM, untimed, and return
        the heap still in use (MB): the memory the run holds between calls.
        Unlike the resident set, it does not depend on how far the
        collector chose to grow the heap before collecting.

        Python's collector runs first, so Java objects held only by
        unreachable Python objects are released. A collection can leave
        more to free: Spark's ContextCleaner drops the blocks, broadcasts
        and shuffles of the objects it collected on a thread of its own.
        So collections repeat, a short pause apart, until one frees less
        than 1 MB."""
        jvm = self.spark.sparkContext._jvm
        memory = jvm.java.lang.management.ManagementFactory.getMemoryMXBean()
        gc.collect()
        used = math.inf
        for _ in range(10):
            jvm.java.lang.System.gc()
            before, used = used, memory.getHeapMemoryUsage().getUsed() / 2**20
            if before - used < 1.0:
                break
            time.sleep(0.3)
        return used

    # -- spans --------------------------------------------------------
    @contextmanager
    def span(self, name: str):
        """Time a call into the engine; in a traced run also tag every
        Spark job it launches with the job group ``name``."""
        sc = self.spark.sparkContext
        if self.trace:
            prev = sc.getLocalProperty("spark.jobGroup.id")
            sc.setLocalProperty("spark.jobGroup.id", name)
        t0 = time.time()
        try:
            yield
        finally:
            t1 = time.time()
            if self.trace:
                sc.setLocalProperty("spark.jobGroup.id", prev)
            self.spans.append(Span(name, t0, t1))

    def wall(self, name: str) -> float:
        return sum(s.wall for s in self.spans if s.name == name)

    # -- one query: build, noop action, check, release ---------------
    def run_query(self, tag: str, name: str, build, check=None) -> float | None:
        """Build the DataFrame and execute it, timed, then release what it
        persisted with ``chunking.release_persisted()``, untimed. Without
        ``check`` the action is the noop sink, which materializes every
        column; with it the action collects the rows (``toPandas``) and
        ``check(pdf)``, untimed, returns a problem string or None.
        Returns the timed wall, or None when the query or its check
        failed."""
        from data_engineering_task_adtech_data_pipeline_spark.operators import (
            chunking,
        )

        self.attempt()
        if self.trace:
            conf0, rdds0 = self._isolation_snapshot()
        wall = None
        try:
            t0 = time.time()
            with self.span(f"{tag}/{name}/build"):
                df = build()
            with self.span(f"{tag}/{name}/action"):
                if check is None:
                    df.write.format("noop").mode("overwrite").save()
                else:
                    pdf = df.toPandas()
            wall = time.time() - t0
            problem = check(pdf) if check is not None else None
            if problem:
                self.fail(f"{name} ({tag}): {problem}")
                wall = None
        except Exception as exc:  # keep measuring; counted in the ledger
            self.fail(f"{name} ({tag})", exc)
        finally:
            with self.span(f"{tag}/{name}/release"):
                chunking.release_persisted()
        if self.trace:
            conf1, rdds1 = self._isolation_snapshot()
            keys = {k for k in conf0.keys() | conf1.keys() if conf0.get(k) != conf1.get(k)}
            self.isolation.append((tag, name, sorted(keys), len(rdds1 - rdds0)))
        return wall

    def _isolation_snapshot(self) -> tuple[dict, set]:
        rdds = self.spark.sparkContext._jsc.getPersistentRDDs()
        return dict(self.spark.conf.getAll), {int(i) for i in rdds.keySet()}

    # -- failure ledger -------------------------------------------------
    def fail(self, what: str, exc: BaseException | None = None) -> None:
        self.failures.append(what)
        print(f"perfbench: FAILED {what}", file=sys.stderr)
        if exc is not None:
            traceback.print_exception(exc, file=sys.stderr)

    def attempt(self) -> None:
        self.attempted += 1

    def ok_op_share(self) -> float:
        return 1.0 - len(self.failures) / max(1, self.attempted)


# ---------------------------------------------------------------------------
# event log analysis (traced run only)
# ---------------------------------------------------------------------------


@dataclass
class GroupStats:
    jobs: int = 0
    job_intervals: list[tuple[float, float]] = field(default_factory=list)
    tasks: int = 0
    shuffle_bytes: int = 0
    output_bytes: int = 0


@dataclass
class EventLog:
    groups: dict[str, GroupStats]
    # (launch epoch seconds, executor run seconds, spilled bytes) per task
    tasks: list[tuple[float, float, int]]

    def group(self, name: str) -> GroupStats:
        return self.groups.get(name, GroupStats())

    def window(self, t0: float, t1: float) -> tuple[float, int]:
        """(executor run seconds, spilled bytes) of the tasks launched in
        [t0, t1]."""
        inside = [(run, spill) for launch, run, spill in self.tasks if t0 <= launch <= t1]
        return sum(r for r, _ in inside), sum(sp for _, sp in inside)


def read_event_log(directory: Path) -> EventLog:
    files = [p for p in directory.iterdir() if p.is_file()]
    if len(files) != 1:
        raise RuntimeError(f"expected one event log in {directory}, found {files}")
    groups: dict[str, GroupStats] = {}
    job_group: dict[int, str] = {}
    job_submit: dict[int, float] = {}
    stage_group: dict[int, str] = {}
    tasks: list[tuple[float, float, int]] = []
    with files[0].open() as fh:
        for line in fh:
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                g = (ev.get("Properties") or {}).get("spark.jobGroup.id") or ""
                jid = ev["Job ID"]
                job_group[jid] = g
                job_submit[jid] = ev["Submission Time"] / 1000.0
                groups.setdefault(g, GroupStats()).jobs += 1
            elif kind == "SparkListenerJobEnd":
                jid = ev["Job ID"]
                g = job_group.get(jid, "")
                groups.setdefault(g, GroupStats()).job_intervals.append(
                    (job_submit[jid], ev["Completion Time"] / 1000.0)
                )
            elif kind == "SparkListenerStageSubmitted":
                props = ev.get("Properties") or {}
                stage_group[ev["Stage Info"]["Stage ID"]] = (
                    props.get("spark.jobGroup.id") or ""
                )
            elif kind == "SparkListenerTaskEnd":
                g = stage_group.get(ev["Stage ID"], "")
                st = groups.setdefault(g, GroupStats())
                m = ev.get("Task Metrics") or {}
                info = ev["Task Info"]
                run = m.get("Executor Run Time", 0) / 1000.0
                st.tasks += 1
                st.shuffle_bytes += (m.get("Shuffle Write Metrics") or {}).get(
                    "Shuffle Bytes Written", 0
                )
                spill = m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
                st.output_bytes += (m.get("Output Metrics") or {}).get(
                    "Bytes Written", 0
                )
                tasks.append((info["Launch Time"] / 1000.0, run, spill))
    return EventLog(groups, tasks)


def union_within(intervals, t0: float, t1: float) -> float:
    """Length of the union of ``intervals`` clipped to [t0, t1]."""
    clipped = sorted(
        (max(a, t0), min(b, t1)) for a, b in intervals if b > t0 and a < t1
    )
    total, cur_a, cur_b = 0.0, None, None
    for a, b in clipped:
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total


# ---------------------------------------------------------------------------
# per-layer metrics shared by every workload (traced run only)
# ---------------------------------------------------------------------------

FAMILIES = ("dedup", "similarity", "text", "sketch", "graph", "multimodal",
            "sampling", "upsert", "joins", "streaming.jobs")


def family_prefix(family: str) -> str:
    return family if family == "streaming.jobs" else f"operators.{family}"


def query_layers(bench: Bench, log: EventLog, family_of: dict[str, str],
                 cold_tag: str, warm_tags: list[str]) -> dict[str, float]:
    """Per warm pass: each operator family's build and action walls, jobs,
    tasks and shuffle bytes; the build wall split into planning and the
    union of the job intervals it launched; the chunking release wall.
    Over the cold pass: the isolation counters."""
    spans = {s.name: s for s in bench.spans}
    out: dict[str, float] = {}
    for fam in FAMILIES:
        for fld in ("build_s", "action_s", "eager_jobs", "jobs", "tasks", "shuffle_bytes"):
            out[f"{family_prefix(fam)}.{fld}"] = 0.0
    plan = eager = release = 0.0
    for tag in warm_tags:
        for name, fam in family_of.items():
            b, a = spans.get(f"{tag}/{name}/build"), spans.get(f"{tag}/{name}/action")
            release += spans[f"{tag}/{name}/release"].wall
            if b is None or a is None:
                continue
            gb, ga = log.group(b.name), log.group(a.name)
            pre = family_prefix(fam)
            out[f"{pre}.build_s"] += b.wall
            out[f"{pre}.action_s"] += a.wall
            out[f"{pre}.eager_jobs"] += gb.jobs
            out[f"{pre}.jobs"] += gb.jobs + ga.jobs
            out[f"{pre}.tasks"] += gb.tasks + ga.tasks
            out[f"{pre}.shuffle_bytes"] += gb.shuffle_bytes + ga.shuffle_bytes
            e = union_within(gb.job_intervals, b.t0, b.t1)
            eager += e
            plan += b.wall - e
    n = max(1, len(warm_tags))
    out = {k: v / n for k, v in out.items()}
    cold = [iso for iso in bench.isolation if iso[0] == cold_tag]
    out.update({
        "plans.build_plan_s": plan / n,
        "plans.build_eager_s": eager / n,
        "operators.chunking.release_s": release / n,
        "session.conf_keys_leaked": sum(len(keys) for _t, _q, keys, _r in cold),
        "operators.chunking.rdds_left": sum(left for _t, _q, _k, left in cold),
    })
    return out


def session_layers(bench: Bench, log: EventLog, window: tuple[float, float],
                   gc_s: float, units: int) -> dict[str, float]:
    """Session-wide figures over the measured window, per repetition
    (pass or cycle): task slots busy, JVM GC time, spilled bytes."""
    t0, t1 = window
    busy, spill = log.window(t0, t1)
    n = max(1, units)
    return {
        "session.start_s": bench.start_s,
        "session.slot_busy_ratio": busy / ((t1 - t0) * bench.cpus),
        "session.gc_s": gc_s / n,
        "session.spill_bytes": spill / n,
    }
