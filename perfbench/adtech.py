"""``adtech_cycles``: the reference's incremental ETL, end to end.

Set-up generates bronze with ``sources.generators.gen_all`` (seeded).
``Pipeline.initial_load()`` builds silver and gold. Then each cycle lands
one seeded delta batch in bronze and runs ``Pipeline.track_deltas()``:
anti-join CDC, versioned silver append, full gold rebuild. After every
load or cycle a read pass materializes the five lake outputs a consumer
queries: the three ``Pipeline.silver()`` latest-version views and the two
``Pipeline.gold()`` reports.

A delta batch carries ``BATCH_IMPRESSIONS`` impressions, clicks on about
``CTR`` of them, and one new advertiser with its campaigns. The
impressions go to a seeded hot set of ``HOT_SHARE`` of the existing
campaigns plus the new ones. Every event of cycle ``k`` is stamped in
hour ``k`` after the generated week, so later than every earlier event:
high-watermark CDC cannot see a row that does not advance its key's
watermark (the caveat in ``operators/delta.py``).

Correctness, after the last cycle: the five outputs must equal those of
a fresh ``initial_load()`` over a copy of the same bronze. That load's
wall is the second sample of ``initial_load_s``; the comparison is
untimed.
"""

from __future__ import annotations

import contextlib
import random
import shutil
import time
from collections import Counter

from pyspark.sql import functions as F

from data_engineering_task_adtech_data_pipeline_spark.plans import pipeline as pipeline_mod
from data_engineering_task_adtech_data_pipeline_spark.plans.pipeline import (
    TABLE_KEYS,
    Pipeline,
)
from data_engineering_task_adtech_data_pipeline_spark.sources.generators import (
    BASE_DATE,
    GenConfig,
    gen_all,
)

from harness import (
    Bench,
    dir_bytes,
    median,
    nearest_rank,
    per_second,
    query_layers,
    session_layers,
    tail_quantile,
)

ADVERTISERS = 20
CAMPAIGNS_PER_ADVERTISER = 20
IMPRESSIONS_PER_CAMPAIGN = 500
BATCH_IMPRESSIONS = 20_000
CTR = 0.08
HOT_SHARE = 0.10
AS_OF = "2024-01-10"
SETUP_REPS = 3
# The window buys one delta cycle per CYCLE_SECONDS of --seconds. The
# count is fixed by the window, not by how fast cycles run, so every
# commit appends the same number of silver versions and reads the same
# lake state.
CYCLE_SECONDS = 2.5
MIN_CYCLES = 2

BRONZE = ("advertiser", "campaign", "impressions", "clicks")
SILVER = list(TABLE_KEYS)
GOLD = ["advertiser_campaigns_totals_report", "advertiser_campaigns_daily_ctr_report"]
OUTPUTS = [("silver", t) for t in SILVER] + [("gold", t) for t in GOLD]
# lake reads are charged to the layer that serves them: the silver views
# are upsert's latest-version read, the gold reports plain scans
READ_FAMILY = {**{t: "upsert" for t in SILVER}, **{t: "joins" for t in GOLD}}


def n_cycles(seconds: int) -> int:
    return max(MIN_CYCLES, int(seconds / CYCLE_SECONDS))


def _gen_config(seed: int) -> GenConfig:
    return GenConfig(
        advertisers=ADVERTISERS,
        campaigns_per_advertiser=CAMPAIGNS_PER_ADVERTISER,
        impressions_per_campaign=IMPRESSIONS_PER_CAMPAIGN,
        ctr=CTR,
        seed=seed,
    )


class DeltaSource:
    """Seeded generator of the per-cycle delta batches."""

    def __init__(self, spark, pipe: Pipeline, seed: int):
        self.spark = spark
        self.seed = seed
        self.schemas = {t: pipe.bronze(t).schema for t in BRONZE}
        self.n_advertisers = ADVERTISERS
        self.n_campaigns = ADVERTISERS * CAMPAIGNS_PER_ADVERTISER
        self.next_impression_id = pipe.bronze("impressions").agg(F.max("id")).first()[0] + 1
        rng = random.Random(seed)
        self.hot = sorted(rng.sample(range(1, self.n_campaigns + 1),
                                     max(1, int(self.n_campaigns * HOT_SHARE))))

    def _conform(self, df, table):
        return df.select(*[F.col(f.name).cast(f.dataType) for f in self.schemas[table]])

    def batch(self, k: int) -> dict:
        """Delta batch of cycle ``k`` (1-based)."""
        spark, seed = self.spark, self.seed * 1000 + k
        # hour k after the generated week
        base = F.lit(f"{BASE_DATE} 00:00:00").cast("timestamp")
        hour0 = F.unix_timestamp(base) + (7 * 24 + k) * 3600
        adv_id = self.n_advertisers + 1
        first_camp = self.n_campaigns + 1
        new_camps = list(range(first_camp, first_camp + CAMPAIGNS_PER_ADVERTISER))
        self.n_advertisers += 1
        self.n_campaigns += CAMPAIGNS_PER_ADVERTISER

        stamp = F.timestamp_seconds(hour0)
        advertiser = spark.range(adv_id, adv_id + 1).select(
            F.col("id"),
            F.concat(F.lit("Advertiser "), F.col("id").cast("string")).alias("name"),
            stamp.alias("updated_at"),
            stamp.alias("created_at"),
        )
        start = F.lit(BASE_DATE).cast("date")
        campaign = spark.range(first_camp, first_camp + len(new_camps)).select(
            F.col("id"),
            F.concat_ws("_", F.lit("Campaign"), F.lit(adv_id), F.col("id")).alias("name"),
            F.round(F.rand(seed) * 4.5 + 0.5, 2).alias("bid"),
            F.round(F.rand(seed + 1) * 450 + 50, 2).alias("budget"),
            start.alias("start_date"),
            F.date_add(start, 30).alias("end_date"),
            F.lit(adv_id).alias("advertiser_id"),
            stamp.alias("updated_at"),
            stamp.alias("created_at"),
        )
        targets = self.hot + new_camps
        first_imp = self.next_impression_id
        self.next_impression_id += BATCH_IMPRESSIONS
        pick = F.pmod(F.xxhash64("id", F.lit(seed)), F.lit(len(targets))) + 1
        impressions = spark.range(first_imp, first_imp + BATCH_IMPRESSIONS).select(
            F.col("id"),
            F.element_at(F.array(*[F.lit(c) for c in targets]), pick.cast("int"))
            .alias("campaign_id"),
            # inside the first 3000 s of the hour, so clicks (+1..120 s) stay
            # inside it too and the next cycle's events are all later
            F.timestamp_seconds(hour0 + (F.rand(seed + 3) * 3000).cast("long"))
            .alias("created_at"),
        )
        clicks = impressions.where(
            F.pmod(F.xxhash64("id", F.lit(seed + 5)), F.lit(1_000_000))
            < int(CTR * 1_000_000)
        ).select(
            "id",
            "campaign_id",
            F.timestamp_seconds(
                F.unix_timestamp("created_at") + (F.rand(seed + 4) * 119 + 1).cast("long")
            ).alias("created_at"),
        )
        tables = {"advertiser": advertiser, "campaign": campaign,
                  "impressions": impressions, "clicks": clicks}
        return {t: self._conform(df, t) for t, df in tables.items()}


def _read(pipe: Pipeline, kind: str, table: str):
    return pipe.silver(table) if kind == "silver" else pipe.gold(table)


def _multiset(df) -> Counter:
    return Counter(tuple(r) for r in df.collect())


class _LayerTaps:
    """Runtime wrappers, traced run only: ``plans.pipeline.upsert_append``
    and ``Pipeline.rebuild_reports`` run inside their own spans (and job
    groups), so what remains of ``track_deltas`` is the CDC step."""

    def __init__(self, bench: Bench):
        self.bench = bench
        self.cycle = 0
        self.orig_append = pipeline_mod.upsert_append
        self.orig_rebuild = Pipeline.rebuild_reports

    def __enter__(self):
        bench, taps = self.bench, self

        def upsert_append(df, path, partition_by=()):
            with bench.span(f"cycle{taps.cycle}/upsert_append"):
                return taps.orig_append(df, path, partition_by=partition_by)

        def rebuild_reports(pipe):
            with bench.span(f"cycle{taps.cycle}/rebuild_reports"):
                return taps.orig_rebuild(pipe)

        pipeline_mod.upsert_append = upsert_append
        Pipeline.rebuild_reports = rebuild_reports
        return self

    def __exit__(self, *exc):
        pipeline_mod.upsert_append = self.orig_append
        Pipeline.rebuild_reports = self.orig_rebuild
        return False


def run(bench: Bench) -> dict:
    spark = bench.spark
    lake = bench.work / "lake"
    cfg = _gen_config(bench.seed)

    # -- set-up: generate bronze, several times; the last one is kept --
    setup = []
    for rep in range(SETUP_REPS):
        root = lake / f"setup{rep}"
        pipe = Pipeline(spark, str(root), as_of=AS_OF)
        with bench.span(f"setup{rep}/bronze_write"):
            pipe.write_bronze(gen_all(spark, cfg))
        setup.append(bench.wall(f"setup{rep}/bronze_write"))
        if rep < SETUP_REPS - 1:
            shutil.rmtree(root)

    source = DeltaSource(spark, pipe, bench.seed)
    with bench.span("initial_load"):
        pipe.initial_load()

    def read_pass(tag: str) -> list[float]:
        walls = []
        for kind, table in OUTPUTS:
            wall = bench.run_query(tag, table, lambda kind=kind, table=table: _read(pipe, kind, table))
            if wall is not None:
                walls.append(wall)
        return walls

    first_pass = read_pass("pass0")
    cycles, cycle_ids, passes, per_query, warm_tags = [], [], [], [], []
    changed, extract_rows, upsert_io = [], [], []
    taps = _LayerTaps(bench) if bench.trace else contextlib.nullcontext()
    gc0 = bench.jvm_gc_s()
    t_window = time.time()
    with taps:
        for k in range(1, n_cycles(bench.seconds) + 1):
            if bench.trace:
                taps.cycle = k
            batch = source.batch(k)
            with bench.span(f"cycle{k}/land"):
                pipe.append_bronze(batch)
            silver0 = dir_bytes(root / "silver")
            bench.attempt()
            try:
                with bench.span(f"cycle{k}/track_deltas"):
                    counts = pipe.track_deltas()
            except Exception as exc:  # keep measuring; counted in the ledger
                bench.fail(f"delta cycle {k}", exc)
                continue
            cycles.append(bench.wall(f"cycle{k}/track_deltas"))
            cycle_ids.append(k)
            changed.append(sum(counts.values()))
            silver1 = dir_bytes(root / "silver")
            upsert_io.append((silver1[0] - silver0[0], silver1[1] - silver0[1]))
            if bench.trace:  # untimed: the rows this cycle re-extracted
                with bench.span(f"cycle{k}/probe"):
                    extract_rows.append(sum(df.count() for df in pipe._extracts().values()))
            tag = f"pass{k}"
            walls = read_pass(tag)
            warm_tags.append(tag)
            if walls:  # a pass in which every read failed has no wall
                passes.append(sum(walls))
            per_query += walls
    t_window_end = time.time()
    gc_s = bench.jvm_gc_s() - gc0
    retained_heap = bench.retained_heap_mb()

    silver_bytes, _ = dir_bytes(root / "silver")
    gold_bytes, _ = dir_bytes(root / "gold")
    bronze_bytes, _ = dir_bytes(root / "bronze")
    layer = {
        "warm_tags": warm_tags,
        "window": (t_window, t_window_end),
        "gc_s": gc_s,
        "cycle_ids": cycle_ids,
        "changed_rows": changed,
        "extract_rows": extract_rows,
        "upsert_io": upsert_io,
    }
    if bench.trace:
        with bench.span("probe/silver_rows"):
            raw = sum(spark.read.parquet(pipe.paths.silver(t)).count() for t in SILVER)
            live = sum(pipe.silver(t).count() for t in SILVER)
        layer["silver_rows_per_live_row"] = raw / live if live else 0.0

    # -- correctness, untimed --------------------------------------------
    bench.attempt()
    check_root = lake / "check"
    shutil.copytree(root / "bronze", check_root / "bronze")
    fresh = Pipeline(spark, str(check_root), as_of=AS_OF)
    try:
        with bench.span("check/initial_load"):
            fresh.initial_load()
        with bench.span("check/compare"):
            mismatched = [
                table for kind, table in OUTPUTS
                if _multiset(_read(pipe, kind, table)) != _multiset(_read(fresh, kind, table))
            ]
    except Exception as exc:  # reported with the result, not instead of it
        bench.fail("correctness check", exc)
    else:
        if mismatched:
            bench.fail(f"incremental lake differs from a fresh load in {mismatched}")
        elif not changed or min(changed) == 0:
            bench.fail("a delta cycle changed no rows")

    # the tail quantile is fixed by the samples every run is sure to take
    tail = tail_quantile(len(OUTPUTS) * n_cycles(bench.seconds))
    metrics = {
        "setup_s": median(setup),
        # two samples: the timed load and the check's load of the final bronze
        "initial_load_s": median([bench.wall("initial_load"), bench.wall("check/initial_load")]),
        "first_pass_s": sum(first_pass),
        "warm_qps": per_second(len(OUTPUTS), median(passes)),
        "query_p50_s": nearest_rank(per_query, 0.5),
        "query_p90_s": nearest_rank(per_query, tail),
        "delta_cycle_p50_s": median(cycles),
        "stored_bytes_per_input_byte": (silver_bytes + gold_bytes) / bronze_bytes,
        "retained_heap_mb": retained_heap,
    }
    info = {
        "cycles": len(cycles),
        "bronze_bytes": bronze_bytes,
        "changed_rows_per_cycle": changed,
        "query_samples": len(per_query),
        "query_tail_quantile": tail,
    }
    return {"metrics": metrics, "layer": layer, "info": info}


def per_layer(bench: Bench, res: dict, log) -> dict[str, float]:
    lay = res["layer"]
    n = max(1, len(lay["cycle_ids"]))
    out = query_layers(bench, log, READ_FAMILY, "pass0", lay["warm_tags"])
    out.update(session_layers(bench, log, lay["window"], lay["gc_s"], n))
    detect = jobs = shuffle = append = rebuild = rebuild_jobs = rebuild_bytes = 0.0
    for k in lay["cycle_ids"]:
        appends = bench.wall(f"cycle{k}/upsert_append")
        reports = bench.wall(f"cycle{k}/rebuild_reports")
        detect += bench.wall(f"cycle{k}/track_deltas") - appends - reports
        g = log.group(f"cycle{k}/track_deltas")
        jobs += g.jobs
        shuffle += g.shuffle_bytes
        append += appends
        rebuild += reports
        r = log.group(f"cycle{k}/rebuild_reports")
        rebuild_jobs += r.jobs
        rebuild_bytes += r.output_bytes
    extract, changed = sum(lay["extract_rows"]), sum(lay["changed_rows"])
    out.update({
        "operators.delta.detect_s": detect / n,
        "operators.delta.extract_rows": extract / n,
        "operators.delta.changed_rows": changed / n,
        "operators.delta.useful_ratio": changed / extract if extract else 0.0,
        "operators.delta.jobs": jobs / n,
        "operators.delta.shuffle_bytes": shuffle / n,
        "operators.upsert.append_s": append / n,
        "operators.upsert.bytes_written": sum(b for b, _ in lay["upsert_io"]) / n,
        "operators.upsert.files_written": sum(f for _, f in lay["upsert_io"]) / n,
        "operators.upsert.silver_rows_per_live_row": lay["silver_rows_per_live_row"],
        "plans.reports.rebuild_s": rebuild / n,
        "plans.reports.jobs": rebuild_jobs / n,
        "plans.reports.bytes_written": rebuild_bytes / n,
        "sources.generators.bronze_write_s": res["metrics"]["setup_s"],
    })
    return out
