"""``query_mix``: battery queries in seeded order.

The mix is the reference-parity core (q01-q09) and one training-data
query per operator family. It runs over the committed input tables in
``data/sf0.01``, a copy of the shared sf0.01 test data.

- Set-up, several times: read every input table once through
  ``sources.readers.read_table``.
- Load: every ``prepare`` hook of the mix (the index and stream-landing
  builds the battery keeps out of its timed path), into a fresh cache
  root.
- One cold pass, then warm passes, each a seeded permutation of the mix.
  Warm passes start until ``--seconds`` have passed; at least
  ``MIN_WARM_PASSES`` run.

A query is timed from the start of its DataFrame build to the end of its
action: in warm passes the noop sink, in the cold pass collecting its
rows with ``toPandas``. ``chunking.release_persisted()`` runs after every
query, untimed.

Correctness, untimed, on the rows the cold pass collects: each query's
row count, columns and order-insensitive fingerprint, its cells
normalized as ``tools/oracle_check.py`` normalizes them, must equal
``expected.json``. ``record_expected.py`` recorded those only where the
DuckDB oracle's rows, normalized the same way, agreed.
"""

from __future__ import annotations

import hashlib
import json
import random
import sys
import tempfile
import time
from pathlib import Path

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

DATA = Path(__file__).resolve().parent / "data" / "sf0.01"
EXPECTED = Path(__file__).resolve().parent / "expected.json"
SETUP_REPS = 3

# Reference-parity core queries: short, so their cost is mostly fixed
# per-query overhead (planning, job scheduling, small shuffles). q05 is the
# anti-join CDC step, q06 the upsert layer's latest-version view.
CORE = [
    "q01_pricing_summary", "q04_daily_ctr_report", "q05_delta_antijoin",
    "q06_upsert_dedup",
]

# One training-data query per operator family, the family named beside it.
# q88 and q107 build their DataFrame with eager driver-synchronous jobs;
# q107 leaves persisted RDDs behind and q110 a session-conf change.
CURATION = {
    "q12_ngram_jaccard": "dedup",
    "q49_embedding_dup_pairs": "similarity",
    "q88_bpe_learn_merges": "text",
    "q64_hll_distinct": "sketch",
    "q107_triangle_count": "graph",
    "q110_audio_resample": "multimodal",
    "q66_mixture_sample": "sampling",
    "q135_stream_kmv_monitor": "streaming.jobs",
}

# The one static table that maps each query to the operator family its
# per-layer figures are charged to.
FAMILY = {
    **{q: "joins" for q in CORE},
    "q06_upsert_dedup": "upsert",
    **CURATION,
}
QUERY_MIX = list(FAMILY)
MIN_WARM_PASSES = 2


def fingerprint(pdf) -> dict:
    """Row count, sorted columns and an order-insensitive digest of the
    rows, each cell normalized as the oracle gate normalizes it."""
    from oracle_check import frame_multiset

    rows = sorted(frame_multiset(pdf).items())
    digest = hashlib.sha256(repr(rows).encode()).hexdigest()
    return {"rows": len(pdf), "columns": sorted(pdf.columns), "fingerprint": digest}


def _checker(expected: dict):
    want = {k: expected[k] for k in ("rows", "columns", "fingerprint")}

    def check(pdf):
        got = fingerprint(pdf)
        if got != want:
            return f"output {got} != expected {want}"
        return None

    return check


def run(bench: Bench) -> dict:
    from data_engineering_task_adtech_data_pipeline_spark.plans import REGISTRY
    from data_engineering_task_adtech_data_pipeline_spark.schemas import TESTDATA_TABLES
    from data_engineering_task_adtech_data_pipeline_spark.sources.readers import read_table

    sys.path.insert(0, str(bench.root / "tools"))
    spark, sf = bench.spark, str(DATA)
    expected = json.loads(EXPECTED.read_text())

    # -- set-up, several times: read every input table once --------------
    setup = []
    for rep in range(SETUP_REPS):
        with bench.span(f"setup{rep}/scan"):
            for t in TESTDATA_TABLES:
                read_table(spark, sf, t).count()
        setup.append(bench.wall(f"setup{rep}/scan"))

    # -- load: the prepare hooks, into a fresh cache root ----------------
    # prepare hooks land their caches under tempfile.gettempdir(); a root
    # of their own lets stored_bytes_per_input_byte count exactly those
    cache = bench.work / "cache"
    cache.mkdir()
    tempfile.tempdir = str(cache)
    with bench.span("load/prepare"):
        for n in QUERY_MIX:
            if REGISTRY[n].prepare is not None:
                REGISTRY[n].prepare(spark, sf)
    input_bytes = sum(p.stat().st_size for p in DATA.iterdir())

    rng = random.Random(bench.seed)

    def run_pass(tag: str, checked: bool) -> list[float]:
        order = list(QUERY_MIX)
        rng.shuffle(order)
        walls = []
        for n in order:
            q = REGISTRY[n]
            wall = bench.run_query(
                tag, n, lambda q=q: q.spark(spark, sf),
                check=_checker(expected[n]) if checked else None,
            )
            if wall is not None:
                walls.append(wall)
        return walls

    first = run_pass("pass0", checked=True)
    stored_bytes, _ = dir_bytes(cache)
    passes, per_query, warm_tags = [], [], []
    gc0 = bench.jvm_gc_s()
    t_window = time.time()
    while len(warm_tags) < MIN_WARM_PASSES or time.time() - t_window < bench.seconds:
        tag = f"pass{len(warm_tags) + 1}"
        walls = run_pass(tag, checked=False)
        warm_tags.append(tag)
        if walls:  # a pass in which every query failed has no wall
            passes.append(sum(walls))
        per_query += walls
    t_window_end = time.time()
    gc_s = bench.jvm_gc_s() - gc0
    retained_heap = bench.retained_heap_mb()

    # the tail quantile is fixed by the samples every run is sure to take
    tail = tail_quantile(len(QUERY_MIX) * MIN_WARM_PASSES)
    metrics = {
        "setup_s": median(setup),
        "initial_load_s": bench.wall("load/prepare"),
        "first_pass_s": sum(first),
        "warm_qps": per_second(len(QUERY_MIX), median(passes)),
        "query_p50_s": nearest_rank(per_query, 0.5),
        "query_p90_s": nearest_rank(per_query, tail),
        "delta_cycle_p50_s": median(passes),
        "stored_bytes_per_input_byte": stored_bytes / input_bytes,
        "retained_heap_mb": retained_heap,
    }
    info = {
        "queries": len(QUERY_MIX),
        "warm_passes": len(passes),
        "query_samples": len(per_query),
        "query_tail_quantile": tail,
        "input_bytes": input_bytes,
        "stored_bytes": stored_bytes,
    }
    layer = {
        "warm_tags": warm_tags,
        "window": (t_window, t_window_end),
        "gc_s": gc_s,
        "warm_scan_s": median(setup[1:]),
    }
    return {"metrics": metrics, "layer": layer, "info": info}


def per_layer(bench: Bench, res: dict, log) -> dict[str, float]:
    lay = res["layer"]
    out = query_layers(bench, log, FAMILY, "pass0", lay["warm_tags"])
    out.update(session_layers(bench, log, lay["window"], lay["gc_s"], len(lay["warm_tags"])))
    out["sources.readers.warm_scan_s"] = lay["warm_scan_s"]
    return out
