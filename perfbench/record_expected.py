"""Record ``expected.json``: the outputs ``query_mix`` checks.

    python3 perfbench/record_expected.py

For every query of ``query_mix`` this runs the query on Spark over
``data/sf0.01`` and fingerprints its rows with the cell normalization of
``tools/oracle_check.py``. A query is recorded
only if its DuckDB oracle's rows, normalized the same way, form the same
multiset. A query that disagrees or has no oracle is reported and left
out, and the script exits non-zero.
"""

from __future__ import annotations

import json
import os
import shutil
import sys
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
sys.path.insert(0, str(HERE))
sys.path.insert(0, str(ROOT))
sys.path.insert(0, str(ROOT / "tools"))


def main() -> int:
    work = ROOT / ".perfbench_work" / f"record-{os.getpid()}"
    (work / "tmp").mkdir(parents=True)
    os.environ["TMPDIR"] = str(work / "tmp")
    os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [str(ROOT), *filter(None, os.environ.get("PYTHONPATH", "").split(os.pathsep))]
    )

    import duckdb
    from oracle_check import frame_multiset

    import querymix
    from data_engineering_task_adtech_data_pipeline_spark.operators import chunking
    from data_engineering_task_adtech_data_pipeline_spark.plans import REGISTRY
    from data_engineering_task_adtech_data_pipeline_spark.schemas import TESTDATA_TABLES
    from data_engineering_task_adtech_data_pipeline_spark.session import get_spark

    sf = str(querymix.DATA)
    spark = get_spark("perfbench-record", extra_conf={"spark.ui.showConsoleProgress": "false"})
    con = duckdb.connect()
    for t in TESTDATA_TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf}/{t}.parquet'")
    out = {}
    bad = []
    try:
        for n in querymix.QUERY_MIX:
            q = REGISTRY[n]
            if q.oracle is None:
                print(f"{n}: no DuckDB oracle", file=sys.stderr)
                bad.append(n)
                continue
            if q.prepare is not None:
                q.prepare(spark, sf)
            pdf = q.spark(spark, sf).toPandas()
            chunking.release_persisted()
            got = querymix.fingerprint(pdf)
            agree = frame_multiset(con.execute(q.oracle).df()) == frame_multiset(pdf)
            print(f"{n}: {got['rows']} rows, duckdb oracle {'agrees' if agree else 'DISAGREES'}",
                  file=sys.stderr)
            if agree:
                out[n] = {**got, "confirmed_by": "duckdb oracle"}
            else:
                bad.append(n)
    finally:
        spark.stop()
        shutil.rmtree(work, ignore_errors=True)
    querymix.EXPECTED.write_text(json.dumps(dict(sorted(out.items())), indent=1) + "\n")
    if bad:
        print(f"not recorded: {bad}", file=sys.stderr)
    return 1 if bad else 0


if __name__ == "__main__":
    sys.exit(main())
