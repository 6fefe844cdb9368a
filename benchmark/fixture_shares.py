"""Per-query time shares of batch_relational's mix on the generated tables
next to the same shares on a fixture directory, in one session.

    python3 benchmark/fixture_shares.py FIXTURE_DIR [--seed 1] [--reps 5]

FIXTURE_DIR holds the engine's test tables at the generator's scale
(sf0.1, see TESTDATA.md). Each query is built and written to the noop
sink twice untimed, then ``--reps`` times timed, alternating the two
table sets; the medians and each query's share of their sum are printed.
The benchmark itself never reads FIXTURE_DIR: its runs generate their
tables from the seed.
"""

from __future__ import annotations

import argparse
import os
import shutil
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
sys.path.insert(0, os.path.dirname(HERE))

import gen  # noqa: E402
import run  # noqa: E402
from spans import median  # noqa: E402


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("fixture_dir")
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--reps", type=int, default=5)
    args = ap.parse_args()
    cfg = run.BATCH["batch_relational"]
    work = tempfile.mkdtemp(prefix="fixture-shares-")
    os.environ["PYTHONPATH"] = os.path.dirname(HERE)
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = run.DRIVER_MEM
    os.environ["SPARK_GRAFT_CPUS"] = str(run.task_slots())
    try:
        gen.relational_tables(args.seed, os.path.join(work, "data"), cfg["sf"])
        from kpipe_spark.queries import all_queries
        from kpipe_spark.session import get_spark

        spark = get_spark(app_name="fixture-shares", extra_conf={
            "spark.sql.warehouse.dir": os.path.join(work, "wh"),
            "spark.local.dir": os.path.join(work, "local"),
        })
        spark.sparkContext.setLogLevel("ERROR")
        registry = all_queries()
        dirs = {"fixture": args.fixture_dir, "generated": os.path.join(work, "data")}
        times = {k: {q: [] for q in cfg["queries"]} for k in dirs}
        for rep in range(2 + args.reps):
            for k, d in dirs.items():
                for q in cfg["queries"]:
                    t0 = time.perf_counter()
                    registry[q].build(spark, d).write.format("noop").mode("overwrite").save()
                    if rep >= 2:
                        times[k][q].append(time.perf_counter() - t0)
        spark.stop()
        for k, per_q in times.items():
            med = {q: median(v) for q, v in per_q.items()}
            total = sum(med.values())
            print(f"{k:9s} total={total:.3f}s " + " ".join(
                f"{q.split('_')[0]}={m:.3f}({m / total:.1%})" for q, m in med.items()))
    finally:
        shutil.rmtree(work, ignore_errors=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
