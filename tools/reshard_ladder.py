"""Reshard ladder: wall time, ingest-downtime window and Spark jobs of
``plans.shards.reshard``, plain against catchup, with and without a BM25
posting log (the heaviest rebuilt surface).

Each rung bootstraps a 2-shard root from a synthetic corpus and reshards it
to 4 shards, once per arm; odd repetitions run the arms in reverse order, so
each catchup arm and its plain twin take turns running first. Plain reshard
holds every old shard's lease for the whole call, so its leased window is
its wall time; catchup reports its own window (``leased_s``: lease
acquisition to declaration). Jobs are the call's status-tracker job group.
The table prints medians over the repetitions and, for each catchup arm, in
how many repetitions it had a lower wall time than its plain twin.

Usage::

    python tools/reshard_ladder.py [--reps N] [docs ...]   # 20000 100000, 1 rep

Set ``SPARK_GRAFT_CPUS`` and ``SPARK_DRIVER_MEMORY`` to size the session.
"""

from __future__ import annotations

import os
import shutil
import statistics
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

from data_engineering_capstone_project__spark.plans import shards  # noqa: E402
from data_engineering_capstone_project__spark.session import get_spark  # noqa: E402

ARMS = (
    ("plain", {}, False),
    ("catchup", {}, True),
    ("bm25", {"bm25_index": True}, False),
    ("bm25+catchup", {"bm25_index": True}, True),
)


def synth(spark, lo: int, hi: int):
    return spark.range(lo, hi).select(
        F.col("id").alias("doc_id"),
        F.concat(
            F.lit("ladder reshard document body "),
            F.col("id"),
            F.lit(" with distinct filler tokens "),
            F.sha2(F.col("id").cast("string"), 256),
        ).alias("text"),
    )


def main(args: list[str]) -> int:
    reps = 1
    if "--reps" in args:
        i = args.index("--reps")
        reps = int(args[i + 1])
        del args[i:i + 2]
    rungs = [int(a) for a in args] or [20000, 100000]
    spark = get_spark(app_name="reshard_ladder")
    sc = spark.sparkContext
    sc.setLogLevel("ERROR")
    print(
        "| docs | arm | median wall (s) | median leased (s) | jobs | "
        "faster than plain twin |\n"
        "|---:|---|---:|---:|---:|---:|"
    )
    for n in rungs:
        base = tempfile.mkdtemp(prefix=f"rshl_{n}_")
        synth(spark, 0, n).write.parquet(f"{base}/corpus")
        corpus = spark.read.parquet(f"{base}/corpus")
        runs: dict[str, list] = {arm: [] for arm, _, _ in ARMS}
        for rep in range(reps):
            for arm, init_kw, catchup in ARMS[::-1] if rep % 2 else ARMS:
                root = f"{base}/{arm}{rep}"
                shards.init_sharded_ingest(
                    spark, corpus, f"{root}/old", n_shards=2, **init_kw
                )
                group = f"rshl-{n}-{arm}-{rep}"
                sc.setJobGroup(group, group)
                t0 = time.perf_counter()
                res = shards.reshard(
                    spark, f"{root}/old", f"{root}/new", n_shards=4,
                    catchup=catchup,
                )
                wall = time.perf_counter() - t0
                jobs = len(sc.statusTracker().getJobIdsForGroup(group))
                sc.setJobGroup(None, None)
                assert res["n_docs"] == n, res
                runs[arm].append((wall, res.get("leased_s", wall), jobs))
        shutil.rmtree(base, ignore_errors=True)
        for arm, rs in runs.items():
            wins = ""
            if arm.endswith("catchup"):
                twin = runs[arm.removesuffix("catchup").rstrip("+") or "plain"]
                wins = f"{sum(r[0] < t[0] for r, t in zip(rs, twin))}/{reps}"
            print(
                f"| {n} | {arm} | {statistics.median(r[0] for r in rs):.1f}"
                f" | {statistics.median(r[1] for r in rs):.1f} | "
                f"{statistics.median(r[2] for r in rs):.0f} | {wins} |",
                flush=True,
            )
    spark.stop()
    return 0


if __name__ == "__main__":
    raise SystemExit(main(sys.argv[1:]))
