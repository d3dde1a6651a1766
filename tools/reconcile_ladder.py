"""Ladders for ``plans.shards.reconcile_sharded_near_dups``.

**Adjudication ladder** (default): a 2-shard root (default banding) is
bootstrapped with a synthetic corpus of ~260-byte documents, then one sharded
tick brings fresh documents plus 10 % planted near-dups of the corpus (a
one-token suffix under fresh ids, so content routing scatters them across
shards). A rung is ``DOCS`` or ``DOCS:FAMILY``: with a family size above 1,
consecutive ids share three of their four text blocks, so each family's
members collide with one another and the candidate count grows roughly
with ``DOCS * FAMILY / 2`` (3,408 to 602,338 pairs for families 2 to 200
at 10,000 docs). Same-round pairs both survive, so only the planted
near-dups that the tick's shard-local probe let through retire. Each
rung builds twin roots per repetition and reconciles one on each adjudication
path; the arm that runs first alternates between repetitions:

- ``driver``: ``shards._DRIVER_MAX_PAIRS`` raised past any count, so the
  candidate pairs are collected and replayed in-process;
- ``distributed``: ``_DRIVER_MAX_PAIRS`` set to 0, so any candidate pair
  takes the round-iterative anti-join path.

Per arm it prints the median wall time of the reconcile call, its Spark job
count (status-tracker job group) and in how many repetitions the arm was the
faster one, and checks that both arms retire the same number of documents.
The ``default`` column names the path the module constant picks at that
candidate count.

**Candidate ladder** (``--candidates``): on a VERIFIED root with a clean
corpus of ~1.3 KB documents (no planted dups, so the time is candidate
generation plus an empty verify), band-log candidates (the verified-root
source) against re-MinHashing the union's text (the source id-less roots use,
swapped in via ``shards._band_log_rows``).

Usage::

    python tools/reconcile_ladder.py [--reps N] [docs[:family] ...]   # 100 1000 10000, 5 reps
    python tools/reconcile_ladder.py --candidates [docs ...]  # 20000 100000

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


def synth(spark, lo: int, hi: int, blocks: int, family: int = 1):
    """Documents of ``blocks`` 64-char hex blocks each. Unrelated documents
    share almost no shingles, so with ``family`` 1 candidate pairs come from
    the planted near-dups only. With a larger ``family``, the ids of one
    ``id // family`` group share all blocks but the last."""

    def key(i: int):
        if family > 1 and i < blocks - 1:
            group = F.floor(F.col("id") / family).cast("string")
            return F.concat(F.lit("f"), group)
        return F.col("id").cast("string")

    return spark.range(lo, hi).select(
        F.col("id").alias("doc_id"),
        F.concat_ws(
            " ",
            *[F.sha2(F.concat(key(i), F.lit(str(i))), 256) for i in range(blocks)],
        ).alias("text"),
    )


def timed(spark, group: str, fn):
    """Run ``fn()`` in its own job group; return (result, seconds, jobs)."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    t0 = time.perf_counter()
    try:
        out = fn()
    finally:
        secs = time.perf_counter() - t0
        jobs = len(sc.statusTracker().getJobIdsForGroup(group))
        sc.setJobGroup(None, None)
    return out, secs, jobs


def adjudication(spark, rungs: list[str], reps: int) -> None:
    print(
        "| docs | family | arm | candidate pairs | retired | "
        "median reconcile (s) | jobs | faster in | default |\n"
        "|---:|---:|---|---:|---:|---:|---:|---:|---|"
    )
    default_cap = shards._DRIVER_MAX_PAIRS
    for rung in rungs:
        n, _, fam = rung.partition(":")
        n, fam = int(n), int(fam or 1)
        base = tempfile.mkdtemp(prefix=f"recl_{n}_{fam}_")
        synth(spark, 0, n, 4, fam).write.parquet(f"{base}/corpus")
        corpus = spark.read.parquet(f"{base}/corpus")
        planted = corpus.filter(F.col("doc_id") % 10 == 0).select(
            (F.col("doc_id") + 10_000_000).alias("doc_id"),
            F.concat(F.col("text"), F.lit(" qz")).alias("text"),
        )
        synth(spark, n, n + n // 10, 4, fam).unionByName(planted).write.parquet(
            f"{base}/batch"
        )
        batch = spark.read.parquet(f"{base}/batch")
        runs: dict[str, list] = {"driver": [], "distributed": []}
        arms = [("driver", sys.maxsize), ("distributed", 0)]
        for rep in range(reps):
            for arm, cap in arms[::-1] if rep % 2 else arms:
                root = f"{base}/{arm}{rep}"
                shards.init_sharded_ingest(spark, corpus, root, n_shards=2)
                shards.ingest_batch_sharded(spark, batch, root)
                shards._DRIVER_MAX_PAIRS = cap
                try:
                    st, secs, jobs = timed(
                        spark, f"recl-{n}-{arm}-{rep}",
                        lambda: shards.reconcile_sharded_near_dups(
                            spark, root
                        ),
                    )
                finally:
                    shards._DRIVER_MAX_PAIRS = default_cap
                runs[arm].append((st, secs, jobs))
        shutil.rmtree(base, ignore_errors=True)
        retired = {r[0]["n_retired"] for rs in runs.values() for r in rs}
        assert len(retired) == 1, f"arms retired different counts: {retired}"
        for arm, rs in runs.items():
            other = runs["distributed" if arm == "driver" else "driver"]
            wins = sum(r[1] < o[1] for r, o in zip(rs, other))
            st = rs[0][0]
            assert st["path"] == arm, f"{arm} arm took the {st['path']} path"
            default = (
                "driver" if st["n_pairs"] <= default_cap else "distributed"
            )
            print(
                f"| {n} | {fam} | {arm} | {st['n_pairs']} | "
                f"{st['n_retired']} | "
                f"{statistics.median(r[1] for r in rs):.2f} | "
                f"{statistics.median(r[2] for r in rs):.0f} | "
                f"{wins}/{reps} | {default} |",
                flush=True,
            )


def candidates(spark, rungs: list[int]) -> None:
    print(
        "| docs (~1.3 KB) | candidate source | candidate pairs | "
        "reconcile (s) | jobs |\n|---:|---|---:|---:|---:|"
    )
    band_logs = shards._band_log_rows
    for n in rungs:
        base = tempfile.mkdtemp(prefix=f"reclc_{n}_")
        synth(spark, 0, n, 20).write.parquet(f"{base}/corpus")
        corpus = spark.read.parquet(f"{base}/corpus")
        for arm, source in (
            ("band_logs", band_logs),
            ("recompute", shards._recomputed_band_rows),
        ):
            root = f"{base}/{arm}"
            shards.init_sharded_ingest(
                spark, corpus, root, n_shards=2, verify_jaccard_threshold=0.8
            )
            shards._band_log_rows = source
            try:
                st, secs, jobs = timed(
                    spark, f"reclc-{n}-{arm}",
                    lambda: shards.reconcile_sharded_near_dups(spark, root),
                )
            finally:
                shards._band_log_rows = band_logs
            assert st["n_retired"] == 0, "clean corpus retired docs"
            print(
                f"| {n} | {arm} | {st['n_pairs']} | {secs:.2f} | {jobs} |",
                flush=True,
            )
        shutil.rmtree(base, ignore_errors=True)


def main(args: list[str]) -> int:
    reps = 5
    if "--reps" in args:
        i = args.index("--reps")
        reps = int(args[i + 1])
        del args[i:i + 2]
    cand = "--candidates" in args
    rungs = [a for a in args if a != "--candidates"]
    spark = get_spark(app_name="reconcile_ladder")
    spark.sparkContext.setLogLevel("ERROR")
    if cand:
        candidates(spark, [int(a) for a in rungs] or [20000, 100000])
    else:
        adjudication(spark, rungs or ["100", "1000", "10000"], reps)
    spark.stop()
    return 0


if __name__ == "__main__":
    raise SystemExit(main(sys.argv[1:]))
