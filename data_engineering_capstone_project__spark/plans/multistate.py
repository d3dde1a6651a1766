"""Multi-state batch orchestration — the reference's real operating shape.

The reference script processes ONE state's file set per run, but its
operating contract is "datasets from 65 states and each state has 4-6 data
sets" (``Read.md:1``; PDF slide 31 "can be [extended to] 40 states"). This
module is that product: a manifest lists every state's raw files (plus
dictionary templates, shared or per-state), and one invocation cleans,
derives, and assembles all of them into a single state-partitioned parquet
dataset with a per-state QA rollup.

Manifest (JSON)::

    {
      "dict1": "template1.tsv",          # shared defaults (per-state
      "dict2": "template2.tsv",          #  overrides allowed)
      "output": "/path/final_parquet",   # partitioned by `state`
      "states": [
        {"state": "WI", "lunch": "wi_lunch.tsv",
         "breakfast": "wi_breakfast.tsv",
         "golden": "wi_golden.parquet"},          # optional per-state QA
        {"state": "MN", "lunch": "...", "breakfast": "...",
         "dict1": "mn_template1.tsv"}             # state-specific dict
      ]
    }

Scale posture: planning is plain Python — each distinct dictionary is
collected once per run into a driver-side map, raw headers are read on
the driver, and the clean plans cost no Spark job. Each state's pipeline
is an independent lazy plan (one Project per raw file); the per-state
finals are unioned **by name** (states differ in raw columns — missing
ones fill NULL) and written by ONE write action partitioned by
``state``, not 65 serial scripts, and downstream readers get partition
pruning for free. That action still runs about two adaptive-execution
exchange jobs per state, because the plan carries one linkage join and
one DISTINCT per state. QA runs FIRST — every state's
lazy ``qa_vs_golden`` report unioned and collected by ONE action — and
gates the write (a failing run never clobbers the previous good output);
the CLI exits non-zero if any state fails, printing a bounded
``qa_diff`` sample (the reference's INTERSECT-count method says *that*
tables differ, never *where* —
``shareOurStrengthSQLCodev4.sql:1116-1126``).
"""

from __future__ import annotations

import argparse
import json
from dataclasses import dataclass
from functools import reduce

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from data_engineering_capstone_project__spark.plans.derive import (
    assemble_final,
    derive_breakfast,
    derive_lunch,
)
from data_engineering_capstone_project__spark.plans.cleaner import (
    Dictionary,
    collect_dictionary,
)
from data_engineering_capstone_project__spark.plans.pipeline import clean_file
from data_engineering_capstone_project__spark.plans.qa import qa_diff, qa_vs_golden
from data_engineering_capstone_project__spark.sources.io import (
    read_parquet_cached,
    read_tsv,
)

QA_ROLLUP_SCHEMA = (
    "state string, count_a long, count_b long, count_common long, "
    "equivalent boolean, note string"
)


@dataclass(frozen=True)
class StateSpec:
    """One state's file set, resolved against manifest-level defaults."""

    state: str
    lunch: str
    breakfast: str
    dict1: str
    dict2: str
    golden: str | None = None


def load_manifest(path: str) -> tuple[list[StateSpec], str | None]:
    """Parse and validate a manifest file → (state specs, output path)."""
    with open(path) as f:
        doc = json.load(f)
    states_raw = doc.get("states")
    if not states_raw:
        raise ValueError(f"manifest {path} has no 'states' entries")
    specs = []
    seen: set[str] = set()
    for ent in states_raw:
        st = ent.get("state")
        if not st:
            raise ValueError(f"manifest state entry missing 'state': {ent}")
        if st in seen:
            raise ValueError(f"duplicate state {st!r} in manifest")
        seen.add(st)
        missing = [k for k in ("lunch", "breakfast") if not ent.get(k)]
        dict1 = ent.get("dict1", doc.get("dict1"))
        dict2 = ent.get("dict2", doc.get("dict2"))
        missing += [k for k, v in (("dict1", dict1), ("dict2", dict2)) if not v]
        if missing:
            raise ValueError(f"state {st}: missing {missing}")
        specs.append(
            StateSpec(
                state=st,
                lunch=ent["lunch"],
                breakfast=ent["breakfast"],
                dict1=dict1,
                dict2=dict2,
                golden=ent.get("golden"),
            )
        )
    return specs, doc.get("output")


def state_final(spark: SparkSession, spec: StateSpec, dict_cache: dict | None = None) -> DataFrame:
    """One state through the full reference flow (ingest → clean → derive
    → assemble), tagged with its ``state``. Each distinct dictionary path
    is read and collected once across the whole run via ``dict_cache``;
    everything else here launches no Spark job."""
    cache = dict_cache if dict_cache is not None else {}

    def _dict(p: str) -> Dictionary:
        if p not in cache:
            cache[p] = collect_dictionary(read_tsv(spark, p))
        return cache[p]

    d1, d2 = _dict(spec.dict1), _dict(spec.dict2)
    lunch = derive_lunch(clean_file(spark, spec.lunch, d1, d2, prefer=1))
    breakfast = derive_breakfast(
        clean_file(spark, spec.breakfast, d1, d2, prefer=2)
    )
    return assemble_final(lunch, breakfast).withColumn(
        "state", F.lit(spec.state)
    )


def qa_rollup_rows(
    spark: SparkSession, finals: list[tuple[StateSpec, DataFrame]]
) -> list[tuple]:
    """Per-state QA report rows in ONE Spark action: each golden-bearing
    state's ``qa_vs_golden`` is a lazy one-row plan (see that docstring),
    tagged with its state, unioned across all states and collected once —
    65 states cost one rollup action, not 65 serial small ones. Goldens
    are write-once user files, read through the schema cache. Golden-less
    states get a literal skip row driver-side (no job at all)."""
    reports = [
        qa_vs_golden(df, read_parquet_cached(spark, spec.golden)).select(
            F.lit(spec.state).alias("state"),
            F.col("count_a").cast("long").alias("count_a"),
            F.col("count_b").cast("long").alias("count_b"),
            F.col("count_common").cast("long").alias("count_common"),
            "equivalent",
            "note",
        )
        for spec, df in finals
        if spec.golden is not None
    ]
    by_state: dict[str, object] = {}
    if reports:
        qa_all = reduce(lambda a, b: a.unionByName(b), reports)
        by_state = {r["state"]: r for r in qa_all.collect()}
    rows = []
    for spec, _ in finals:
        if spec.golden is None:
            rows.append(
                (spec.state, None, None, None, None, "no golden; QA skipped")
            )
            continue
        row = by_state[spec.state]
        rows.append(
            (
                spec.state,
                row["count_a"],
                row["count_b"],
                row["count_common"],
                bool(row["equivalent"]),
                row["note"],
            )
        )
    return rows


def run_multistate(
    spark: SparkSession,
    specs: list[StateSpec],
    output_path: str | None = None,
    write_on_qa_fail: bool = False,
) -> tuple[DataFrame, DataFrame]:
    """Run every state's pipeline; return (combined final, QA rollup).

    The combined final is the by-name union of all states (missing columns
    NULL-filled — states carry different raw columns); if ``output_path``
    is given it is written once, ``partitionBy('state')``. The QA rollup
    has one row per state: counts + equivalence where a golden file
    exists, a skip note where none does.

    Two scale/safety properties:

    - **The rollup is ONE Spark action**, not one per state: every
      state's ``qa_vs_golden`` report is a lazy one-row plan, tagged with
      its ``state`` and unioned, then collected once — 65 states cost one
      write + one rollup action, not 1 + 65 serial actions queueing on a
      busy cluster. Planning adds one collect per distinct dictionary;
      each action still fans out into adaptive-execution jobs that grow
      with the state count (about two exchanges per state in the write).
    - **QA gates the write**: the rollup runs FIRST and the combined
      output is written only when no state failed (or
      ``write_on_qa_fail=True``), so a QA-failing run exits non-zero
      *without* having clobbered the previous good dataset at
      ``output_path``.
    """
    dict_cache: dict[str, Dictionary] = {}
    finals: list[tuple[StateSpec, DataFrame]] = [
        (spec, state_final(spark, spec, dict_cache)) for spec in specs
    ]
    combined = reduce(
        lambda a, b: a.unionByName(b, allowMissingColumns=True),
        [df for _, df in finals],
    )
    rollup_rows = qa_rollup_rows(spark, finals)
    rollup = spark.createDataFrame(rollup_rows, QA_ROLLUP_SCHEMA)
    any_fail = any(r[4] is False for r in rollup_rows)
    if output_path and (write_on_qa_fail or not any_fail):
        combined.write.mode("overwrite").partitionBy("state").parquet(
            output_path
        )
    return combined, rollup


def print_qa_failures(
    spark: SparkSession,
    specs: list[StateSpec],
    rollup_rows,
    sample: int = 5,
    dict_cache: dict | None = None,
) -> None:
    """For each failed state, print up to ``sample`` differing rows per
    side (A = produced-only, B = golden-only) — the *where*, which the
    reference's INTERSECT counts never show."""
    by_state = {s.state: s for s in specs}
    for r in rollup_rows:
        if r["equivalent"] is not False:
            continue
        spec = by_state[r["state"]]
        print(f"state {r['state']}: QA FAILED ({r['note'] or 'row mismatch'})")
        if spec.golden is None or r["note"]:
            continue  # schema-level mismatch already explained by note
        golden = read_parquet_cached(spark, spec.golden)
        produced = state_final(spark, spec, dict_cache).select(*golden.columns)
        for row in qa_diff(produced, golden).limit(2 * sample).collect():
            side = "produced-only" if row["side"] == "A" else "golden-only"
            vals = {k: row[k] for k in golden.columns[:8]}
            print(f"  [{side}] {vals}")


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__)
    ap.add_argument("--manifest", required=True)
    ap.add_argument("--out", default=None, help="override manifest output")
    ap.add_argument(
        "--diff-sample", type=int, default=5,
        help="differing rows to print per side on QA failure",
    )
    args = ap.parse_args(argv)

    from data_engineering_capstone_project__spark.session import get_spark

    spark = get_spark(app_name="multistate_pipeline")
    specs, manifest_out = load_manifest(args.manifest)
    out = args.out or manifest_out
    combined, rollup = run_multistate(spark, specs, output_path=out)
    rows = rollup.orderBy("state").collect()
    for r in rows:
        status = (
            "SKIP" if r["equivalent"] is None
            else "PASS" if r["equivalent"] else "FAIL"
        )
        counts = (
            f" a={r['count_a']} b={r['count_b']} common={r['count_common']}"
            if r["count_a"] is not None
            else ""
        )
        note = f" note={r['note']}" if r["note"] else ""
        print(f"{status:4s} {r['state']}{counts}{note}")
    failed = [r for r in rows if r["equivalent"] is False]
    if failed:
        print_qa_failures(spark, specs, rows, sample=args.diff_sample)
        print(f"{len(failed)}/{len(rows)} states failed QA")
        if out:
            print(f"output write to {out} skipped (QA gate)")
        return 2
    if out:
        print(f"wrote {out} (partitioned by state, {len(rows)} states)")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
