"""Multi-state manifest orchestration (VERDICT r2 next-round #1):
N states → clean/derive/assemble → state-partitioned parquet + per-state
QA rollup, with partition pruning on the output and a qa_diff sample on
seeded mismatches."""

from __future__ import annotations

import json
import os
import tempfile

import pytest

DICT_HEADER = [
    "raw_data_column", "raw_data_column_name",
    "equivalent_clean_data_name", "notes",
]

DICT1_ROWS = [
    ("c1", "SCHOOL_NAME", "school name", ""),
    ("c2", "CLAIM_DATE", "claim date", ""),
    ("c3", "DISTRICT_ID", "district id", ""),
    ("c4", "PUBLIC", "PUBLIC", ""),
    ("c5", "SCHOOL TYPE", "SCHOOL TYPE", ""),
    ("c6", "LUNCH_FREE", "Lunch Meals-Free", ""),
    ("c7", "LUNCH_RED", "Lunch Meals-Reduced", ""),
    ("c8", "LUNCH_PAID", "Lunch Meals-Paid", ""),
    ("c9", "DAYS_LUNCH", "Operating Days-Lunch Only", ""),
    ("c10", "ENR_FREE", "Enrollment-Free", ""),
    ("c11", "ENR_RED", "Enrollment-Reduced", ""),
    ("c12", "ENR_TOT", "Enrollment-Total", ""),
    ("c13", "CEP_FLAG", "CEP (Y/N)", ""),
    ("c14", "SCHOOL_ID", "School ID", ""),
    ("c15", "SCHOOL_LEVEL", "School Level-Original", ""),
    ("c16", "OLD_COL", "THIS IS NOT USED", ""),
]

DICT2_ROWS = [
    ("b1", "SCHOOL_NAME", "school name", ""),
    ("b2", "CLAIM_DATE", "claim date", ""),
    ("b3", "DISTRICT_ID", "district id", ""),
    ("b4", "TRADITIONAL_MODEL", "TRADITIONAL_MODEL", ""),
    ("b5", "MID_MORNING_MODEL", "MID_MORNING_MODEL", ""),
    ("b6", "CLASSROOM_MODEL", "CLASSROOM_MODEL", ""),
    ("b7", "REDUCED_PRICE_MODEL", "REDUCED_PRICE_MODEL", ""),
    ("b8", "GRAB_N_GO_MODEL", "GRAB_N_GO_MODEL", ""),
    ("b9", "FREE_MODEL", "FREE_MODEL", ""),
    ("b10", "BRKF_FREE", "Breakfast Meals-Free", ""),
    ("b11", "BRKF_RED", "Breakfast Meals-Reduced", ""),
    ("b12", "DAYS_BRKF", "Operating Days-Breakfast Only", ""),
    ("b13", "SCHOOL_YEAR", "School Year", ""),
]

LUNCH_HEADER = [
    "SCHOOL_NAME", "CLAIM_DATE", "DISTRICT_ID", "PUBLIC", "SCHOOL TYPE",
    "LUNCH_FREE", "LUNCH_RED", "LUNCH_PAID", "DAYS_LUNCH", "ENR_FREE",
    "ENR_RED", "ENR_TOT", "CEP_FLAG", "SCHOOL_ID", "SCHOOL_LEVEL", "OLD_COL",
]

BRKF_HEADER = [
    "SCHOOL_NAME", "CLAIM_DATE", "DISTRICT_ID", "TRADITIONAL_MODEL",
    "MID_MORNING_MODEL", "CLASSROOM_MODEL", "REDUCED_PRICE_MODEL",
    "GRAB_N_GO_MODEL", "FREE_MODEL", "BRKF_FREE", "BRKF_RED", "DAYS_BRKF",
    "SCHOOL_YEAR",
]


def _write_tsv(dirpath, name, header, rows):
    path = os.path.join(dirpath, name)
    with open(path, "w") as f:
        f.write("\t".join(header) + "\n")
        for r in rows:
            f.write("\t".join("" if v is None else str(v) for v in r) + "\n")
    return path


def _state_rows(state, n=3):
    lunch, brkf = [], []
    for i in range(n):
        name = f"{state} School {i}"
        did = str(100 + i)
        lunch.append(
            (name, "2017-10", did, "YES", "REGULAR", str(100 + 10 * i), "20",
             "30", "20", "150", "25", "200", "N", str(i), "Elementary School",
             "junk")
        )
        brkf.append(
            (name, "2017-10", did.zfill(6), "Y", "N", "N", "Y", "N", "Y",
             str(60 + i), "15", "20", None)
        )
    return lunch, brkf


@pytest.fixture(scope="module")
def manifest_dir(spark):
    with tempfile.TemporaryDirectory(prefix="nkh_multi_") as d:
        _write_tsv(d, "dict1.tsv", DICT_HEADER, DICT1_ROWS)
        _write_tsv(d, "dict2.tsv", DICT_HEADER, DICT2_ROWS)
        states = []
        for st in ("AA", "BB", "CC"):
            lunch, brkf = _state_rows(st)
            # BB carries an extra undictionaried column (state structure
            # drift — the reference's 4-6-datasets-per-state reality)
            lh, rows = LUNCH_HEADER, lunch
            if st == "BB":
                lh = [*LUNCH_HEADER, "EXTRA_STATE_COL"]
                rows = [(*r, "x") for r in lunch]
            _write_tsv(d, f"{st.lower()}_lunch.tsv", lh, rows)
            _write_tsv(d, f"{st.lower()}_breakfast.tsv", BRKF_HEADER, brkf)
            states.append(
                {
                    "state": st,
                    "lunch": os.path.join(d, f"{st.lower()}_lunch.tsv"),
                    "breakfast": os.path.join(d, f"{st.lower()}_breakfast.tsv"),
                }
            )
        manifest = {
            "dict1": os.path.join(d, "dict1.tsv"),
            "dict2": os.path.join(d, "dict2.tsv"),
            "output": os.path.join(d, "final_parquet"),
            "states": states,
        }
        mpath = os.path.join(d, "manifest.json")
        with open(mpath, "w") as f:
            json.dump(manifest, f)
        yield d, mpath


def test_multistate_end_to_end(spark, manifest_dir):
    from data_engineering_capstone_project__spark.plans.multistate import (
        load_manifest,
        run_multistate,
    )

    d, mpath = manifest_dir
    specs, out = load_manifest(mpath)
    assert [s.state for s in specs] == ["AA", "BB", "CC"]
    combined, rollup = run_multistate(spark, specs, output_path=out)

    # every state landed, tagged, and QA was skipped (no goldens)
    back = spark.read.parquet(out)
    per_state = {
        r["state"]: r["count"]
        for r in back.groupBy("state").count().collect()
    }
    assert per_state == {"AA": 3, "BB": 3, "CC": 3}
    rrows = {r["state"]: r for r in rollup.collect()}
    assert all(rrows[s]["equivalent"] is None for s in ("AA", "BB", "CC"))

    # partition layout on disk + pruning in the plan: a state filter must
    # become a PartitionFilter on the scan (reads one directory at scale)
    assert os.path.isdir(os.path.join(out, "state=AA"))
    pruned = back.filter(back["state"] == "AA")
    import contextlib
    import io

    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        pruned.explain("formatted")
    plan = buf.getvalue()
    assert "PartitionFilters" in plan and "= AA)" in plan
    assert "(3) Filter" not in plan  # absorbed by the scan, no residual

    # derived measures survived orchestration (FR Lunch ADP = (free+red)/days)
    a0 = back.filter(
        (back["state"] == "AA") & (back["school name"] == "AA School 0")
    ).collect()[0]
    assert a0["FR Lunch ADP"] == 6.0
    assert a0["NCES ID"] == "000100"


@pytest.mark.slow
def test_multistate_qa_rollup_and_exit(spark, manifest_dir, capsys):
    """Golden QA: passing states PASS; a seeded mismatch FAILs the run with
    non-zero exit and a printed qa_diff sample naming the bad row."""
    from data_engineering_capstone_project__spark.plans import multistate as ms

    d, mpath = manifest_dir
    specs, out = ms.load_manifest(mpath)

    # build goldens from the real per-state outputs, then corrupt CC's
    combined, _ = ms.run_multistate(spark, specs)
    goldens = {}
    for st in ("AA", "BB", "CC"):
        g = combined.filter(combined["state"] == st).drop("state")
        if st == "CC":
            g = g.withColumn(
                "NCES ID",
                g["NCES ID"].substr(1, 3),  # seeded corruption
            )
        gp = os.path.join(d, f"golden_{st.lower()}")
        g.write.mode("overwrite").parquet(gp)
        goldens[st] = gp

    with open(mpath) as f:
        doc = json.load(f)
    for ent in doc["states"]:
        ent["golden"] = goldens[ent["state"]]
    mpath2 = os.path.join(d, "manifest_golden.json")
    with open(mpath2, "w") as f:
        json.dump(doc, f)

    rc = ms.main(["--manifest", mpath2, "--diff-sample", "3"])
    outtext = capsys.readouterr().out
    assert rc == 2
    assert "PASS AA" in outtext and "PASS BB" in outtext
    assert "FAIL CC" in outtext
    assert "1/3 states failed QA" in outtext
    # the diff sample shows *which* rows differ, on both sides
    assert "produced-only" in outtext and "golden-only" in outtext


def test_multistate_rollup_single_job_and_qa_gated_write(spark, manifest_dir):
    """At 65 states the rollup must be ONE collected job (lazy per-state
    qa_vs_golden plans unioned), and a QA failure must leave the previous
    output untouched (write runs after — and only on — QA pass)."""
    from data_engineering_capstone_project__spark.plans import multistate as ms

    d, mpath = manifest_dir
    specs, _ = ms.load_manifest(mpath)

    combined, _ = ms.run_multistate(spark, specs)
    goldens = {}
    for st in ("AA", "BB", "CC"):
        g = combined.filter(combined["state"] == st).drop("state")
        gp = os.path.join(d, f"golden1j_{st.lower()}")
        g.write.mode("overwrite").parquet(gp)
        goldens[st] = gp
    specs_g = [
        ms.StateSpec(
            state=s.state, lunch=s.lunch, breakfast=s.breakfast,
            dict1=s.dict1, dict2=s.dict2, golden=goldens[s.state],
        )
        for s in specs
    ]

    # ONE driver action for the whole 3-state QA rollup (collect on the
    # unioned report plan) — job counts are meaningless under AQE (one
    # action fans into a job per query stage), so count actions directly.
    # Plan construction (tiny dictionary-TSV collects) happens first,
    # outside the counted window: those are ~16-row metadata reads, not
    # per-state data jobs.
    dict_cache = {}
    finals = [(s, ms.state_final(spark, s, dict_cache)) for s in specs_g]
    dfcls = type(spark.range(1))  # concrete class (classic vs connect)
    actions: list[str] = []
    orig_collect, orig_count = dfcls.collect, dfcls.count

    def counted_collect(self):
        actions.append("collect")
        return orig_collect(self)

    def counted_count(self):
        actions.append("count")
        return orig_count(self)

    dfcls.collect = counted_collect
    dfcls.count = counted_count
    try:
        rows = ms.qa_rollup_rows(spark, finals)
    finally:
        dfcls.collect = orig_collect
        dfcls.count = orig_count
    assert actions == ["collect"]  # one rollup action, zero per-state jobs
    assert all(r[4] for r in rows)

    # QA-gated write: corrupt one golden, point output at a fresh path —
    # the failing run must NOT create/replace it
    bad = spark.read.parquet(goldens["CC"]).withColumn(
        "NCES ID", F_substr_3("NCES ID")
    )
    badp = os.path.join(d, "golden1j_cc_bad")
    bad.write.mode("overwrite").parquet(badp)
    specs_bad = [
        s if s.state != "CC"
        else ms.StateSpec(
            state=s.state, lunch=s.lunch, breakfast=s.breakfast,
            dict1=s.dict1, dict2=s.dict2, golden=badp,
        )
        for s in specs_g
    ]
    out2 = os.path.join(d, "gated_out")
    _, rollup2 = ms.run_multistate(spark, specs_bad, output_path=out2)
    assert any(r["equivalent"] is False for r in rollup2.collect())
    assert not os.path.exists(out2)  # previous output never clobbered
    # explicit override still writes
    ms.run_multistate(spark, specs_bad, output_path=out2, write_on_qa_fail=True)
    assert os.path.isdir(out2)


def test_planning_jobs_one_per_distinct_dictionary(spark, manifest_dir):
    """Planning three states (read, clean plan, derive, assemble) launches
    one Spark job per distinct dictionary path, the collect of that
    dictionary, and none per raw file: headers are read on the driver and
    clean plans are plain Python."""
    import shutil

    from data_engineering_capstone_project__spark.plans import multistate as ms

    d, mpath = manifest_dir
    specs, _ = ms.load_manifest(mpath)
    own = os.path.join(d, "dict1_cc.tsv")
    shutil.copy(specs[0].dict1, own)
    specs = [
        s if s.state != "CC"
        else ms.StateSpec(
            state=s.state, lunch=s.lunch, breakfast=s.breakfast,
            dict1=own, dict2=s.dict2,
        )
        for s in specs
    ]
    sc = spark.sparkContext
    sc.setJobGroup("plan_jobs", "plan_jobs")
    try:
        dict_cache = {}
        finals = [ms.state_final(spark, s, dict_cache) for s in specs]
        jobs = sc.statusTracker().getJobIdsForGroup("plan_jobs")
    finally:
        sc.setJobGroup(None, None)
    assert sorted(dict_cache) == sorted({specs[0].dict1, specs[0].dict2, own})
    assert len(jobs) == len(dict_cache) == 3
    assert all(f.count() == 3 for f in finals)


def F_substr_3(col):
    from pyspark.sql import functions as F

    return F.col(col).substr(1, 3)


def test_manifest_validation(spark, manifest_dir):
    from data_engineering_capstone_project__spark.plans.multistate import (
        load_manifest,
    )

    d, _ = manifest_dir
    bad = os.path.join(d, "bad_manifest.json")
    with open(bad, "w") as f:
        json.dump({"states": [{"state": "XX"}]}, f)
    with pytest.raises(ValueError, match="missing"):
        load_manifest(bad)
    with open(bad, "w") as f:
        json.dump({"states": []}, f)
    with pytest.raises(ValueError, match="no 'states'"):
        load_manifest(bad)
