"""The benchmark's own tests.

    python3 -m pytest perfbench -q -p no:cacheprovider

They start Spark (one shared session, plus one subprocess per workload
and trace mode for the metric-emission test) and take a few minutes.
"""

from __future__ import annotations

import filecmp
import json
import os
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [ROOT, HERE]

import gen  # noqa: E402


def _same_tree(a, b) -> bool:
    names = sorted(os.listdir(a))
    if names != sorted(os.listdir(b)):
        return False
    _, mismatch, errors = filecmp.cmpfiles(a, b, names, shallow=False)
    return not mismatch and not errors


def test_generators_are_deterministic(tmp_path):
    a, b, c = tmp_path / "a", tmp_path / "b", tmp_path / "c"
    man_a = gen.write_states(str(a / "st"), 7, 4, 20)
    gen.write_states(str(b / "st"), 7, 4, 20)
    gen.write_states(str(c / "st"), 8, 4, 20)
    assert _same_tree(a / "st", b / "st")
    assert not _same_tree(a / "st", c / "st")
    assert [s["drift"] for s in man_a["states"]] == [
        "own_dictionary", "extra_column", "permuted_columns", "none",
    ]
    assert gen.doc_stream(7, 50, 3, 20, 0.1, 0.1) == gen.doc_stream(7, 50, 3, 20, 0.1, 0.1)
    assert gen.doc_stream(7, 50, 3, 20, 0.1, 0.1) != gen.doc_stream(8, 50, 3, 20, 0.1, 0.1)


@pytest.fixture(scope="module")
def spark(tmp_path_factory):
    import run
    from data_engineering_capstone_project__spark.session import get_spark

    conf = run._isolate(str(tmp_path_factory.mktemp("spark")), trace=False)
    s = get_spark(app_name="perfbench-tests", extra_conf=conf)
    yield s
    run._stop(s)


def _states(spark, work, seed=3):
    from spans import Tracer
    from workloads import States

    wl = States(spark, Tracer(spark, False), str(work), seed, n_states=4, n_schools=6, warmup=1)
    wl.make_inputs()
    return wl


def test_oracle_agrees_with_engine(spark, tmp_path):
    wl = _states(spark, tmp_path)
    assert all(n > 0 for n in wl.expected.values())
    assert wl.check(wl.op()) == (4, 0)


def test_corrupted_golden_is_counted_as_failure(spark, tmp_path):
    import duckdb

    wl = _states(spark, tmp_path)
    golden = wl.specs[1].golden
    bad = golden + ".bad.parquet"
    duckdb.sql(
        f"""COPY (SELECT * REPLACE ("NCES ID"[1:3] AS "NCES ID")
                  FROM read_parquet('{golden}')) TO '{bad}' (FORMAT parquet)"""
    )
    os.replace(bad, golden)
    # one state fails QA, and the QA gate then skips the write for all
    # four, so none of them landed
    attempted, failed = wl.check(wl.op())
    assert attempted == 4 and failed == 4


@pytest.mark.parametrize("trace", [0, 1])
@pytest.mark.parametrize("workload", ["states_many", "ingest"])
def test_every_metric_is_emitted(workload, trace):
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    want = {m["name"] for m in spec["per_layer" if trace else "end_to_end"]}
    proc = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
         "--seed", "1", "--seconds", "0", "--trace", str(trace)],
        cwd=ROOT, capture_output=True, text=True, timeout=300,
    )
    assert proc.returncode == 0, proc.stderr[-2000:]
    out = json.loads(proc.stdout.strip().splitlines()[-1])
    assert set(out) == {"correct", "attempted", "failed", "metrics"}
    assert out["correct"] and out["failed"] == 0 and out["attempted"] >= 1
    assert set(out["metrics"]) == want
