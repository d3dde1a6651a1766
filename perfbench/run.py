"""The repository's benchmark: one workload per process, closed loop.

    python3 perfbench/run.py --workload states_many --seed 1 --seconds 20 --trace 0

Run from the root of a checkout. The process starts one Spark driver on
``local[<nproc>]`` and one client that starts each operation only after
the previous one finished. Set-up (session start, seeded inputs and
their DuckDB oracles, the cold operations) is timed as ``setup_s``; then
operations run while another one still fits in ``--seconds`` (at least
one). Every operation's outputs are checked outside the timed region; an
operation that raises or fails its check is counted in ``failed`` and
the run goes on.

``--trace 0`` prints the end-to-end metrics of BENCHMARK.json, ``--trace
1`` the per-layer metrics: the traced session wraps the engine's public
functions by module attribute (``spans.Tracer``), writes Spark's event
log, and attributes jobs, stages, tasks, shuffle bytes and spill to the
spans. The last stdout line is one JSON object: ``correct``,
``attempted``, ``failed`` and ``metrics``.

All scratch state (inputs, outputs, engine artifacts, Spark local dirs,
temp files, event log) lives in a fresh directory under
``.perfbench_work/`` in the checkout and is removed at exit.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import resource
import shutil
import statistics
import subprocess
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

# Workload sizes. Each run must fit the benchmark's time budget: on a 4-core
# host a Spark session start plus the cold operations cost 20-45 s
# whatever the input size, and one operation takes 6-12 s. states_many
# warms up with two operations: the first timed ones still run 5-10%
# faster each.
STATES_MANY = {"n_states": 3, "n_schools": 40, "warmup": 2}
# the duplicate shares of tools/gen_scale_data.py: one exact and one near
# duplicate in each 50-document tick
INGEST = {"n_boot": 200, "tick_size": 50, "exact_share": 0.02, "near_share": 0.02}
WORKLOADS = ("states_many", "ingest")
# per-layer metrics only one workload measures; the others report 0
WORKLOAD_LAYERS = (
    "multistate.write.output_bytes", "multistate.write.output_files",
    "multistate.unique_id_wrong_state_frac",
    "ingest.published_frac", "ingest.exact_dropped_frac",
    "ingest.fuzzy_dropped_frac", "artifacts.root_bytes_per_doc",
    "commitlog.versions", "ingest.tick_s", "ingest.probe_s", "ingest.docs_per_s",
)


def _host_probe_s() -> float:
    """Median seconds of a fixed single-core task (hashing 32 MiB). The
    diagnostics line records it before and after a run, so runs made in
    a slow phase of a shared host can be told apart."""
    block = bytes(2**20)
    times = []
    for _ in range(5):
        t0 = time.perf_counter()
        for _ in range(32):
            hashlib.sha256(block).digest()
        times.append(time.perf_counter() - t0)
    return statistics.median(times)


def _cpu_ticks() -> list[int]:
    """The host-wide ``cpu`` line of /proc/stat: user, nice, system,
    idle, iowait, irq, softirq, steal, ... in clock ticks."""
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:]]


def _descendants(pid: int) -> list[int]:
    children: dict[int, list[int]] = {}
    for p in filter(str.isdigit, os.listdir("/proc")):
        try:
            with open(f"/proc/{p}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, ValueError):
            continue
        children.setdefault(ppid, []).append(int(p))
    out, todo = [], [pid]
    while todo:
        for c in children.get(todo.pop(), []):
            out.append(c)
            todo.append(c)
    return out


def _peak_rss_mb() -> float:
    """Peak RSS of this Python process plus every descendant (the JVM)."""
    kb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
    for pid in _descendants(os.getpid()):
        try:
            with open(f"/proc/{pid}/status") as f:
                kb += next(
                    int(line.split()[1]) for line in f if line.startswith("VmHWM:")
                )
        except (OSError, StopIteration):
            continue
    return kb / 1024.0


def _driver_memory() -> str:
    """An eighth of MemTotal, at most 2 GiB: the session's 16g default can
    exceed what the host has, and a heap the workload fills in every run
    keeps the peak RSS comparable between runs."""
    with open("/proc/meminfo") as f:
        total_kb = next(int(line.split()[1]) for line in f if line.startswith("MemTotal:"))
    return f"{min(2048, total_kb // 8192)}m"


def _isolate(work: str, trace: bool) -> dict[str, str]:
    """Point every cache, scratch and output location of the engine and
    of Spark at ``work``; return the Spark conf that goes with it."""
    for d in ("artifacts", "local", "tmp", "eventlog"):
        os.makedirs(os.path.join(work, d))
    os.environ.update(
        # the cores this process may run on, as nproc counts them without
        # its OMP_NUM_THREADS / OMP_THREAD_LIMIT overrides
        SPARK_GRAFT_CPUS=str(len(os.sched_getaffinity(0))),
        SPARK_GRAFT_ARTIFACT_ROOT=os.path.join(work, "artifacts"),
        SPARK_LOCAL_DIRS=os.path.join(work, "local"),
        SPARK_DRIVER_MEMORY=_driver_memory(),
        TMPDIR=os.path.join(work, "tmp"),
        # spark-submit's launcher JVM: no hsperfdata file under /tmp
        SPARK_LAUNCHER_OPTS="-XX:-UsePerfData",
    )
    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        # no hsperfdata file: a JVM writes it under /tmp
        "spark.driver.extraJavaOptions": (
            f"-Djava.io.tmpdir={os.path.join(work, 'tmp')} -XX:-UsePerfData"
        ),
    }
    if trace:
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": os.path.join(work, "eventlog"),
            "spark.eventLog.compress": "false",
        })
    return conf


def _make_workload(name, spark, tracer, work, seed):
    import workloads as wl

    if name == "states_many":
        return wl.States(spark, tracer, work, seed, **STATES_MANY)
    return wl.Ingest(spark, tracer, work, seed, **INGEST)


def _stop(spark) -> None:
    """Stop the session and wait for the JVM it launched to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        try:
            proc.stdin.close()
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    trace = bool(args.trace)

    if not (
        os.path.isfile(os.path.join(ROOT, "__spark_entry__.py"))
        and os.path.isdir(os.path.join(ROOT, "data_engineering_capstone_project__spark"))
    ):
        print(f"perfbench: no engine sources in {ROOT}", file=sys.stderr)
        return 2
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    wanted = spec["per_layer"] if trace else spec["end_to_end"]
    units = {m["name"]: m["unit"] for m in wanted}

    os.makedirs(os.path.join(ROOT, ".perfbench_work"), exist_ok=True)
    work = tempfile.mkdtemp(prefix=f"{args.workload}-", dir=os.path.join(ROOT, ".perfbench_work"))
    try:
        metrics, attempted, failed, diag = _run(args, trace, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)

    missing = sorted(set(units) - set(metrics))
    if missing:
        print(f"perfbench: metrics not measured: {missing}", file=sys.stderr)
        return 3
    print(json.dumps(diag), flush=True)
    print(json.dumps({
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": metrics[k], "unit": units[k]} for k in units},
    }), flush=True)
    return 0


def _run(args, trace: bool, work: str):
    conf = _isolate(work, trace)
    sys.path[:0] = [ROOT, HERE]
    probe_pre, load_pre = _host_probe_s(), os.getloadavg()[0]
    ticks_pre = _cpu_ticks()
    t_start = time.perf_counter()
    # bench.py's contamination check; importing it imports the engine
    from bench import _java_procs

    pre_jvms = _java_procs()

    from data_engineering_capstone_project__spark import cachereg
    from data_engineering_capstone_project__spark.session import get_spark
    from spans import Tracer

    spark = get_spark(app_name=f"perfbench-{args.workload}", extra_conf=conf)
    session_s = time.perf_counter() - t_start
    own_jvms = set(_java_procs()) - set(pre_jvms)
    # engine-side artifacts written through __spark_entry__ use a
    # hard-coded root that ignores $SPARK_GRAFT_ARTIFACT_ROOT
    import __spark_entry__

    __spark_entry__._ARTIFACT_ROOT = os.path.join(work, "artifacts", "entry")

    tracer = Tracer(spark, trace)
    wl = _make_workload(args.workload, spark, tracer, work, args.seed)
    t0 = time.perf_counter()
    wl.make_inputs()
    inputs_s = time.perf_counter() - t0
    wl.wrap()

    attempted = failed = 0

    def checked(result) -> None:
        nonlocal attempted, failed
        a, f = wl.check(result)
        attempted += a
        failed += f

    def attempt(what: str, fn):
        """(ok, result) of ``fn()``; an exception fails the operation."""
        nonlocal attempted, failed
        try:
            return True, fn()
        except Exception as e:  # noqa: BLE001 — counted, the run goes on
            print(f"{what}: {type(e).__name__}: {e}", flush=True)
            attempted += wl.failed_ops()
            failed += wl.failed_ops()
            return False, None

    t0 = time.perf_counter()
    with tracer.span("cold"):
        ok, cold = attempt("cold pass", wl.cold)
    cold_s = time.perf_counter() - t0
    for result in cold if ok else []:
        checked(result)
    setup_s = time.perf_counter() - t_start

    run_s: list[float] = []
    rows: list[int] = []
    t_window = time.perf_counter()
    # start an operation only if one more of the last one's length still
    # fits the window, so a run's operation count does not depend on
    # where the window happens to cut it
    while not run_s or time.perf_counter() - t_window + run_s[-1] <= args.seconds:
        tracer.run_id = len(run_s)
        with tracer.span("run"):
            t0 = time.perf_counter()
            ok, result = attempt("operation", wl.op)
            run_s.append(time.perf_counter() - t0)
        if not ok:
            rows.append(0)
            continue
        checked(result)
        rows.append(wl.rows_out())
    tracer.run_id = None
    try:
        a, f = wl.finish()
    except Exception as e:  # noqa: BLE001 — a failed final check is counted
        print(f"final check: {type(e).__name__}: {e}", flush=True)
        a, f = 1, 1
    attempted, failed = attempted + a, failed + f

    live_after = cachereg.live_count()
    storage_mb = sum(
        i.memSize() + i.diskSize() for i in spark.sparkContext._jsc.sc().getRDDStorageInfo()
    ) / 2**20
    peak_rss = _peak_rss_mb()
    ticks = [b - a for a, b in zip(ticks_pre, _cpu_ticks())]
    probe_post = _host_probe_s()
    foreign = {p: c for p, c in _java_procs().items() if p not in own_jvms and p not in pre_jvms}
    extra = wl.extra_layers()
    tracer.unwrap_all()
    _stop(spark)

    med = statistics.median(run_s) if run_s else float("nan")
    rows_per_s = statistics.median(r / t for r, t in zip(rows, run_s)) if run_s else 0.0
    if not trace:
        metrics = {
            "setup_s": setup_s,
            "run_s": med,
            "rows_per_s": rows_per_s,
            "peak_rss_mb": peak_rss,
        }
    else:
        import layers

        spans_dir = os.path.join(ROOT, ".perfbench_work", "spans")
        os.makedirs(spans_dir, exist_ok=True)
        tracer.dump(os.path.join(spans_dir, f"{args.workload}-seed{args.seed}.jsonl"))
        metrics = layers.per_layer(
            tracer.spans, os.path.join(work, "eventlog"), len(run_s)
        )
        metrics.update(dict.fromkeys(WORKLOAD_LAYERS, 0.0))
        metrics.update(extra)
        metrics.update({
            "setup.session_s": session_s,
            "setup.inputs_s": inputs_s,
            "setup.cold_s": cold_s,
            "trace.run_s": med,
            "cachereg.live_after": live_after,
            "jvm.storage_mb": storage_mb,
            "fail_rate": failed / max(attempted, 1),
        })
    diag = {
        "workload": args.workload,
        "seed": args.seed,
        "runs": len(run_s),
        "run_s_all": run_s,
        "contaminated": bool(pre_jvms) or bool(foreign) or load_pre > 0.25 * (os.cpu_count() or 1),
        "foreign_jvms_pre": sorted(pre_jvms.values()),
        "foreign_jvms_during": sorted(foreign.values()),
        "loadavg_pre": load_pre,
        "loadavg_post": os.getloadavg()[0],
        "host_probe_s_pre": probe_pre,
        "host_probe_s_post": probe_post,
        # share of CPU time the hypervisor gave to other guests
        "steal_frac": ticks[7] / max(sum(ticks), 1),
        "spark_graft_cpus": os.environ["SPARK_GRAFT_CPUS"],
        "driver_memory": os.environ["SPARK_DRIVER_MEMORY"],
    }
    return metrics, attempted, failed, diag


if __name__ == "__main__":
    sys.exit(main())
