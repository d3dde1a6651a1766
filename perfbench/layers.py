"""Per-layer metrics of a traced run, from its spans and Spark event log.

Values are per timed run (totals over the timed runs divided by their
count) unless the name says otherwise. A span's ``jobs`` include the
jobs of its child spans; ``multistate.write`` is the self time and own
jobs of ``run_multistate``, i.e. what is left after its state plans and
QA rollup: the partitioned write.
"""

from __future__ import annotations

from collections import defaultdict

from spans import read_event_log, union_seconds

JOB_KEYS = ("stages", "tasks", "failed_tasks", "shuffle_write_bytes", "spill_bytes")


def per_layer(spans: list[dict], log_dir: str, n_runs: int) -> dict:
    jobs = read_event_log(log_dir)
    by_group: dict[str, list[dict]] = defaultdict(list)
    for job in jobs.values():
        by_group[job["group"]].append(job)
    children: dict[int, list[dict]] = defaultdict(list)
    for s in spans:
        if s["parent"] is not None:
            children[s["parent"]].append(s)

    def incl_jobs(s: dict) -> list[dict]:
        out = list(by_group.get(s["group"], []))
        for c in children[s["id"]]:
            out += incl_jobs(c)
        return out

    def dur(s: dict) -> float:
        return s["end"] - s["start"]

    def self_s(s: dict) -> float:
        return dur(s) - union_seconds([(c["start"], c["end"]) for c in children[s["id"]]])

    n = max(n_runs, 1)
    timed = [s for s in spans if s["run"] is not None]

    def named(name: str, pool=timed) -> list[dict]:
        return [s for s in pool if s["name"] == name]

    def per_run(name: str, f, pool=timed) -> float:
        return sum(f(s) for s in named(name, pool)) / n

    def n_jobs(s: dict) -> int:
        return len(incl_jobs(s))

    def job_sum(key: str):
        return lambda s: sum(j[key] for j in incl_jobs(s))

    m: dict[str, float] = {}
    runs = named("run")
    run_jobs = [j for r in runs for j in incl_jobs(r)]
    m["spark.jobs"] = len(run_jobs) / n
    for k in JOB_KEYS:
        m[f"spark.{k}"] = sum(j[k] for j in run_jobs) / n
    busy = sum(
        union_seconds([(j["start"], j["end"]) for j in incl_jobs(r) if j["end"] is not None])
        for r in runs
    ) / n
    m["spark.job_busy_s"] = busy
    m["driver.nojob_s"] = sum(dur(r) for r in runs) / n - busy

    for name in ("io.read_tsv", "cleaner.build_clean_plan"):
        m[f"{name}.s"] = per_run(name, dur)
        m[f"{name}.calls"] = len(named(name)) / n
        m[f"{name}.jobs"] = per_run(name, n_jobs)
    m["cleaner.apply_clean_plan.s"] = per_run("cleaner.apply_clean_plan", dur)
    m["derive.plan_s"] = per_run("derive.plan", dur)
    m["multistate.state_final.s"] = per_run("multistate.state_final", dur)
    qa = "multistate.qa_rollup_rows"
    m[f"{qa}.s"] = per_run(qa, dur)
    m[f"{qa}.jobs"] = per_run(qa, n_jobs)
    m[f"{qa}.shuffle_write_bytes"] = per_run(qa, job_sum("shuffle_write_bytes"))
    own = lambda key: lambda s: sum(j[key] for j in by_group.get(s["group"], []))  # noqa: E731
    w = "multistate.run_multistate"
    m["multistate.write.s"] = per_run(w, self_s)
    m["multistate.write.jobs"] = per_run(w, lambda s: len(by_group.get(s["group"], [])))
    m["multistate.write.shuffle_write_bytes"] = per_run(w, own("shuffle_write_bytes"))
    m["multistate.write.spill_bytes"] = per_run(w, own("spill_bytes"))

    init = named("ingest.init_ingest_indexes", spans)  # set-up, once per process
    m["ingest.init_ingest_indexes.s"] = sum(dur(s) for s in init)
    m["ingest.init_ingest_indexes.jobs"] = sum(n_jobs(s) for s in init)
    for name in ("ingest.ingest_batch", "text.bm25_topk_incremental"):
        m[f"{name}.s"] = per_run(name, dur)
        m[f"{name}.jobs"] = per_run(name, n_jobs)
    return m
