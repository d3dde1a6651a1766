"""N-states ladder for ``plans.multistate.run_multistate``: Spark jobs and
warm wall time per state count.

Inputs come from the benchmark's generator (``perfbench/gen.write_states``:
header drift, one state with its own dictionary), 40 schools per state, no
goldens, so the run is read, clean, derive, assemble and the partitioned
write. Each rung runs once to warm up, then once measured; the jobs are the
measured run's (status-tracker job group). Point it at any checkout to A/B
trees:

    python tools/states_ladder.py [repo_root] [N ...]     # default 8 32
"""

from __future__ import annotations

import os
import sys
import tempfile
import time


def rung(spark, ms, gen, work: str, n_states: int) -> tuple[int, float]:
    man = gen.write_states(os.path.join(work, f"s{n_states}"), 1, n_states, 40)
    specs = [
        ms.StateSpec(
            state=e["state"], lunch=e["lunch"], breakfast=e["breakfast"],
            dict1=e.get("dict1", man["dict1"]), dict2=man["dict2"],
        )
        for e in man["states"]
    ]
    out = os.path.join(work, f"out{n_states}")
    ms.run_multistate(spark, specs, output_path=out)  # warm-up
    sc = spark.sparkContext
    group = f"ladder{n_states}"
    sc.setJobGroup(group, group)
    t0 = time.perf_counter()
    ms.run_multistate(spark, specs, output_path=out)
    wall = time.perf_counter() - t0
    jobs = len(sc.statusTracker().getJobIdsForGroup(group))
    sc.setJobGroup(None, None)
    return jobs, wall


def main(args: list[str]) -> int:
    repo = args.pop(0) if args and not args[0].isdigit() else os.path.dirname(
        os.path.dirname(os.path.abspath(__file__))
    )
    sys.path[:0] = [repo, os.path.join(repo, "perfbench")]
    import gen

    from data_engineering_capstone_project__spark.plans import multistate as ms
    from data_engineering_capstone_project__spark.session import get_spark

    spark = get_spark(app_name="states_ladder")
    spark.sparkContext.setLogLevel("ERROR")
    print("| states | jobs | warm wall (s) |\n|---:|---:|---:|")
    with tempfile.TemporaryDirectory(prefix="states_ladder_") as work:
        for n in [int(a) for a in args] or [8, 32]:
            jobs, wall = rung(spark, ms, gen, work, n)
            print(f"| {n} | {jobs} | {wall:.1f} |", flush=True)
    spark.stop()
    return 0


if __name__ == "__main__":
    raise SystemExit(main(sys.argv[1:]))
