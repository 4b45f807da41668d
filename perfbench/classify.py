"""Split the query registry into the benchmark's two registry pools.

Builds every registered query once on the benchmark world under its own job
group and counts the Spark jobs the build starts before ``collect()``:

- ``build_jobs == 0``: the DataFrame build is lazy, all work happens at
  ``collect()`` → pool ``olap-single-pass``;
- ``build_jobs > 0``: the build already runs jobs (eager ``localCheckpoint``
  loops, driver-side collects, iterations) → pool ``iterative-build``.

Each query is then collected and checked against its DuckDB oracle; a query
that errors or mismatches on the world lands in ``excluded`` with the reason,
so no workload samples it. The result is committed as ``pools.json``, which
fixes workload membership: a later change that removes eager jobs does not
move queries between workloads until this is re-run on purpose.

    python3 perfbench/classify.py
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import harness  # noqa: E402  (puts the repo root on sys.path)
from verify import OracleChecker  # noqa: E402

POOLS = ("olap-single-pass", "iterative-build")


def main() -> int:
    harness.configure()

    from cobalt_duckdb_spark.io import TABLE_NAMES, load_table
    from cobalt_duckdb_spark.queries import queries

    world = harness.world_dir()
    spark, _ = harness.start_session("perfbench-classify")
    sc = spark.sparkContext
    for t in TABLE_NAMES:  # a table's first load may start a job: not the query's
        load_table(spark, world, t)
    checker = OracleChecker(world)
    rows: dict[str, dict] = {}
    for name, fn in queries().items():
        group = f"classify:{name}"
        sc.setJobGroup(group, name)
        t0 = time.perf_counter()
        try:
            df = fn(spark, world)
            build_s = time.perf_counter() - t0
            jobs = len(sc.statusTracker().getJobIdsForGroup(group))
            result = df.collect()
            problem = checker.check(name, df.dtypes, result)
        except Exception as e:  # noqa: BLE001
            build_s, jobs, problem = time.perf_counter() - t0, None, f"error: {e}"
        total_s = time.perf_counter() - t0
        rows[name] = {"build_jobs": jobs, "build_s": round(build_s, 3), "total_s": round(total_s, 3)}
        if problem:
            rows[name]["excluded"] = problem.splitlines()[0][:200]
        elif name not in checker.oracles:  # no oracle: the row count is the check
            rows[name]["rows"] = len(result)
        print(f"{name}: {rows[name]}", file=sys.stderr, flush=True)
    harness.stop_session(spark)

    pools = {p: [] for p in POOLS}
    excluded = {}
    for name, r in rows.items():
        if "excluded" in r:
            excluded[name] = r["excluded"]
        else:
            pools[POOLS[0] if r["build_jobs"] == 0 else POOLS[1]].append(name)
    doc = {
        "rule": "build_jobs == 0 -> olap-single-pass; build_jobs > 0 -> iterative-build",
        "world": {"seed": harness.WORLD_SEED, "sf": harness.WORLD_SF},
        "cores": harness.CORES,
        **{p: sorted(v) for p, v in pools.items()},
        "excluded": dict(sorted(excluded.items())),
        "measured": dict(sorted(rows.items())),
    }
    with open(os.path.join(harness.BENCH_DIR, "pools.json"), "w") as f:
        json.dump(doc, f, indent=1)
        f.write("\n")
    print(json.dumps({p: len(v) for p, v in pools.items()} | {"excluded": len(excluded)}))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
