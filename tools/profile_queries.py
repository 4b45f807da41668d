"""Round-9 optimization profiler.

For each named query (default: every registered query), measures
  - build_s: wall time to construct the DataFrame (driver-side plan building,
    including any eager localCheckpoint jobs a query runs while composing)
  - exec_s:  wall time of the terminal .collect() (min of --reps runs)
and counts plan features from explain("formatted"): Exchange nodes,
BatchEvalPython/ArrowEvalPython/FlatMapGroupsInPandas nodes, SortMergeJoin /
BroadcastHashJoin / ShuffledHashJoin / BroadcastNestedLoopJoin, and
Scan ExistingRDD leaves (localCheckpoint boundaries).

    python tools/profile_queries.py [--sf DIR] [--reps N] [--plans-dir DIR]
                                    [--out FILE] [name|pattern ...]

Writes one JSON object per query to --out (default /tmp/profile_r09.json)
and, when --plans-dir is given, the formatted plan to <dir>/<name>.txt.
"""

from __future__ import annotations

import argparse
import fnmatch
import gc
import json
import os
import re
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from cobalt_duckdb_spark.plans import formatted_plan
from cobalt_duckdb_spark.queries import queries
from cobalt_duckdb_spark.session import get_spark

FEATURES = {
    "exchanges": r"\bExchange\b",
    "py_eval": r"BatchEvalPython|ArrowEvalPython",
    "pandas_groups": r"FlatMapGroupsInPandas|MapInPandas|MapInArrow|FlatMapCoGroupsInPandas",
    "smj": r"SortMergeJoin",
    "bhj": r"BroadcastHashJoin",
    "shj": r"ShuffledHashJoin",
    "bnlj": r"BroadcastNestedLoopJoin",
    "cartesian": r"CartesianProduct",
    "existing_rdd": r"Scan ExistingRDD",
    "windows": r"\bWindow\b",
    "sorts": r"\bSort\b",
}


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf", default="/root/testdata/sf0.1")
    ap.add_argument("--reps", type=int, default=2)
    ap.add_argument("--plans-dir", default=None)
    ap.add_argument("--out", default="/tmp/profile_r09.json")
    ap.add_argument("names", nargs="*", default=None)
    args = ap.parse_args()

    spark = get_spark("profile-r09")
    spark.sparkContext.setLogLevel("ERROR")

    import bench as _bench

    calib0 = _bench._calibrate(spark)
    print(f"calib_start {calib0}", flush=True)

    reg = queries()
    if args.names:
        reg = {
            n: fn
            for n, fn in reg.items()
            if any(fnmatch.fnmatch(n, p) for p in args.names)
        }

    # warm-up (same as bench.py)
    for t in ("lineitem", "embeddings", "documents"):
        spark.read.parquet(os.path.join(args.sf, f"{t}.parquet")).count()
    next(iter(queries().values()))(spark, args.sf).collect()

    if args.plans_dir:
        os.makedirs(args.plans_dir, exist_ok=True)

    results = {}
    for name, fn in reg.items():
        spark.sparkContext.setJobDescription(f"profile:{name}")
        t0 = time.perf_counter()
        df = fn(spark, args.sf)
        build_s = time.perf_counter() - t0

        plan = formatted_plan(df)
        feats = {k: len(re.findall(rx, plan)) for k, rx in FEATURES.items()}

        best = float("inf")
        for rep in range(args.reps):
            t0 = time.perf_counter()
            # rebuild each rep so eager build-side work is re-paid exactly as
            # bench.py pays it; first rep reuses df to include its build.
            # No rebuild after the FINAL collect — it would pay one unused
            # build (incl. any eager localCheckpoint jobs) per query
            # (ADVICE r9).
            df.collect()
            best = min(best, time.perf_counter() - t0)
            if rep + 1 < args.reps:
                df = fn(spark, args.sf)
        results[name] = {
            "build_s": round(build_s, 4),
            "exec_s": round(best, 4),
            **feats,
        }
        if args.plans_dir:
            with open(os.path.join(args.plans_dir, f"{name}.txt"), "w") as f:
                f.write(plan)
        gc.collect()
        print(
            f"{name}: build {build_s:.3f}s exec {best:.3f}s "
            f"ex={feats['exchanges']} py={feats['py_eval']} "
            f"rdd={feats['existing_rdd']}",
            flush=True,
        )

    calib1 = _bench._calibrate(spark)
    print(f"calib_end {calib1}", flush=True)
    # calibration under its own top-level key, not mixed into the per-query
    # results keyspace (ADVICE r9)
    out_doc = {
        "calib": {"start": calib0, "end": calib1},
        "queries": results,
    }
    with open(args.out, "w") as f:
        json.dump(out_doc, f, indent=1, sort_keys=True)
    print(f"wrote {args.out}")


if __name__ == "__main__":
    main()
