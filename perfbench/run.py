"""The repo's benchmark: one workload per run, one Spark driver process.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Workloads (see README.md for why each exists):

- ``olap-single-pass``: a fixed, family-stratified sample of registry
  queries whose DataFrame build starts no Spark job;
- ``iterative-build``: a fixed sample of registry queries whose build
  already runs 8 or more jobs (eager materialization loops, rounds that
  collect to the driver); run by hand, it is not in ``BENCHMARK.json``;
- ``search-serve``: ``client.SparkSearchClient`` over ``documents``: one
  ingest (``from_dataframe`` + ``store.count()``), then a stream of
  single-query and list ``search_top_n`` requests.

A run sets up once, cold (JVM and session start, table loads, the ingest on
``search-serve``, one untimed warm-up pass): that is ``setup_s``. Untimed
passes then run for ``SETTLE_S`` seconds, until the JIT has compiled the hot
paths. Then it repeats timed passes over the workload's operations, in an
order drawn from ``--seed``, until ``--seconds`` have passed (at least
three passes), and checks every output afterwards. The last stdout line is
the result JSON; the line before it is the full record.

With ``--trace 1`` passes alternate between traced and untraced, the last
line carries the per-layer metrics (per traced pass) plus the measured
tracing overhead, and the spans are written to ``.bench_build/perfbench/``.
"""

from __future__ import annotations

import argparse
import json
import os
import random
import statistics
import sys
import time
import traceback

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import harness  # noqa: E402  (puts the repo root on sys.path)

# pool -> (sample size, (cheapest, dearest) per-query cost in s as
# classify.py measured it, fewest build jobs). On olap-single-pass the cost
# floor leaves out queries that run in 0.1 to 0.3 s once warm: their time is
# mostly job launch and thread hand-offs, which follow the shared host's
# state, and their medians moved 15 to 25% from run to run where queries of
# 0.3 to 0.8 s moved 3%. On iterative-build the floor on build jobs leaves
# out the cheap queries whose build starts one to three jobs: the sample is
# made of the loops the pool exists for (eager localCheckpoint iterations,
# rounds that collect to the driver). Either way a pass stays near 2 to 3 s
# on 4 cores, so that a run holds several settle passes and timed ones.
SAMPLES = {"olap-single-pass": (4, (1.0, 2.0), 0), "iterative-build": (3, (0.0, 1.6), 8)}
MIN_PASSES = 3
# Pass times fall by a third over the first 10 to 15 s after the cold pass
# while the JVM compiles; measured before that, a run reads where on that
# curve it happens to be. The settle phase is bounded by time so that a
# slow host cannot stretch the run budget.
SETTLE_S = 8.0
SAMPLE_SEED = 20261016
SINGLE_REQUESTS, LIST_SIZE, TOP_N = 3, 2, 10
INGEST_GROUP = "perfbench:ingest"


def family(name: str) -> str:
    head = name.split("_")[0]
    return "tpch" if head[:1] == "q" and head[1:].isdigit() else head


def registry_sample(pool: str) -> list[str]:
    """The pool's fixed sample: queries within the per-query cost range
    whose build started at least the floor's jobs, shuffled within each
    family, then taken round-robin across families (largest family first) so every
    family gets a share before any family gets a second one."""
    with open(os.path.join(harness.BENCH_DIR, "pools.json")) as f:
        pools = json.load(f)
    size, (lo_s, hi_s), min_jobs = SAMPLES[pool]
    rng = random.Random(SAMPLE_SEED)
    by_fam: dict[str, list[str]] = {}
    for name in pools[pool]:
        m = pools["measured"][name]
        if lo_s <= m["total_s"] <= hi_s and m["build_jobs"] >= min_jobs:
            by_fam.setdefault(family(name), []).append(name)
    for names in by_fam.values():
        rng.shuffle(names)
    order = sorted(by_fam, key=lambda k: (-len(by_fam[k]), k))
    picked: list[str] = []
    while len(picked) < size and any(by_fam.values()):
        for fam in order:
            if by_fam[fam] and len(picked) < size:
                picked.append(by_fam[fam].pop())
    return picked


class RegistryWorkload:
    def __init__(self, pool: str):
        from cobalt_duckdb_spark.queries import queries

        self.name = pool
        self.names = registry_sample(pool)
        self.fns = queries()

    def prepare(self, spark, world: str) -> None:
        """Nothing to ingest: each query loads its tables through
        ``io.load_table``, which caches them, so the warm-up pass does the
        table loads."""
        self.spark, self.world = spark, world

    def ops(self, rng: random.Random):
        names = list(self.names)
        rng.shuffle(names)
        return [(f"q:{n}", lambda n=n: [self.fns[n](self.spark, self.world)]) for n in names]

    warmup_ops = ops

    def verifier(self, world: str):
        from verify import OracleChecker

        with open(os.path.join(harness.BENCH_DIR, "pools.json")) as f:
            measured = json.load(f)["measured"]
        checker = OracleChecker(world, {n: m["rows"] for n, m in measured.items() if "rows" in m})

        def check(op: str, results) -> str | None:
            (dtypes, rows), = results
            return checker.check(op[2:], dtypes, rows)

        return check


class SearchWorkload:
    """A fixed, seeded set of requests (single queries and one list),
    replayed in a new order every pass. The client caches no results, so a
    replayed text costs what a new one does, and each request's latency is
    its median over the passes, as for a registry query."""

    name = "search-serve"

    def __init__(self, rng: random.Random):
        from datagen import VOCAB

        def text():
            return " ".join(rng.choice(VOCAB) for _ in range(rng.randint(2, 6)))

        self.singles = [text() for _ in range(SINGLE_REQUESTS)]
        self.batch = [text() for _ in range(LIST_SIZE)]

    def prepare(self, spark, world: str) -> None:
        """Table load plus the write side: ``from_dataframe`` through a
        materialized store (``ingest_s``), under its own job group so a
        traced run can read the executor time of the embedder UDF."""
        from cobalt_duckdb_spark.client import SparkSearchClient
        from cobalt_duckdb_spark.io import load_table

        sc = spark.sparkContext
        sc.setJobGroup(INGEST_GROUP, "ingest")
        t0 = time.perf_counter()
        try:
            self.client = SparkSearchClient.from_dataframe(load_table(spark, world, "documents"), "text")
            self.client.store.count()
        finally:
            self.ingest_s = time.perf_counter() - t0
            sc.setLocalProperty("spark.jobGroup.id", None)

    def _requests(self):
        ops = [(f"search:{q}", lambda q=q: self.client.search_top_n(q, n=TOP_N)) for q in self.singles]
        ops.append(("batch:" + "|".join(self.batch), lambda: self.client.search_top_n(self.batch, n=TOP_N)))
        return ops

    def ops(self, rng: random.Random):
        ops = self._requests()
        rng.shuffle(ops)
        return ops

    def warmup_ops(self, rng: random.Random):
        """One single request and one list request warm both read paths."""
        ops = self._requests()
        return [ops[0], ops[-1]]

    def verifier(self, world: str):
        """Brute-force cosine top-k over the store as collected from Spark,
        with the query vectors from the embedder kernel on the driver."""
        import numpy as np
        import pyarrow.parquet as pq

        from cobalt_duckdb_spark.client import _ID
        from cobalt_duckdb_spark.functions.inference import QUERY_PREFIX, load_embed_backend
        from verify import topk_ids

        encode, _ = load_embed_backend()
        n_docs = pq.read_metadata(os.path.join(world, "documents.parquet")).num_rows
        doc_of = dict(self.client.dataset.select(_ID, "doc_id").collect())
        store = self.client.store.select("vec_id", "embedding").collect()
        ids = np.array([doc_of[r["vec_id"]] for r in store])
        vecs = np.array([r["embedding"] for r in store], dtype=np.float64)

        def check(op: str, results) -> str | None:
            if len(store) != n_docs:
                return f"store holds {len(store)} of {n_docs} documents"
            texts = op.partition(":")[2].split("|")
            want = topk_ids(ids, vecs, np.asarray(encode([QUERY_PREFIX + t for t in texts])), TOP_N)
            for (_, rows), w in zip(results, want, strict=True):
                got = [r["doc_id"] for r in sorted(rows, key=lambda r: r["rank"])]
                if got != w:
                    return f"top-{TOP_N} for {texts[0]!r}: {got} != {w}"
            return None

        return check


def run_op(build, tracer, op: str):
    """Build, then collect every DataFrame the build returns. Returns
    (results, build_s, total_s); results pair each frame's dtypes with
    its rows, for checking after the timed region."""
    t0 = time.perf_counter()
    if tracer:
        tracer.begin(op)
    dfs = build()
    t1 = time.perf_counter()
    if tracer:
        tracer.after_build()
    rows = [df.collect() for df in dfs]
    t2 = time.perf_counter()
    if tracer:
        tracer.end(op, dfs, t1 - t0, t2 - t0, t0)
    return [(df.dtypes, r) for df, r in zip(dfs, rows)], t1 - t0, t2 - t0


def host_probe(spark) -> float:
    """Seconds for a fixed Spark job that runs no code of the repo: codegen
    arithmetic, one hash exchange and an aggregation over 2M synthetic rows,
    like ``bench._calibrate``'s anchor but a tenth of its cost, so that it
    can run after every pass. It reads the host's speed for this kind of
    work (many JVM threads, memory-bound), which single-threaded probes
    miss."""
    from pyspark.sql import functions as F

    t0 = time.perf_counter()
    (
        spark.range(0, 2_000_000, 1, harness.CORES)
        .select(
            ((F.col("id") * F.lit(2654435761)) % F.lit(100003)).alias("k"),
            (F.col("id") % F.lit(97)).cast("double").alias("v"),
        )
        .groupBy("k")
        .agg(F.sum("v").alias("s"))
        .agg(F.sum("s"))
        .collect()
    )
    return time.perf_counter() - t0


def percentile(values: list[float], q: int) -> float:
    return statistics.quantiles(values, n=100, method="inclusive")[q - 1] if len(values) > 1 else values[0]


def main() -> int:
    ap = argparse.ArgumentParser(description="perfbench: the repo's benchmark")
    ap.add_argument("--workload", required=True, choices=["olap-single-pass", "iterative-build", "search-serve"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args()
    traced = bool(args.trace)

    harness.configure()
    world = harness.world_dir()
    rng = random.Random(args.seed)
    wl = SearchWorkload(rng) if args.workload == "search-serve" else RegistryWorkload(args.workload)

    # set-up, once and cold, as a user meets it: JVM and session start,
    # table loads (plus the ingest on search-serve) and the untimed warm-up
    tracer = None
    if traced:
        from bench import _calibrate
        from layers import Tracer

        tracer = Tracer(wl.name)
        tracer.install()  # inactive until the timed region; sees set-up loads
    failed_ops: list[str] = []
    attempted = 0
    t0 = time.perf_counter()
    spark, start_s = harness.start_session(f"perfbench-{wl.name}")
    if tracer:
        tracer.attach(spark)
    try:
        wl.prepare(spark, world)
    except Exception as e:  # noqa: BLE001 — counted; every operation then fails too
        attempted += 1
        failed_ops.append(f"prepare: {type(e).__name__}: {e}"[:300])
    prepared = time.perf_counter()
    for op, build in wl.warmup_ops(random.Random(args.seed)):
        try:
            run_op(build, None, op)
        except Exception:  # noqa: BLE001 — the timed passes count it
            traceback.print_exc()
    setup_s = time.perf_counter() - t0
    warmup_s = t0 + setup_s - prepared

    # settle: untimed passes, neither set-up nor measured (see SETTLE_S)
    settle_passes = 0
    t_settle = time.perf_counter() + SETTLE_S
    host_probe(spark)  # the probe warms up alongside the workload
    while time.perf_counter() < t_settle:
        for op, build in wl.ops(rng):
            try:
                run_op(build, None, op)
            except Exception:  # noqa: BLE001 — the timed passes count it
                pass
        settle_passes += 1
        host_probe(spark)

    calib = []
    if traced:
        calib.append(_calibrate(spark))

    # timed region: whole passes until --seconds have passed (at least
    # MIN_PASSES, and no more if every operation failed); in a traced run,
    # odd passes are traced, even ones not
    passes: list[tuple[bool, float]] = []
    probes: list[float] = []
    samples: list[tuple[str, float, float]] = []  # (op, build_s, total_s)
    outputs: list[tuple[str, object, dict | None]] = []  # (op, results, span)
    t_end = time.perf_counter() + args.seconds
    min_passes = 2 * MIN_PASSES if traced else MIN_PASSES
    while len(passes) < min_passes or (samples and time.perf_counter() < t_end):
        on = traced and len(passes) % 2 == 1
        if tracer:
            tracer.active = on
        t_pass = time.perf_counter()
        for op, build in wl.ops(rng):
            attempted += 1
            try:
                res, b, t = run_op(build, tracer if on else None, op)
            except Exception as e:  # noqa: BLE001 — counted, never fatal
                failed_ops.append(f"{op}: {type(e).__name__}: {e}"[:300])
                continue
            samples.append((op, b, t))
            outputs.append((op, res, tracer.spans[-1] if on else None))
        passes.append((on, time.perf_counter() - t_pass))
        probes.append(host_probe(spark))
    if tracer:
        tracer.active = False
        calib.append(_calibrate(spark))

    t_check = time.perf_counter()
    try:
        check = wl.verifier(world)
    except Exception as e:  # noqa: BLE001 — then no output counts as checked
        reason = f"verifier error: {type(e).__name__}: {e}"
        check = lambda op, res: reason  # noqa: E731
    for op, res, span in outputs:
        t = time.perf_counter()
        try:
            problem = check(op, res)
        except Exception as e:  # noqa: BLE001
            problem = f"check error: {type(e).__name__}: {e}"
        if span is not None:
            span["verify_s"] = time.perf_counter() - t
        if problem:
            failed_ops.append(f"{op}: {problem}"[:300])
    verify_s = time.perf_counter() - t_check

    # an operation's latency is its median over the passes; a list request
    # is not one operation's latency (see batch_ms_per_query)
    by_op: dict[str, list[float]] = {}
    for op, _, t in samples:
        if op.startswith(("q:", "search:")):
            by_op.setdefault(op, []).append(t)
    latency = [statistics.median(v) for v in by_op.values()]
    sweep_s = statistics.median(t for on, t in passes if not on)
    probe_s = statistics.mean(probes)
    record = {
        "workload": wl.name,
        "seed": args.seed,
        "cores": harness.CORES,
        "trace": args.trace,
        "passes": len(passes),
        "ops": len(samples),
        "failed_frac": len(failed_ops) / attempted,
        "failures": failed_ops[:10],
        "session_start_s": start_s,
        "prepare_s": setup_s - start_s - warmup_s,  # the ingest on search-serve
        "warmup_s": warmup_s,
        "settle_passes": settle_passes,
        "verify_s": verify_s,
        "pass_s": [t for _, t in passes],
        "probe_s": probes,
        "sweep_s": sweep_s,
        "op_s": {},  # per registry query or search request
    }
    for op, _, t in samples:
        record["op_s"].setdefault(op.removeprefix("q:"), []).append(round(t, 4))
    if isinstance(wl, SearchWorkload):
        record["ingest_s"] = wl.ingest_s
        batch = [t * 1000 / LIST_SIZE for op, _, t in samples if op.startswith("batch:")]
        record["batch_ms_per_query"] = statistics.median(batch) if batch else None
    # the bounded pass and operation times are in host probes (over the
    # mean probe of the timed region): the shared host's speed moves by a
    # factor of two between runs, and a run in a slow stretch is slow in its
    # probes alike (README.md, "Steadiness and budget")
    metrics = {
        "setup_s": (setup_s, "s"),
        "sweep_per_probe": (sweep_s / probe_s, "ratio"),
    }
    if latency:  # else every operation failed: the result says so
        # with 3 or 4 operations a run, no percentile has ten samples beyond
        # it: the percentiles are recorded, the geometric mean is the metric
        record["op_p50_ms"] = percentile(latency, 50) * 1000
        record["op_p90_ms"] = percentile(latency, 90) * 1000
        record["op_gmean_ms"] = statistics.geometric_mean(latency) * 1000
        metrics["op_gmean_per_probe"] = (statistics.geometric_mean(latency) / probe_s, "ratio")
    if traced:
        record["host.calib_s"] = {"before": calib[0], "after": calib[1]}
        metrics = layer_metrics(tracer, wl, passes, record, calib)
        tracer.dump(os.path.join(harness.WORK_DIR, f"trace-{wl.name}-{args.seed}.json"), record)
    harness.stop_session(spark)

    record["metrics"] = {k: v for k, (v, _) in metrics.items()}
    print(json.dumps(record))
    print(
        json.dumps(
            {
                "correct": not failed_ops,
                "attempted": attempted,
                "failed": len(failed_ops),
                "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
            }
        )
    )
    return 0


def layer_metrics(tracer, wl, passes, record, calib) -> dict:
    """Per-layer readings per traced pass, and the tracing overhead: the
    median traced pass against the median untraced one."""
    n = max(sum(1 for on, _ in passes if on), 1)
    s = tracer.sums
    traced_s = statistics.median(t for on, t in passes if on)
    untraced_s = statistics.median(t for on, t in passes if not on)
    per_pass = lambda k: s.get(k, 0.0) / n  # noqa: E731
    singles = [sp for sp in tracer.spans if sp["op"].startswith("search:")]
    last = tracer.spans[-1] if tracer.spans else {}
    query_total = sum(sp["total_s"] for sp in tracer.spans if sp["op"].startswith("q:"))
    return {
        "session.start_s": (record["session_start_s"], "s"),
        "io.load_calls": (per_pass("io.load_calls"), "count"),
        "io.cache_hit_ratio": (s["io.cache_hits"] / s["io.load_calls"] if s.get("io.load_calls") else 0.0, "ratio"),
        "io.load_s": (per_pass("io.load_s"), "s"),
        "queries.build_s": (per_pass("queries.build_s"), "s"),
        "queries.build_share": (s.get("queries.build_s", 0.0) / query_total if query_total else 0.0, "ratio"),
        "queries.build_jobs": (per_pass("queries.build_jobs"), "count"),
        "spark.plan_s": (per_pass("spark.plan_s"), "s"),
        "spark.driver_gap_s": (per_pass("spark.driver_gap_s"), "s"),
        "spark.jobs": (per_pass("spark.jobs"), "count"),
        "spark.stages": (per_pass("spark.stages"), "count"),
        "spark.tasks": (per_pass("spark.tasks"), "count"),
        "spark.executor_run_s": (per_pass("spark.executor_run_s"), "s"),
        "spark.executor_cpu_s": (per_pass("spark.executor_cpu_s"), "s"),
        "spark.input_bytes": (per_pass("spark.input_bytes"), "bytes"),
        "spark.shuffle_write_bytes": (per_pass("spark.shuffle_write_bytes"), "bytes"),
        "spark.spill_bytes": (per_pass("spark.spill_bytes"), "bytes"),
        "plan.parquet_scans": (per_pass("plan.parquet_scans"), "count"),
        "storage.persisted_rdds": (last.get("persisted_rdds", 0), "count"),
        "storage.mem_mb": (last.get("mem_mb", 0.0), "MiB"),
        "client.build_ms": (statistics.median(sp["build_s"] for sp in singles) * 1000 if singles else 0.0, "ms"),
        "client.jobs_per_request": (statistics.mean(len(sp["jobs"]) for sp in singles) if singles else 0.0, "count"),
        "client.ingest_s": (record.get("ingest_s", 0.0), "s"),
        "client.batch_ms_per_query": (record.get("batch_ms_per_query") or 0.0, "ms"),
        "inference.ingest_run_s": (tracer.group_run_s(INGEST_GROUP) if isinstance(wl, SearchWorkload) else 0.0, "s"),
        "host.calib_before_s": (calib[0], "s"),
        "host.calib_after_s": (calib[1], "s"),
        "trace.sweep_s": (traced_s, "s"),
        "trace.overhead_pct": ((traced_s / untraced_s - 1.0) * 100.0, "%"),
    }


if __name__ == "__main__":
    raise SystemExit(main())
