"""Per-layer tracing, measured from outside the layers.

A ``Tracer`` wraps ``io.load_table`` where the package's modules bound it,
runs each operation under its own Spark job group, and after the operation
reads Spark's own job and stage statistics for that group from the status
store, the Catalyst phase times from the query execution's tracker, the
parquet scan count of the executed plan and the block manager's persisted
RDDs. Readings become one span per operation (its build, Catalyst plan,
execute and, added by the harness, verify times, under the workload), each
holding one entry per Spark job and stage of its job group. Spans stay in
memory until ``dump``.

Nothing here is active in an untraced run: the harness then never builds a
``Tracer`` and calls none of these reads.
"""

from __future__ import annotations

import json
import sys
import time
from collections import defaultdict

PHASES = ("analysis", "optimization", "planning")


def _opt(o):
    """A Scala ``Option`` through py4j, as a Python value or None."""
    return o.get() if o.isDefined() else None


def storage_reading(sc) -> tuple[int, float]:
    """(persisted RDDs, MiB held in memory) as the block manager sees it."""
    infos = sc._jsc.sc().getRDDStorageInfo()
    mem = sum(i.memSize() for i in infos)
    return int(sc._jsc.getPersistentRDDs().size()), mem / (1 << 20)


class Tracer:
    def __init__(self, workload: str):
        self.workload = workload
        self.active = False
        self.spans: list[dict] = []
        self.sums: dict[str, float] = defaultdict(float)
        self._seen: dict[int, object] = {}
        self._group = None
        self._build_jobs: set[int] = set()
        self._stages: set[int] = set()  # a later job lists reused stages again

    def attach(self, spark) -> None:
        self.sc = spark.sparkContext

    # -- io layer ---------------------------------------------------------
    def install(self) -> None:
        from cobalt_duckdb_spark import io

        original = io.load_table

        def load_table(*args, **kwargs):
            t0 = time.perf_counter()
            df = original(*args, **kwargs)
            if self.active:
                self.sums["io.load_s"] += time.perf_counter() - t0
                self.sums["io.load_calls"] += 1
                self.sums["io.cache_hits"] += id(df) in self._seen
            self._seen[id(df)] = df  # held, so an id is never reused
            return df

        for mod in list(sys.modules.values()):
            name = getattr(mod, "__name__", "") or ""
            if name.startswith("cobalt_duckdb_spark") and getattr(mod, "load_table", None) is original:
                setattr(mod, "load_table", load_table)

    # -- one operation ----------------------------------------------------
    def begin(self, op: str) -> None:
        self._group = f"{self.workload}:{len(self.spans)}:{op}"
        self.sc.setJobGroup(self._group, op)

    def after_build(self) -> None:
        self._build_jobs = set(self.sc.statusTracker().getJobIdsForGroup(self._group))

    def end(self, op: str, dfs, build_s: float, total_s: float, t_start: float) -> None:
        store = self.sc._jsc.sc().statusStore()
        span = {
            "workload": self.workload, "op": op, "group": self._group,
            "start": t_start, "build_s": build_s, "total_s": total_s,
            "jobs": [], "stages": [],
        }
        job_ms = []
        for jid in sorted(self.sc.statusTracker().getJobIdsForGroup(self._group)):
            jd = store.job(jid)
            sub, done = _opt(jd.submissionTime()), _opt(jd.completionTime())
            t0 = sub.getTime() if sub else None
            t1 = done.getTime() if done else None
            span["jobs"].append({"id": jid, "build": jid in self._build_jobs, "start_ms": t0, "end_ms": t1})
            if jid not in self._build_jobs and t0 is not None and t1 is not None:
                job_ms.append((t0, t1))
            stage_ids = jd.stageIds()
            for k in range(stage_ids.size()):
                self._read_stage(store, stage_ids.apply(k), span)
        plan_s, scans = 0.0, 0
        for df in dfs:
            qe = df._jdf.queryExecution()
            phases = qe.tracker().phases()
            for p in PHASES:
                s = _opt(phases.get(p))
                if s is not None:
                    plan_s += s.durationMs() / 1000.0
            plan = qe.executedPlan().toString().split("== Initial Plan ==")[0]
            scans += plan.count("FileScan parquet")
        busy = 0.0  # union of execution-job intervals, ms
        end = None
        for a, b in sorted(job_ms):
            if end is None or a > end:
                busy += b - a
                end = b
            elif b > end:
                busy += b - end
                end = b
        exec_s = total_s - build_s
        rdds, mem = storage_reading(self.sc)
        span.update(plan_s=plan_s, parquet_scans=scans, persisted_rdds=rdds, mem_mb=mem)
        self.spans.append(span)
        if op.startswith("q:"):
            self.sums["queries.build_s"] += build_s
            self.sums["queries.build_jobs"] += len(self._build_jobs)
        self.sums["spark.jobs"] += len(span["jobs"])
        self.sums["spark.plan_s"] += plan_s
        self.sums["spark.driver_gap_s"] += max(exec_s - busy / 1000.0, 0.0)
        self.sums["plan.parquet_scans"] += scans
        self.sc.setLocalProperty("spark.jobGroup.id", None)

    def group_run_s(self, group: str) -> float:
        """Executor run time summed over the stages of a job group's jobs."""
        store = self.sc._jsc.sc().statusStore()
        stages = set()
        for jid in self.sc.statusTracker().getJobIdsForGroup(group):
            ids = store.job(jid).stageIds()
            stages.update(ids.apply(k) for k in range(ids.size()))
        return sum(store.lastStageAttempt(sid).executorRunTime() / 1000.0 for sid in stages)

    def _read_stage(self, store, sid: int, span: dict) -> None:
        if sid in self._stages:
            return
        self._stages.add(sid)
        sd = store.lastStageAttempt(sid)
        if str(sd.status()) == "SKIPPED":
            return
        row = {
            "id": sid,
            "tasks": sd.numCompleteTasks(),
            "run_s": sd.executorRunTime() / 1000.0,
            "cpu_s": sd.executorCpuTime() / 1e9,
            "input_bytes": sd.inputBytes(),
            "shuffle_write_bytes": sd.shuffleWriteBytes(),
            "spill_bytes": sd.memoryBytesSpilled() + sd.diskBytesSpilled(),
        }
        span["stages"].append(row)
        self.sums["spark.stages"] += 1
        self.sums["spark.tasks"] += row["tasks"]
        self.sums["spark.executor_run_s"] += row["run_s"]
        self.sums["spark.executor_cpu_s"] += row["cpu_s"]
        self.sums["spark.input_bytes"] += row["input_bytes"]
        self.sums["spark.shuffle_write_bytes"] += row["shuffle_write_bytes"]
        self.sums["spark.spill_bytes"] += row["spill_bytes"]

    def dump(self, path: str, extra: dict) -> None:
        with open(path, "w") as f:
            json.dump({**extra, "spans": self.spans}, f)
