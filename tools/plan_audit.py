"""Physical-plan smell audit over EVERY registered query.

For each registry entry, build the DataFrame at the given sf_dir and inspect
the optimized physical plan (no execution beyond what query construction
itself does) for patterns that don't survive scale:

- ``CartesianProduct``     — an unconditioned all-pairs join: O(n·m) rows.
- ``BatchEvalPython``      — row-at-a-time Python UDF in the plan (the slow
                             path; Arrow-batched ``ArrowEvalPython`` /
                             ``FlatMapGroupsInPandas`` / ``MapInPandas``
                             are the sanctioned Python escapes).
- ``BroadcastNestedLoopJoin`` with a non-broadcastable-at-scale side is NOT
  flagged: every occurrence here is a deliberate single-row/corpus-stats
  broadcast (cutoffs, corpus aggregates), which is the intended pattern.

It also counts, per query, the parquet scans of each table path, the
``Scan ExistingRDD`` leaves (materialized frames: ``localCheckpoint``,
``createDataFrame``), the shuffle ``Exchange`` nodes and, among them, the
``rangepartitioning`` ones. A table read k times in one plan is k - 1
redundant scans. A range exchange is a global sort: its partitioner runs a
sampling job over the exchange's child first (``ordering.sort_result`` sorts
a result without one). The registry totals of all four counts are ratcheted
by test_plans.py.

Usage: python tools/plan_audit.py [sf_dir] [name ...]
Prints the registry totals; exit 1 if any smell is found. Run by pytest
(test_plans.py) over the full registry — a de-optimized plan is a failed
test, not a surprise at 100 TB.
"""

from __future__ import annotations

import os
import re
import sys
from collections import Counter
from typing import NamedTuple

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SMELLS = ("CartesianProduct", "BatchEvalPython")
_SCAN = re.compile(r"FileScan parquet .*?Location: \w+\(\d+ paths?\)\[([^\],]+)")
# a shuffle exchange; BroadcastExchange and ReusedExchange do not match
_EXCHANGE = re.compile(r"\bExchange (\w+)")


class PlanAudit(NamedTuple):
    smells: list[str]
    scans: dict[str, int]  # parquet table path -> scans in the plan
    rdd_scans: int  # Scan ExistingRDD leaves
    exchanges: int  # shuffle Exchange nodes
    range_exchanges: int  # of which rangepartitioning

    @property
    def redundant_scans(self) -> int:
        return sum(n - 1 for n in self.scans.values())


def audit(spark, sf_dir: str, only: set[str] | None = None) -> dict[str, PlanAudit]:
    """Return {query_name: PlanAudit} for every audited query (empty
    ``smells`` = clean). Queries are built, not executed."""
    from cobalt_duckdb_spark.queries import queries

    out: dict[str, PlanAudit] = {}
    for name, fn in queries().items():
        if only and name not in only:
            continue
        df = fn(spark, sf_dir)
        plan = df._jdf.queryExecution().executedPlan().toString()
        exchanges = _EXCHANGE.findall(plan)
        out[name] = PlanAudit(
            [s for s in SMELLS if s in plan],
            dict(Counter(m.group(1) for m in _SCAN.finditer(plan))),
            plan.count("Scan ExistingRDD"),
            len(exchanges),
            exchanges.count("rangepartitioning"),
        )
    return out


def main() -> int:
    from cobalt_duckdb_spark.session import get_spark

    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:]) or None
    spark = get_spark("plan-audit")
    spark.sparkContext.setLogLevel("ERROR")
    results = audit(spark, sf_dir, only)
    bad = {k: a.smells for k, a in results.items() if a.smells}
    for name, smells in bad.items():
        print(f"SMELL {name}: {', '.join(smells)}")
    for name, a in sorted(results.items(), key=lambda kv: -kv[1].redundant_scans):
        if a.redundant_scans:
            print(f"REDUNDANT {a.redundant_scans} {name}")
    for name, a in results.items():
        if a.range_exchanges:
            print(f"RANGE {a.range_exchanges} {name}")
    print(f"{len(results) - len(bad)}/{len(results)} plans clean")
    print(f"redundant parquet scans: {sum(a.redundant_scans for a in results.values())}")
    print(f"Scan ExistingRDD leaves: {sum(a.rdd_scans for a in results.values())}")
    print(f"shuffle exchanges: {sum(a.exchanges for a in results.values())}")
    print(f"range exchanges: {sum(a.range_exchanges for a in results.values())}")
    return 1 if bad else 0


if __name__ == "__main__":
    raise SystemExit(main())
