"""Result ordering: how a query sorts the rows it returns."""

from __future__ import annotations

from pyspark.sql import DataFrame


def sort_result(df: DataFrame, *cols, **kwargs) -> DataFrame:
    """``df.orderBy(*cols, **kwargs)``, sorted in one partition.

    Invariant: the rows, and their order, are exactly ``orderBy``'s. Only the
    physical plan differs. A global ``orderBy`` plans as ``Exchange
    rangepartitioning``, and its ``RangePartitioner`` first runs a sampling
    job over the exchange's child: the whole last stage is computed once
    more, only to pick range bounds. ``repartition(1)`` gives the sort a
    ``SinglePartition`` child, so no range exchange is added, the last stage
    runs once and the query runs one Spark job fewer. The stages upstream of
    the exchange keep their full parallelism (``coalesce(1)`` would narrow
    them to one task too).

    Scale: use it where the sorted rows end up in one place anyway. A
    query's result is collected by a single driver, so one reduce task that
    sorts it is no new bottleneck; a small frame that a global aggregate
    gathers next is the same case. A large sort in the middle of a plan, or
    a result written out in parallel rather than collected, keeps the range
    sort. So does a frame whose child is already one partition (a global
    ``Window`` with no ``partitionBy``, or this helper's own output): there
    ``repartition(1)`` would add an exchange and a job. ``orderBy(...)
    .limit(n)`` plans as ``TakeOrderedAndProject`` and needs neither. An
    operator whose output other plans also join returns it unsorted, and the
    query that returns it sorts it: a ``repartition(1)`` is not optimized
    away under a join the way a ``Sort`` is.

    A query written as SQL text spells the same plan as a hint on its final
    ``SELECT``: ``SELECT /*+ REPARTITION(1) */ … ORDER BY …``.
    """
    return df.repartition(1).orderBy(*cols, **kwargs)
