"""Physical-plan introspection and assertions (SURVEY.md §4).

The reference relies on DuckDB's optimizer implicitly; here Catalyst does
the optimizing and these helpers make the resulting plans TESTABLE: tests
assert that filters actually reach the Parquet scan, that projections prune
columns, that small sides broadcast, and that top-k compiles to
TakeOrderedAndProject — so a regression that silently de-optimizes a query
fails CI rather than a 100 TB run.
"""

from __future__ import annotations

from pyspark.sql import DataFrame


def formatted_plan(df: DataFrame) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(  # type: ignore[attr-defined]
        df._jdf.queryExecution(), "formatted"
    )


def assert_pushed_filters(df: DataFrame, *fragments: str) -> None:
    """Assert each fragment appears in a Parquet scan's PushedFilters list."""
    plan = formatted_plan(df)
    pushed = [ln for ln in plan.splitlines() if "PushedFilters" in ln]
    joined = "\n".join(pushed)
    assert pushed, f"no PushedFilters in plan:\n{plan}"
    for frag in fragments:
        assert frag in joined, f"filter {frag!r} not pushed; got:\n{joined}\n\nplan:\n{plan}"


def assert_read_schema_only(df: DataFrame, table_fragment: str, *cols: str) -> None:
    """Assert the scan whose path contains ``table_fragment`` reads exactly
    ``cols`` (column pruning happened)."""
    plan = formatted_plan(df)
    blocks = plan.split("(")
    for b in blocks:
        if "ReadSchema" in b and table_fragment in b:
            schema_line = [ln for ln in b.splitlines() if "ReadSchema" in ln][0]
            for c in cols:
                assert c in schema_line, f"{c} missing from ReadSchema: {schema_line}"
            extra = [
                tok.split(":")[0]
                for tok in schema_line.split("<", 1)[-1].rstrip(">").split(",")
            ]
            unexpected = set(extra) - set(cols)
            assert not unexpected, f"scan reads extra columns {unexpected}: {schema_line}"
            return
    raise AssertionError(f"no scan for {table_fragment} found in plan:\n{plan}")


def assert_broadcast_join(df: DataFrame, expected: int = 1) -> None:
    plan = formatted_plan(df)
    n = plan.count("BroadcastHashJoin")
    assert n >= expected, f"expected ≥{expected} BroadcastHashJoin, found {n}:\n{plan}"


def assert_take_ordered(df: DataFrame) -> None:
    plan = formatted_plan(df)
    assert "TakeOrderedAndProject" in plan, f"top-k did not fuse:\n{plan}"


def assert_no_cartesian(df: DataFrame) -> None:
    plan = formatted_plan(df)
    assert "CartesianProduct" not in plan, f"unplanned cartesian product:\n{plan}"

