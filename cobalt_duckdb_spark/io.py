"""Table loaders over the driver testdata (Parquet star schema).

Parquet is self-describing, so we trust the file schema (no inference risk —
cf. the reference's everything-inferred pipeline,
``/root/reference/model/data/notion_db.py:204,209``) and validate it against
the expected DDL below in tests. Filters/projections applied by callers push
down to the Parquet scan via Catalyst (check with
``plans.assert_pushed_filters``).
"""

from __future__ import annotations

import os
import weakref

from pyspark.sql import DataFrame, SparkSession

TABLE_NAMES = [
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
]

# Expected schemas (Spark DDL) — used by tests to pin the contract, not to
# override the Parquet footer.
EXPECTED_DDL: dict[str, str] = {
    "region": "r_regionkey INT, r_name STRING",
    "nation": "n_nationkey INT, n_name STRING, n_regionkey INT",
    "customer": (
        "c_custkey BIGINT, c_name STRING, c_nationkey INT, "
        "c_acctbal DOUBLE, c_mktsegment STRING"
    ),
    "supplier": "s_suppkey BIGINT, s_name STRING, s_nationkey INT, s_acctbal DOUBLE",
    "part": (
        "p_partkey BIGINT, p_name STRING, p_brand STRING, p_type STRING, "
        "p_size INT, p_retailprice DOUBLE"
    ),
    "orders": (
        "o_orderkey BIGINT, o_custkey BIGINT, o_orderstatus STRING, "
        "o_totalprice DOUBLE, o_orderdate TIMESTAMP, o_orderpriority STRING"
    ),
    "lineitem": (
        "l_orderkey BIGINT, l_partkey BIGINT, l_suppkey BIGINT, l_linenumber INT, "
        "l_quantity DOUBLE, l_extendedprice DOUBLE, l_discount DOUBLE, l_tax DOUBLE, "
        "l_returnflag STRING, l_linestatus STRING, l_shipdate TIMESTAMP"
    ),
    "events": (
        "event_id BIGINT, ts TIMESTAMP, user_id BIGINT, event_type STRING, "
        "value DOUBLE, props STRING"
    ),
    "documents": "doc_id BIGINT, text STRING, lang STRING, source STRING, n_chars BIGINT",
    "embeddings": "vec_id BIGINT, embedding ARRAY<FLOAT>, label INT",
}

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def table_path(sf_dir: str, name: str) -> str:
    return os.path.join(sf_dir, f"{name}.parquet")


# Explicit read schema for events when the file stores ts as Parquet
# TIMESTAMP(NANOS), which Spark's default reader rejects. Declaring ts LONG
# reads the raw nano integers without any session conf (no
# ``spark.sql.legacy.parquet.nanosAsLong`` mutation — a loader must not have
# session-global side effects on a co-hosted workload's SparkSession).
EVENTS_READ_DDL = (
    "event_id BIGINT, ts LONG, user_id BIGINT, event_type STRING, "
    "value DOUBLE, props STRING"
)


def _events_ts_unit(path: str) -> str:
    """Timestamp unit ('ns' | 'us' | ...) of events.ts from the Parquet
    footer. The driver has shipped testdata with BOTH encodings across
    rounds, so the loader adapts per file instead of assuming either; one
    footer read per (session, sf_dir) thanks to the table cache.

    ``path`` may be a single parquet file OR a Spark-written directory of
    part files (every part of one write shares the footer schema, so
    sniffing the first part suffices) — derived corpora from the probe /
    fuzz tools and any real Spark-written lake layout arrive as
    directories."""
    import glob as _glob

    import pyarrow.parquet as pq

    if os.path.isdir(path):
        parts = sorted(_glob.glob(os.path.join(path, "*.parquet")))
        if not parts:
            raise FileNotFoundError(f"no parquet part files under {path}")
        path = parts[0]
    return pq.ParquetFile(path).schema_arrow.field("ts").type.unit

# Per-session (sf_dir, table) → DataFrame. The testdata is immutable, so the
# read relation (schema + file listing resolved from the parquet footer) can
# be built once per session instead of once per query — trims fixed driver
# overhead when many queries share tables. WeakKeyDictionary: entries die
# with their session (id()-keying could alias a new session onto a dead
# one's cache after GC, and would leak across sessions).
_TABLE_CACHE: "weakref.WeakKeyDictionary[SparkSession, dict[tuple[str, str], DataFrame]]" = (
    weakref.WeakKeyDictionary()
)


def _path_bytes(path: str) -> int:
    """Total bytes of a parquet file OR a Spark-written part-file directory."""
    if os.path.isdir(path):
        return sum(
            os.path.getsize(os.path.join(path, f))
            for f in os.listdir(path)
            if f.endswith(".parquet")
        )
    return os.path.getsize(path)


# A scan smaller than this many bytes PER CORE cannot feed every core from
# its parquet row groups (the driver testdata ships one row group per file,
# so Spark's byte-range splitting yields exactly ONE scan task no matter the
# conf — maxPartitionBytes/openCostInBytes can't split inside a row group).
# Below the threshold, heavy map-side work (md5 lattices, HOF vector folds,
# pandas_udf batches, self-join fan-out) runs single-threaded before the
# first shuffle. ``spread=True`` inserts one round-robin repartition right
# after such a scan (guide §2.5 "input skew: one huge unsplittable file —
# repartition immediately after the read"). Scale-adaptive by construction:
# at production sizes (≥ ~16 MiB/core the condition is false) the input has
# row groups to split and the repartition disappears — no conf tuned to
# local[32] is involved, only "is this input too small to split".
_SPREAD_BYTES_PER_CORE = 16 * 1024 * 1024


def load_table(
    spark: SparkSession, sf_dir: str, name: str, spread: bool = False
) -> DataFrame:
    """Load one testdata table. Column pruning / predicate pushdown is left to
    Catalyst — callers express plain ``select``/``filter`` and the Parquet scan
    receives PushedFilters + ReadSchema automatically.

    ``events.ts`` needs unit handling: testdata has shipped with ts as both
    Parquet TIMESTAMP(NANOS) and TIMESTAMP(MICROS) across driver rounds.
    MICROS reads natively (TIMESTAMP_NTZ). For NANOS — which Spark's reader
    rejects — we read the raw nanos via an explicit LONG schema and truncate
    to microseconds with integer division, bit-identical to DuckDB's
    TIMESTAMP_NS→TIMESTAMP cast. (Plain ``/1000`` in double would lose
    precision: 1.7e18 ns exceeds the 53-bit mantissa.) The result is
    converted to TIMESTAMP_NTZ pinned to UTC wall time, so the values are
    independent of the session timezone — no conf mutation needed even on an
    externally created (driver) session.
    """
    if name not in TABLE_NAMES:
        raise KeyError(f"unknown table {name!r}; expected one of {TABLE_NAMES}")
    per_session = _TABLE_CACHE.setdefault(spark, {})
    key = (sf_dir, name, spread)
    cached = per_session.get(key)
    if cached is not None:
        return cached
    if name == "events" and _events_ts_unit(table_path(sf_dir, name)) == "ns":
        from pyspark.sql import functions as F

        df = (
            spark.read.schema(EVENTS_READ_DDL)
            .parquet(table_path(sf_dir, name))
            .withColumn(
                "ts",
                F.convert_timezone(
                    F.lit("UTC"),
                    F.lit("UTC"),
                    F.timestamp_micros(F.expr("ts div 1000")),
                ),
            )
        )
    else:
        df = spark.read.parquet(table_path(sf_dir, name))
    if spread:
        # The ACTUAL session's core count, not the $SPARK_GRAFT_CPUS env
        # default — consistent for callers whose session was not built by
        # get_spark (ADVICE r9: session.default_parallelism() reads the env
        # var and would mis-size both the threshold and the repartition on
        # an externally created session).
        cores = spark.sparkContext.defaultParallelism
        if _path_bytes(table_path(sf_dir, name)) < cores * _SPREAD_BYTES_PER_CORE:
            # Round-robin keeps partitions even (no key to skew); results
            # are partition-layout independent (STABILITY probes pin all
            # registry queries hash-identical under hostile partitioning).
            # Filters/pruning still push through Repartition to the scan.
            df = df.repartition(cores)
    per_session[key] = df
    return df


def register_views(spark: SparkSession, sf_dir: str) -> None:
    """Register every table as a temp view so ``spark.sql`` queries mirror the
    oracle's pre-registered DuckDB views."""
    for name in TABLE_NAMES:
        load_table(spark, sf_dir, name).createOrReplaceTempView(name)
