"""Process set-up shared by the benchmark and its pool classifier.

Importing this module puts the repo root and the benchmark's directory on
``sys.path``. ``configure()``, called first by every entry point, pins the
environment the repo's Spark code runs in, so the benchmark behaves the
same from any working directory:

- the repo root goes on the ``PYTHONPATH`` the Python workers inherit
  (pandas UDFs import ``cobalt_duckdb_spark`` there);
- ``SPARK_GRAFT_CPUS`` is set to this host's core count, because
  ``session.default_parallelism()`` otherwise runs ``local[32]``;
- Spark's scratch space, the JVM temp dir and Python's temp dir all live
  under ``.bench_build/`` in the current directory.
"""

from __future__ import annotations

import os
import sys
import tempfile
import time

BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
REPO_ROOT = os.path.dirname(BENCH_DIR)
WORK_DIR = os.path.abspath(os.path.join(".bench_build", "perfbench"))
TMP_DIR = os.path.join(WORK_DIR, "tmp")
WORLD_SEED = 42
WORLD_SF = 0.1

CORES = len(os.sched_getaffinity(0)) if hasattr(os, "sched_getaffinity") else os.cpu_count()

for _p in (REPO_ROOT, BENCH_DIR):
    if _p not in sys.path:
        sys.path.insert(0, _p)


def configure() -> None:
    """Set the environment variables above and create the scratch dirs.
    Must run before the JVM starts, which inherits them."""
    local = os.path.join(WORK_DIR, "spark-local")
    for d in (TMP_DIR, local):
        os.makedirs(d, exist_ok=True)
    os.environ["SPARK_GRAFT_CPUS"] = str(CORES)
    os.environ["SPARK_LOCAL_DIRS"] = local
    os.environ["TMPDIR"] = tempfile.tempdir = TMP_DIR
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (REPO_ROOT, os.environ.get("PYTHONPATH")) if p
    )


def world_dir() -> str:
    """The benchmark's sf0.1 world, generated once per checkout."""
    from datagen import write_world

    return write_world(
        os.path.join(WORK_DIR, f"world-sf{WORLD_SF}-seed{WORLD_SEED}"),
        WORLD_SEED,
        WORLD_SF,
    )


def start_session(app_name: str = "perfbench"):
    """A SparkSession from the repo's own factory, quiet, sized to this
    host. Returns ``(spark, seconds)``."""
    from cobalt_duckdb_spark.session import get_spark

    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={TMP_DIR}",
        "spark.sql.warehouse.dir": os.path.join(WORK_DIR, "warehouse"),
    }
    t0 = time.perf_counter()
    spark = get_spark(app_name, extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark, time.perf_counter() - t0


def stop_session(spark) -> None:
    """Stop Spark, then end its JVM and wait for it: the JVM exits when its
    stdin closes, and the Python workers it forked exit with it."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
        gateway.proc.stdin.close()
        gateway.proc.wait(timeout=60)
