"""One-command gate runner: everything the driver will do, locally.

    python tools/selfcheck.py [--fast]

Runs: driver-sim smoke (plain session entry()), full oracle differ at
sf0.01, pytest, and bench at sf0.1 (--fast skips pytest + bench).
Exit code 0 only if every gate passes.
"""

from __future__ import annotations

import os
import subprocess
import sys

FAST = "--fast" in sys.argv

DRIVER_SIM = """
from pyspark.sql import SparkSession
spark = SparkSession.builder.master('local[8]').getOrCreate()
spark.sparkContext.setLogLevel('ERROR')
import __spark_entry__ as e
rows = e.entry(spark).collect()
assert len(rows) > 0, 'entry() returned no rows'
qs, osql = e.queries(), e.oracle_sql()
assert set(osql) <= set(qs), 'oracle keys not subset of queries'
print(f'driver-sim OK: entry_rows={len(rows)} queries={len(qs)} oracles={len(osql)}')
"""


def run(desc: str, cmd: list[str]) -> bool:
    print(f"--- {desc}: {' '.join(cmd[:4])}...")
    r = subprocess.run(cmd, cwd=os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    ok = r.returncode == 0
    print(f"--- {desc}: {'OK' if ok else 'FAIL'}")
    return ok


def main() -> int:
    gates = [("driver-sim", [sys.executable, "-c", DRIVER_SIM])]
    gates.append(
        ("oracle", [sys.executable, "tools/check_oracle.py", "/root/testdata/sf0.01"])
    )
    if not FAST:
        gates.append(("pytest", [sys.executable, "-m", "pytest", "tests/", "-q"]))
        gates.append(("bench", [sys.executable, "bench.py"]))
    results = {name: run(name, cmd) for name, cmd in gates}
    print("\nSELFCHECK:", {k: ("OK" if v else "FAIL") for k, v in results.items()})
    return 0 if all(results.values()) else 1


if __name__ == "__main__":
    raise SystemExit(main())
