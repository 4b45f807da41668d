"""Local replica of the driver's correctness gate.

Runs every ``queries()`` entry on Spark and its ``oracle_sql()`` twin on
DuckDB over the same parquet dir, then compares row count, column names, and
an order-insensitive value hash (rows sorted by all columns, columns sorted
by name, floats stringified at 12 significant digits). Use while iterating:

    python tools/check_oracle.py [sf_dir] [name ...]

Also enforces a DTYPE-KIND gate: a column that is integer on one engine and
float on the other FAILS even when the stringified values collapse to the
same text. Round-3 lesson (pipeline_corpus_curation): DuckDB promotes
SUM(BIGINT) to HUGEINT, whose pandas conversion is float64 — the "%.12g"
stringifier hid the 27165 vs 27165.0 divergence locally while the driver's
stricter canonicalization hash-red it. The kind gate makes the local replica
at least as strict as the driver on numeric representation.
"""

from __future__ import annotations

import os
import sys

import duckdb
import numpy as np
import pandas as pd


def canonicalize(df: pd.DataFrame) -> pd.DataFrame:
    df = df[sorted(df.columns)].copy()
    for c in df.columns:
        s = df[c]
        if pd.api.types.is_datetime64_any_dtype(s):
            df[c] = s.dt.floor("us").astype("datetime64[us]")
        elif pd.api.types.is_float_dtype(s):
            df[c] = s.astype("float64")
        elif pd.api.types.is_integer_dtype(s):
            df[c] = s.astype("int64")
    return df


def _num_kind(s: pd.Series) -> str:
    """'int' / 'float' / 'other' — the axis the driver is strict about.

    Empty float columns (an all-NULL aggregate both engines render as NaN)
    still compare by declared dtype; bool folds into 'other' so a bool vs
    int8 oracle difference keeps failing via the value hash instead.
    """
    if pd.api.types.is_bool_dtype(s):
        return "other"
    if pd.api.types.is_integer_dtype(s):
        return "int"
    if pd.api.types.is_float_dtype(s):
        return "float"
    # DuckDB HUGEINT / DECIMAL may arrive as object-of-ints; classify by
    # the first non-null value so promotions are still caught.
    if s.dtype == object:
        for v in s:
            if v is None:
                continue
            if isinstance(v, (int, np.integer)) and not isinstance(v, bool):
                return "int"
            if isinstance(v, (float, np.floating)):
                return "float"
            break
    return "other"


def stringify(df: pd.DataFrame) -> list[str]:
    def cell(v):
        if v is None or (isinstance(v, float) and np.isnan(v)):
            return "<NULL>"
        if isinstance(v, float):
            return f"{v:.12g}"
        if isinstance(v, (list, np.ndarray)):
            return "[" + ",".join(cell(x) for x in v) + "]"
        if isinstance(v, (np.floating,)):
            return f"{float(v):.12g}"
        if isinstance(v, (np.integer,)):
            return str(int(v))
        return str(v)

    rows = ["|".join(cell(v) for v in row) for row in df.itertuples(index=False)]
    return sorted(rows)


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])

    sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    from cobalt_duckdb_spark.session import get_spark
    from cobalt_duckdb_spark.queries import queries, oracle_sql

    spark = get_spark("oracle-check")
    con = duckdb.connect()
    for t in (
        "region nation customer supplier part orders lineitem events documents embeddings"
    ).split():
        # Spark-written tables arrive as directories of part files (the
        # sf1.0 derived world, any real lake layout); io.load_table handles
        # both on the Spark side, so the oracle side must too.
        path = f"{sf_dir}/{t}.parquet"
        src = f"{path}/*.parquet" if os.path.isdir(path) else path
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{src}')"
        )

    qs, oracles = queries(), oracle_sql()
    failures = []
    n_run = 0
    for name, fn in qs.items():
        if only and name not in only:
            continue
        n_run += 1
        try:
            spark_pdf = canonicalize(fn(spark, sf_dir).toPandas())
        except Exception as e:  # noqa: BLE001
            failures.append(name)
            print(f"FAIL {name}: spark error: {e}")
            continue
        if name not in oracles:
            print(f"ok   {name}: rows={len(spark_pdf)} (rows-only, no oracle)")
            continue
        try:
            duck_pdf = canonicalize(con.execute(oracles[name]).df())
        except Exception as e:  # noqa: BLE001
            failures.append(name)
            print(f"FAIL {name}: duckdb error: {e}")
            continue

        problems = []
        if len(spark_pdf) != len(duck_pdf):
            problems.append(f"rows {len(spark_pdf)} != {len(duck_pdf)}")
        if list(spark_pdf.columns) != list(duck_pdf.columns):
            problems.append(
                f"cols {list(spark_pdf.columns)} != {list(duck_pdf.columns)}"
            )
        if not problems:
            kind_mismatch = [
                f"{c}: spark={spark_pdf[c].dtype} duck={duck_pdf[c].dtype}"
                for c in spark_pdf.columns
                if _num_kind(spark_pdf[c]) != _num_kind(duck_pdf[c])
            ]
            if kind_mismatch:
                problems.append("dtype-kind " + "; ".join(kind_mismatch))
        if not problems and stringify(spark_pdf) != stringify(duck_pdf):
            problems.append("value hash mismatch")
            s, d = stringify(spark_pdf), stringify(duck_pdf)
            diff = [(a, b) for a, b in zip(s, d) if a != b][:3]
            for a, b in diff:
                print(f"  spark: {a}\n  duck : {b}")
        if problems:
            failures.append(name)
            print(f"FAIL {name}: {'; '.join(problems)}")
        else:
            print(f"ok   {name}: rows={len(spark_pdf)} hash-match")

    print(f"\n{n_run - len(failures)}/{n_run} queries match ({len(qs)} registered)")
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
