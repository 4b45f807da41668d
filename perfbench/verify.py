"""Output checks, run outside every timed region.

Registry results are compared with their DuckDB oracle on the same parquet,
with the canonical form ``tools/check_oracle.py`` defines (imported, so the
benchmark and the differential gate cannot drift apart). Search results are
compared with a brute-force numpy cosine top-k over the collected store.
"""

from __future__ import annotations

import os
import sys

import numpy as np
import pandas as pd

from harness import REPO_ROOT

sys.path.insert(0, os.path.join(REPO_ROOT, "tools"))
from check_oracle import _num_kind, canonicalize, stringify  # noqa: E402


class OracleChecker:
    """DuckDB views over ``world``; ``check`` returns None or a problem."""

    def __init__(self, world: str, expected_rows: dict[str, int] | None = None):
        import duckdb

        from cobalt_duckdb_spark.io import TABLE_NAMES
        from cobalt_duckdb_spark.queries import oracle_sql

        self.con = duckdb.connect()
        for t in TABLE_NAMES:
            self.con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{world}/{t}.parquet')"
            )
        self.oracles = oracle_sql()
        self.expected_rows = expected_rows or {}
        self._expected: dict[str, tuple[list[str], pd.DataFrame]] = {}

    def _oracle(self, name: str):
        if name not in self._expected:
            duck = canonicalize(self.con.execute(self.oracles[name]).df())
            self._expected[name] = (stringify(duck), duck)
        return self._expected[name]

    def check(self, name: str, dtypes: list[tuple[str, str]], rows: list) -> str | None:
        """``dtypes`` is the Spark frame's ``df.dtypes``; ``rows`` its
        ``collect()``."""
        if name not in self.oracles:
            want = self.expected_rows.get(name)
            if want is not None and len(rows) != want:
                return f"rows {len(rows)} != {want} (rows-only)"
            return None
        got = canonicalize(to_pandas(dtypes, rows))
        want_rows, duck = self._oracle(name)
        if len(got) != len(duck):
            return f"rows {len(got)} != {len(duck)}"
        if list(got.columns) != list(duck.columns):
            return f"cols {list(got.columns)} != {list(duck.columns)}"
        kinds = [c for c in got.columns if _num_kind(got[c]) != _num_kind(duck[c])]
        if kinds:
            return f"dtype-kind mismatch in {kinds}"
        if stringify(got) != want_rows:
            return "value hash mismatch"
        return None


_FLOAT = ("double", "float")
_INT = ("tinyint", "smallint", "int", "bigint")


def to_pandas(dtypes: list[tuple[str, str]], rows: list) -> pd.DataFrame:
    """Collected rows as the frame ``toPandas()`` would give: numeric
    columns keep a numeric dtype even when NULLs (or only NULLs) occur."""
    df = pd.DataFrame([tuple(r) for r in rows], columns=[c for c, _ in dtypes])
    for c, t in dtypes:
        if t in _FLOAT:
            df[c] = df[c].astype("float64")
        elif t in _INT:
            df[c] = df[c].astype("float64" if df[c].isna().any() else "int64")
    return df


def topk_ids(store_ids: np.ndarray, store_vecs: np.ndarray, qvecs: np.ndarray, k: int) -> list[list[int]]:
    """Brute-force cosine top-k per query, ties broken by ascending id."""
    s = store_vecs / np.linalg.norm(store_vecs, axis=1, keepdims=True)
    q = qvecs / np.linalg.norm(qvecs, axis=1, keepdims=True)
    dist = 1.0 - q @ s.T
    out = []
    for d in dist:
        order = np.lexsort((store_ids, d))[:k]
        out.append(store_ids[order].tolist())
    return out
