"""Output checks: DuckDB oracles for registry queries, exact models for
the facade.

Expected results are computed once per input set and cached on disk as
normalised (all-string) frames, so a repeated seed skips the oracle cost.
"""

from __future__ import annotations

import hashlib
import math
import os

import numpy as np
import pandas as pd

from . import inputs


def canon(v) -> str:
    """Canonical cell text: the normalisation of ``tests/conftest.py``
    (6 significant digits, NULL/NaN as ``<NULL>``, ISO timestamps), kept
    here so the benchmark does not change when the tests do; numpy
    arrays are treated as lists because Arrow returns array columns so."""
    if v is None or (isinstance(v, float) and math.isnan(v)):
        return "<NULL>"
    if isinstance(v, float):
        return repr(v) if math.isinf(v) else f"{v:.6g}"
    if isinstance(v, (list, tuple, np.ndarray)):
        return "[" + ",".join(canon(x) for x in v) + "]"
    if isinstance(v, pd.Timestamp):
        return v.isoformat()
    return str(v)


def normalize(df: pd.DataFrame) -> pd.DataFrame:
    """Sort columns by name, canonicalise cells, sort rows."""
    df = df.reindex(sorted(df.columns), axis=1)
    out = df.apply(lambda col: col.map(canon))
    if len(out):
        out = out.sort_values(by=list(out.columns), kind="mergesort")
    return out.reset_index(drop=True)


def mismatch(actual: pd.DataFrame, expected_norm: pd.DataFrame) -> str | None:
    """``None`` when ``actual`` matches the normalised expected frame,
    else a one-line reason.  An empty result never matches: a 0-row
    answer proves nothing."""
    if len(actual) == 0:
        return "empty result"
    if sorted(actual.columns) != list(expected_norm.columns):
        return f"columns {sorted(actual.columns)} != {list(expected_norm.columns)}"
    if len(actual) != len(expected_norm):
        return f"rows {len(actual)} != {len(expected_norm)}"
    if not normalize(actual).equals(expected_norm):
        return "values differ"
    return None


def input_key(seed: int) -> str:
    """Cache key of an input set: the seed plus the generator's source."""
    with open(inputs.__file__, "rb") as f:
        src = hashlib.sha256(f.read()).hexdigest()[:12]
    return f"seed{seed}-{src}"


class Oracles:
    """Expected results of registry queries over one generated table set."""

    def __init__(self, tables_dir: str, cache_dir: str):
        self.tables_dir = tables_dir
        self.cache_dir = cache_dir
        self._con = None

    def expected(self, name: str) -> pd.DataFrame:
        path = os.path.join(self.cache_dir, f"{name}.parquet")
        if os.path.exists(path):
            return pd.read_parquet(path)
        if self._con is None:
            import duckdb

            from map_reduce_framework_spark.sources.tables import TABLES

            self._con = duckdb.connect()
            self._con.execute("SET threads TO 2")
            for t in TABLES:
                self._con.execute(
                    f"CREATE VIEW {t} AS SELECT * FROM "
                    f"read_parquet('{self.tables_dir}/{t}.parquet')"
                )
        from map_reduce_framework_spark.plans.registry import ORACLES

        norm = normalize(self._con.execute(ORACLES[name]).df())
        os.makedirs(self.cache_dir, exist_ok=True)
        tmp = f"{path}.{os.getpid()}.tmp"
        norm.to_parquet(tmp, index=False)
        os.replace(tmp, path)
        return norm

    def close(self) -> None:
        if self._con is not None:
            self._con.close()
            self._con = None
