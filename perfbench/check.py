"""Output checks: engine results against DuckDB answers over the same
generated files, compared as order-insensitive multisets of rows.

The comparison follows ``tools/check_oracle.py`` but lives here so that
both sides of an A/B run the same check code, whatever the commits do
to ``tools/``."""

from __future__ import annotations

import hashlib
import os

import numpy as np
import pandas as pd


def normalize(df: pd.DataFrame) -> pd.DataFrame:
    df = df.reindex(sorted(df.columns), axis=1)
    for c in df.columns:
        if pd.api.types.is_datetime64_any_dtype(df[c]):
            df[c] = pd.to_datetime(df[c]).astype("datetime64[us]")
        elif pd.api.types.is_bool_dtype(df[c]):
            df[c] = df[c].astype("boolean")
        elif pd.api.types.is_integer_dtype(df[c]):
            df[c] = df[c].astype("Int64")
        elif df[c].dtype == object:
            df[c] = df[c].astype(str)
    return df.sort_values(by=list(df.columns), kind="mergesort").reset_index(drop=True)


def mismatch(got: pd.DataFrame, want: pd.DataFrame) -> str | None:
    """None when equal; otherwise what differs. Floats may differ by a
    relative 1e-9, which no planted or real wrong answer stays within."""
    if len(got) != len(want):
        return f"rows: got {len(got)}, want {len(want)}"
    if sorted(got.columns) != sorted(want.columns):
        return f"columns: got {sorted(got.columns)}, want {sorted(want.columns)}"
    g, w = normalize(got), normalize(want)
    for c in g.columns:
        if pd.api.types.is_float_dtype(g[c]) or pd.api.types.is_float_dtype(w[c]):
            ga, wa = g[c].astype(float).to_numpy(), w[c].astype(float).to_numpy()
            if not np.allclose(ga, wa, rtol=1e-9, atol=1e-12, equal_nan=True):
                return f"{c}: float values differ"
        elif not g[c].equals(w[c]):
            return f"{c}: {int((g[c] != w[c]).sum())} values differ"
    return None


def plant(df: pd.DataFrame) -> pd.DataFrame:
    """A wrong answer: the result with its first row dropped."""
    return df.iloc[1:] if len(df) else pd.DataFrame({"planted": [1]})


class Oracle:
    """DuckDB over one input directory. Answers are cached on disk under
    ``cache_dir``, keyed by the SQL and by ``key`` (which names the
    seed and the generator version), since some oracles cost more
    than the engine run they check."""

    def __init__(self, sf_dir: str, cache_dir: str, key: str):
        import duckdb

        self.con = duckdb.connect()
        self.con.execute("SET threads TO 4")
        for name in sorted(os.listdir(sf_dir)):
            if name.endswith(".parquet"):
                path = os.path.join(sf_dir, name)
                self.con.execute(
                    f"CREATE VIEW {name[:-8]} AS SELECT * FROM read_parquet('{path}')"
                )
        self.cache_dir = cache_dir
        self.key = key

    def answer(self, sql: str) -> pd.DataFrame:
        digest = hashlib.sha1(f"{self.key}\n{sql}".encode()).hexdigest()
        path = os.path.join(self.cache_dir, f"{digest}.parquet")
        if os.path.exists(path):
            return pd.read_parquet(path)
        df = self.con.sql(sql).df()
        os.makedirs(self.cache_dir, exist_ok=True)
        tmp = f"{path}.{os.getpid()}.tmp"
        df.to_parquet(tmp, index=False)
        os.replace(tmp, path)
        return df

    def close(self) -> None:
        self.con.close()
