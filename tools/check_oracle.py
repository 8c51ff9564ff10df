"""Local emulation of the driver's correctness gate.

Runs every ``queries()`` entry at a scale factor and compares it against
``oracle_sql()`` via DuckDB: row count, column set, and order-insensitive
cell values (exact for non-floats; floats compared exactly first, then
with 1e-9 rel tolerance reported separately so we can see how tight we
are).

Usage: python tools/check_oracle.py [sf_dir] [query ...]

A query name missing from ``queries()`` is an error (exit 2), checked
before any session starts.
"""

from __future__ import annotations

import sys
import time
import traceback
from pathlib import Path

import duckdb
import numpy as np
import pandas as pd

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

import __spark_entry__ as entrymod  # noqa: E402
from flink_helloworld_spark.schemas import TESTDATA_TABLES  # noqa: E402
from flink_helloworld_spark.session import build_session  # noqa: E402


def normalize(df: pd.DataFrame) -> pd.DataFrame:
    df = df.reindex(sorted(df.columns), axis=1)
    for c in df.columns:
        if pd.api.types.is_datetime64_any_dtype(df[c]):
            df[c] = pd.to_datetime(df[c]).astype("datetime64[us]")
        elif pd.api.types.is_integer_dtype(df[c]):
            df[c] = df[c].astype("Int64")
        elif df[c].dtype == object:
            df[c] = df[c].astype(str)
    df = df.sort_values(by=list(df.columns), kind="mergesort").reset_index(drop=True)
    return df


def compare(name: str, spark_pdf: pd.DataFrame, oracle_pdf: pd.DataFrame) -> str:
    if len(spark_pdf) != len(oracle_pdf):
        return f"ROWCOUNT spark={len(spark_pdf)} oracle={len(oracle_pdf)}"
    s_cols, o_cols = sorted(spark_pdf.columns), sorted(oracle_pdf.columns)
    if s_cols != o_cols:
        return f"COLUMNS spark={s_cols} oracle={o_cols}"
    s, o = normalize(spark_pdf), normalize(oracle_pdf)
    bad: list[str] = []
    for c in s.columns:
        sv, ov = s[c], o[c]
        if pd.api.types.is_float_dtype(sv) or pd.api.types.is_float_dtype(ov):
            sa = sv.astype(float).to_numpy()
            oa = ov.astype(float).to_numpy()
            exact = np.array_equal(sa, oa, equal_nan=True)
            if not exact:
                close = np.allclose(sa, oa, rtol=1e-9, atol=1e-12, equal_nan=True)
                bad.append(f"{c}: float {'CLOSE-not-exact' if close else 'MISMATCH'}"
                           f" maxdiff={np.nanmax(np.abs(sa - oa)):.3e}")
        else:
            if not sv.equals(ov):
                n = int((sv != ov).sum())
                idx = (sv != ov).idxmax()
                bad.append(f"{c}: {n} diffs, first@{idx}: spark={sv[idx]!r} oracle={ov[idx]!r}")
    return "; ".join(bad) if bad else "OK"


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])
    qs, oracles = entrymod.queries(), entrymod.oracle_sql()
    unknown = sorted(only - set(qs))
    if unknown:
        print(f"unknown query names: {', '.join(unknown)}")
        return 2
    spark = build_session(shuffle_partitions=8)
    con = duckdb.connect()
    for t in TESTDATA_TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
        )
    failures = 0
    for qname, fn in qs.items():
        if only and qname not in only:
            continue
        t0 = time.time()
        try:
            spark_pdf = fn(spark, sf_dir).toPandas()
        except Exception:
            print(f"[FAIL] {qname}: SPARK ERROR\n{traceback.format_exc()}")
            failures += 1
            continue
        finally:
            from flink_helloworld_spark.operators.dedup import release_shared_caches

            release_shared_caches()  # no cross-query cache leak
        t1 = time.time()
        sql = oracles.get(qname)
        if sql is None:
            print(f"[rows-only] {qname}: {len(spark_pdf)} rows ({t1-t0:.1f}s)")
            continue
        try:
            oracle_pdf = con.sql(sql).df()
        except Exception:
            print(f"[FAIL] {qname}: ORACLE ERROR\n{traceback.format_exc()}")
            failures += 1
            continue
        verdict = compare(qname, spark_pdf, oracle_pdf)
        status = "ok" if verdict == "OK" else "FAIL"
        if verdict != "OK":
            failures += 1
        print(f"[{status}] {qname}: {verdict} rows={len(spark_pdf)} spark={t1-t0:.1f}s")
    print(f"\n{failures} failures / {len(only) if only else len(qs)} checked")
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
