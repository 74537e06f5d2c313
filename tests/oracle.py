"""The one compare of an entry's output against its DuckDB oracle, with
the driver's t2 semantics: columns sorted by name, object columns cast
to str, floats rounded to 6 places, rows sorted; then row count, schema
(column names and dtypes) and values. Floats are compared by their
bytes, so −0.0 ≠ +0.0 (the driver hashes them); NaN equals NaN. Used by
the parity test and scripts/check_all.py."""

from __future__ import annotations

from typing import NamedTuple

import duckdb
import numpy as np
import pandas as pd

TABLES = [
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
]


def duck_con(sf_dir: str) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    # DuckDB defaults to every host core; unbounded it thrashes against
    # the Spark session's 16 threads during the parity module (r13:
    # dedup_embedding_radius's all-pairs oracle read 8s solo vs 39s
    # in-suite from exactly this contention). 8 threads is plenty for
    # sf0.001 oracles and leaves Spark its headroom.
    con.sql("SET threads TO 8")
    for t in TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
    return con


def normalize(df: pd.DataFrame) -> pd.DataFrame:
    df = df[sorted(df.columns)].copy()
    for c in df.columns:
        if df[c].dtype == object:
            df[c] = df[c].astype(str)
        elif df[c].dtype.kind == "f":
            df[c] = df[c].round(6)
    return df.sort_values(by=list(df.columns), ignore_index=True)


class Verdict(NamedTuple):
    rows_match: bool
    schema_match: bool
    hash_match: bool
    detail: str  # what differs first; "" when all three match

    @property
    def ok(self) -> bool:
        return self.rows_match and self.schema_match and self.hash_match


def _equal(g: pd.Series, e: pd.Series) -> np.ndarray:
    if g.dtype.kind == "f" and e.dtype.kind == "f":
        gv, ev = g.to_numpy(np.float64), e.to_numpy(np.float64)
        return (gv.view(np.int64) == ev.view(np.int64)) | (np.isnan(gv) & np.isnan(ev))
    return ((g == e) | (g.isna() & e.isna())).to_numpy(bool)


def compare(got: pd.DataFrame, exp: pd.DataFrame) -> Verdict:
    got, exp = normalize(got), normalize(exp)
    rows = len(got) == len(exp)
    schema = list(got.columns) == list(exp.columns) and list(got.dtypes) == list(exp.dtypes)
    if not rows:
        return Verdict(False, schema, False, f"rows {len(got)} != {len(exp)}")
    if list(got.columns) != list(exp.columns):
        return Verdict(True, False, False, f"columns {list(got.columns)} != {list(exp.columns)}")
    same = np.ones(len(got), bool)
    for c in got.columns:
        same &= _equal(got[c], exp[c])
    detail = ""
    if not same.all():
        detail = (
            f"{int((~same).sum())} rows differ; first (got, then expected):\n"
            f"{got[~same].head(3)}\n{exp[~same].head(3)}"
        )
    elif not schema:
        detail = f"dtypes {list(got.dtypes)} != {list(exp.dtypes)}"
    return Verdict(True, schema, bool(same.all()), detail)


def assert_matches(spark_df, con: duckdb.DuckDBPyConnection, sql: str, name: str = "") -> None:
    verdict = compare(spark_df.toPandas(), con.sql(sql).df())
    assert verdict.ok, f"{name}: {verdict.detail}"
