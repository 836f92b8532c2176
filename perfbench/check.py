"""Output checks, run after the timed passes.

Results are compared the way the catalog's driver contract states
(``catalog.py`` docstring): both frames go through pandas (Spark
``toPandas()``, DuckDB ``fetchdf()``), columns are sorted by name, every
cell is stringified (floats rounded to 9 digits, so pandas dtype stays
part of the identity: int64 prints ``1`` where float64 prints ``1.0``),
rows are sorted, and the lines are hashed.
"""

from __future__ import annotations

import hashlib
import math
import os

import duckdb
import pandas as pd

TABLES = (
    "region nation customer supplier part orders lineitem events documents "
    "embeddings"
).split()


def _cell(v) -> str:
    if v is None or v is pd.NaT:
        return "None"
    if isinstance(v, float):
        if math.isnan(v):
            return "None"  # pandas renders a null in a float column as NaN
        return repr(round(v, 9))
    if isinstance(v, pd.Timestamp):
        return v.isoformat()
    return str(v)


def frame_hash(df: pd.DataFrame) -> tuple[int, str]:
    """(row count, hash) of a pandas frame under the canonicalizer."""
    cols = sorted(df.columns)
    lines = sorted(
        "\x1f".join(_cell(v) for v in row)
        for row in df[cols].itertuples(index=False, name=None)
    )
    h = hashlib.sha256("\n".join([",".join(cols), *lines]).encode()).hexdigest()[:16]
    return len(df), h


def oracle_hash(data_dir: str, sql: str) -> tuple[int, str]:
    con = duckdb.connect()
    try:
        for t in TABLES:
            path = os.path.join(data_dir, f"{t}.parquet")
            if os.path.exists(path):
                con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{path}'")
        return frame_hash(con.execute(sql).fetchdf())
    finally:
        con.close()


def silver_problems(silver_dir: str, titles: list[str], expected_rows: int) -> list[str]:
    """The pipeline's silver output: one partition per scraped title,
    one ingest date, and one row per posting with a description."""
    import pyarrow.dataset as ds

    problems = []
    if not os.path.isdir(silver_dir):
        return ["silver output missing"]
    parts = sorted(p for p in os.listdir(silver_dir) if p.startswith("job_type="))
    want = sorted(f"job_type={t}" for t in titles)
    if parts != want:
        problems.append(f"partitions {parts} != {want}")
    for p in parts:
        dates = [d for d in os.listdir(os.path.join(silver_dir, p))
                 if d.startswith("ingest_date=")]
        if len(dates) != 1:
            problems.append(f"{p}: {len(dates)} ingest dates")
    rows = ds.dataset(silver_dir, format="parquet", partitioning="hive").count_rows()
    if rows != expected_rows:
        problems.append(f"silver rows {rows} != {expected_rows}")
    return problems
