"""Mini-driver: differential comparison of a Spark DataFrame against a
DuckDB oracle over the same parquet tables (mimics the round driver's
row-count + schema + order-insensitive value-hash check).

Normalization before comparing:
* columns sorted by name;
* every value rendered to a canonical string (floats via repr of the
  float64 bits — so a match here means bit-identical doubles, the
  standard the registry's determinism rules aim for);
* rows sorted lexicographically (order-insensitive).
"""

from __future__ import annotations

import datetime as dt
import hashlib
import math

import duckdb
import pandas as pd

from yougile_etl_pipeline_spark.schemas import TESTDATA_TABLES


def duck_connect(sf_dir: str) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    for t in TESTDATA_TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
        )
    return con


def _canon(v) -> str:
    if v is None or v is pd.NaT:
        return "∅"
    if isinstance(v, float):
        if math.isnan(v):
            return "∅"
        return repr(float(v))
    if isinstance(v, pd.Timestamp):
        return v.isoformat()
    if isinstance(v, dt.datetime):
        return pd.Timestamp(v).isoformat()
    if isinstance(v, dt.date):
        return v.isoformat()
    if isinstance(v, (list, tuple)) or type(v).__name__ == "ndarray":
        return "[" + ",".join(_canon(x) for x in v) + "]"
    if isinstance(v, bytes):
        return v.hex()
    return str(v)


def _rows(df: pd.DataFrame) -> list[tuple[str, ...]]:
    df = df[sorted(df.columns)]
    out = []
    for row in df.itertuples(index=False, name=None):
        out.append(tuple(_canon(v) for v in row))
    return sorted(out)


def value_hash(pdf: pd.DataFrame) -> str:
    """sha256 over the canonical sorted rows: equal hashes mean
    bit-identical values, in any row order."""
    return hashlib.sha256(repr(_rows(pdf)).encode()).hexdigest()


def compare(spark_df, con: duckdb.DuckDBPyConnection, sql: str,
            float_tol: float = 0.0) -> list[str]:
    """Return a list of mismatch descriptions (empty = match)."""
    issues: list[str] = []
    # Driver-faithful rejection: the round driver canonicalizes through
    # pandas sort/hash, which crashes on list-valued cells
    # (CORRECTNESS_r03 text_inverted_index: "unhashable type: 'list'").
    # Certified queries must serialize arrays/maps/structs to strings at
    # the query boundary; fail here so the class can't reach the driver.
    bad = [f.name for f in spark_df.schema.fields
           if f.dataType.typeName() in ("array", "map", "struct")]
    if bad:
        issues.append(
            f"non-scalar output columns {bad}: the certification driver "
            "cannot hash array/map/struct cells — serialize to string "
            "(array_join/concat_ws) at the query boundary")
        return issues
    sp = spark_df.toPandas()
    du = con.execute(sql).df()
    if sorted(sp.columns) != sorted(du.columns):
        issues.append(f"columns differ: spark={sorted(sp.columns)} "
                      f"duckdb={sorted(du.columns)}")
        return issues
    if len(sp) != len(du):
        issues.append(f"row count differs: spark={len(sp)} duckdb={len(du)}")
    a, b = _rows(sp), _rows(du)
    if a != b:
        sa, sb = set(a), set(b)
        only_a = list(sa - sb)[:3]
        only_b = list(sb - sa)[:3]
        issues.append(f"values differ: spark-only={only_a} duckdb-only={only_b}")
    return issues
