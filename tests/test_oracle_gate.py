"""The full oracle gate as a test: every registry query runs on Spark at
sf0.001 and must match its DuckDB oracle (row count, columns, sorted
values) — the same comparison `tools/check_oracle.py` makes at sf0.01.
A query may cache inside its plan but must release it: the gate starts
each query with an empty cache and requires one after it."""

from __future__ import annotations

import duckdb
import pandas as pd
import pytest

from etl_consumer_spark.plans import QUERIES

SF_DIR = "/root/testdata/sf0.001"
TABLES = ["region", "nation", "customer", "supplier", "part", "orders", "lineitem",
          "events", "documents", "embeddings"]


@pytest.fixture(scope="module")
def duck():
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{SF_DIR}/{t}.parquet'")
    yield con


def normalize(df: pd.DataFrame) -> list[list[str]]:
    df = df[sorted(df.columns)].copy()
    for c in df.columns:
        col = df[c]
        if pd.api.types.is_datetime64_any_dtype(col):
            df[c] = pd.to_datetime(col).dt.strftime("%Y-%m-%d %H:%M:%S.%f")
        elif pd.api.types.is_float_dtype(col):
            df[c] = col.round(9)
    return sorted(df.astype(str).values.tolist())


@pytest.mark.parametrize("name", sorted(QUERIES))
def test_query_matches_oracle(spark, duck, name):
    q = QUERIES[name]
    spark.catalog.clearCache()
    sdf = q.fn(spark, SF_DIR).toPandas()
    assert spark._jsparkSession.sharedState().cacheManager().isEmpty(), "query leaks a cache"
    if q.oracle is None:
        assert len(sdf) >= 0  # rows-only contract: runs and yields a frame
        return
    odf = duck.execute(q.oracle).df()
    assert len(sdf) == len(odf), f"row count {len(sdf)} vs oracle {len(odf)}"
    assert sorted(sdf.columns) == sorted(odf.columns)
    assert normalize(sdf) == normalize(odf)
