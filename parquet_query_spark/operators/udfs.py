"""User-defined function surface: registered scalar Pandas UDFs and grouped
applyInPandas — the rebuild-added extension points the reference had no way
to expose (SURVEY §2.C UDF row: "none exposed").

NOTE: no ``from __future__ import annotations`` here — postponed evaluation
breaks ``@pandas_udf``'s type-hint inference (hints become strings).

Both operators keep Python on the Arrow-batched path (one (de)serialization
per batch, vectorized pandas ops inside) — never row-at-a-time.
"""

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

from parquet_query_spark.operators.catalog import query, views

import pandas as pd
from pyspark.sql.functions import pandas_udf


@pandas_udf(T.IntegerType())
def token_count_udf(text: pd.Series) -> pd.Series:
    """Vectorized token counter (alnum runs) — the registered-UDF demo."""
    return text.str.count(r"[A-Za-z0-9]+").astype("int32")


@query(
    "udf_registered_token_count",
    oracle="""
SELECT doc_id, len(regexp_extract_all(text, '[A-Za-z0-9]+')) AS n_tok
FROM documents
""",
    tags=("udf", "text"),
)
def udf_registered_token_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scalar Pandas UDF registered into the SQL function registry and
    invoked from SQL text — proving the full register->SQL->Arrow->pandas
    round trip.  (For this particular count a builtin expression would be
    faster; the point is the extension surface.)"""
    spark.udf.register("token_count", token_count_udf)
    return spark.sql(
        "SELECT doc_id, token_count(text) AS n_tok FROM {documents}",
        **views(spark, sf_dir),
    )


_Z_SCHEMA = T.StructType(
    [
        T.StructField("event_id", T.LongType()),
        T.StructField("event_type", T.StringType()),
        T.StructField("zscore", T.DoubleType()),
    ]
)


def _zscore_group(pdf: pd.DataFrame) -> pd.DataFrame:
    """Grouped-map worker: whole group in one pandas frame."""
    import math

    mean = pdf["value"].mean()
    # pandas .std() is sample std (ddof=1) == SQL stddev_samp
    std = pdf["value"].std()
    z = (pdf["value"] - mean) / std
    # SQL-round (half away from zero), not banker's
    z = z.map(lambda x: math.floor(x * 10000 + 0.5) / 10000 if x >= 0
              else -(math.floor(-x * 10000 + 0.5) / 10000))
    return pd.DataFrame(
        {"event_id": pdf["event_id"], "event_type": pdf["event_type"], "zscore": z}
    )


@query(
    "udf_grouped_zscore",
    oracle="""
SELECT event_id, event_type,
       round((value - AVG(value) OVER (PARTITION BY event_type))
             / stddev_samp(value) OVER (PARTITION BY event_type), 4) AS zscore
FROM events
""",
    tags=("udf", "events"),
)
def udf_grouped_zscore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grouped applyInPandas: per-event-type z-score normalization.

    Each group is delivered to Python as ONE pandas DataFrame (shuffle on
    the group key; group must fit an executor — true for bounded key
    cardinality like event types; for unbounded keys use window functions
    instead).  The oracle computes the same normalization with SQL window
    aggregates."""
    v = views(spark, sf_dir)
    return (
        v["events"]
        .select("event_id", "event_type", "value")
        .groupBy("event_type")
        .applyInPandas(_zscore_group, _Z_SCHEMA)
    )
