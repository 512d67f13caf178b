"""Grouped-map (applyInPandas) and grouped-agg (pandas_udf GROUPED_AGG)
operators — the two Python-UDF shapes SURVEY §2.4 lists beyond the scalar
pandas_udf and mapInPandas (multimodal).

Both are oracle-verified despite crossing the Arrow boundary, via the
integer-cents trick: ``value`` has 2 decimals, so round(value*100) is an
exact int64 and every sum is exact integer arithmetic in pandas AND DuckDB —
partition order and summation algorithm become irrelevant. (z-scores are
scale-invariant, so computing them in cents equals computing them in
dollars.)

Scale notes: applyInPandas shuffles once on the group key and streams each
group as Arrow batches; group cardinality (users) bounds parallelism, and
per-group state must fit a worker — the right tool for per-entity model-ish
transforms, NOT for algebraic aggs (those stay JVM-side, see relational.py).
"""

from __future__ import annotations

import math

import pandas as pd

from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql.types import (
    DoubleType,
    LongType,
    StructField,
    StructType,
)

from ..sources.loaders import load_table

ZSCORE_SCHEMA = StructType(
    [
        StructField("event_id", LongType()),
        StructField("user_id", LongType()),
        StructField("zscore", DoubleType()),
    ]
)


def _zscore_group(pdf: pd.DataFrame) -> pd.DataFrame:
    """Per-user z-score from exact integer power sums (deterministic under
    any row order; rows sorted for stable output anyway)."""
    pdf = pdf.sort_values("event_id")
    cents = (pdf["value"] * 100).round().astype("int64")
    n = len(cents)
    if n < 2:
        z = pd.Series([0.0] * n, index=pdf.index)
    else:
        sx = int(cents.sum())
        sxx = int((cents * cents).sum())
        var = (sxx - sx * sx / n) / (n - 1)
        std = math.sqrt(var) if var > 0 else 0.0
        mean = sx / n
        z = (cents - mean) / std if std > 0 else pd.Series([0.0] * n, index=pdf.index)
    # No rounding here: pandas .round() is half-to-even while Spark/DuckDB
    # round() is half away from zero — the caller applies F.round so both
    # engines round the same way on exact 5-at-the-5th-decimal ties.
    return pd.DataFrame(
        {
            "event_id": pdf["event_id"],
            "user_id": pdf["user_id"],
            "zscore": pd.Series(z, index=pdf.index, dtype="float64"),
        }
    )


def grouped_zscore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """applyInPandas grouped map: per-user z-score of event value."""
    e = load_table(spark, sf_dir, "events")
    return (
        e.select("event_id", "user_id", "value")
        .groupBy("user_id")
        .applyInPandas(_zscore_group, schema=ZSCORE_SCHEMA)
        .withColumn("zscore", F.round("zscore", 4))
    )


def grouped_zscore_prod(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Production twin of grouped_zscore (round 10, VERDICT r9 item 2):
    the same per-user z-score as ONE JVM window stage — integer-cents
    power sums over Window.partitionBy(user_id), identical expression
    order to the oracle SQL, so the rounded values are bit-equal to the
    surface demo's (pinned in tests/test_prod_twins.py). The applyInPandas
    form exists to exercise the grouped-map UDF surface; THIS is the plan
    a deployment runs, and benching both prices the Arrow boundary +
    per-group pandas overhead explicitly (the registry's _prod-twin
    convention). The whens nest so the variance/(n-1) branch is never
    evaluated for n < 2 groups (ANSI divide-by-zero)."""
    e = load_table(spark, sf_dir, "events")
    from pyspark.sql.window import Window

    w = Window.partitionBy("user_id")
    base = e.select(
        "event_id",
        "user_id",
        F.round(F.col("value") * 100).cast("bigint").alias("c"),
    )
    c = F.col("c")
    n = F.count(F.lit(1)).over(w)
    sx = F.sum(c).over(w)
    sxx = F.sum(c * c).over(w)
    var = (sxx - sx.cast("double") * sx / n) / (n - F.lit(1))
    mean = sx.cast("double") / n
    z = F.when(n < F.lit(2), F.lit(0.0)).otherwise(
        F.when(var <= F.lit(0), F.lit(0.0)).otherwise((c - mean) / F.sqrt(var))
    )
    return base.select("event_id", "user_id", F.round(z, 4).alias("zscore"))


# Same integer power sums in SQL; z in cents == z in dollars.
ORACLE_GROUPED_ZSCORE = """
WITH cents AS (
  SELECT event_id, user_id, CAST(round(value * 100) AS BIGINT) AS c FROM events
), stats AS (
  SELECT user_id, count(*) AS n, sum(c) AS sx, sum(c * c) AS sxx
  FROM cents GROUP BY user_id
)
SELECT event_id, cents.user_id AS user_id,
  CASE WHEN n < 2 OR (sxx - CAST(sx AS DOUBLE) * sx / n) / (n - 1) <= 0 THEN 0.0
       ELSE round(
         (c - CAST(sx AS DOUBLE) / n)
         / sqrt((sxx - CAST(sx AS DOUBLE) * sx / n) / (n - 1)), 4)
  END AS zscore
FROM cents JOIN stats ON cents.user_id = stats.user_id
"""


@F.pandas_udf(DoubleType())
def _weighted_mean_cents(v: pd.Series, w: pd.Series) -> float:
    """GROUPED_AGG pandas UDAF: k-weighted mean of value, exact int sums."""
    # (v * 100).round() is banker's rounding, but value has exactly 2
    # decimals so no tie at the 0.5 boundary can occur — the result is the
    # exact integer cents either way. Final rounding happens Spark-side
    # (F.round, half away from zero) to match the DuckDB oracle.
    cents = (v * 100).round().astype("int64")
    wi = w.astype("int64")
    tw = int(wi.sum())
    if tw == 0:
        return -1.0
    return int((cents * wi).sum()) / tw / 100.0


def udaf_weighted_mean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom UDAF surface: per event_type, mean of value weighted by the
    JSON prop k (Arrow grouped aggregation)."""
    e = load_table(spark, sf_dir, "events")
    k = F.get_json_object("props", "$.k").cast("bigint")
    return (
        e.select("event_type", "value", k.alias("k"))
        .groupBy("event_type")
        .agg(F.round(_weighted_mean_cents("value", "k"), 4).alias("weighted_mean_value"))
    )


ORACLE_UDAF_WEIGHTED = """
WITH t AS (
  SELECT event_type,
    CAST(round(value * 100) AS BIGINT) AS c,
    CAST(json_extract_string(props, '$.k') AS BIGINT) AS k
  FROM events
)
SELECT event_type,
  CASE WHEN sum(k) = 0 THEN -1.0
       ELSE round(CAST(sum(c * k) AS DOUBLE) / sum(k) / 100.0, 4) END AS weighted_mean_value
FROM t GROUP BY event_type
"""


def udtf_token_positions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Python UDTF surface (the table-function UDF shape): each document
    row expands to one row per token with its 0-based position, via a
    registered UDTF in a LATERAL join. For plain whitespace split the
    JVM-side posexplode(split(...)) is strictly faster — this operator
    exists to exercise the UDTF path itself (arbitrary Python generators
    per input row: parsers, tokenizers, chunkers that have no column-
    expression equivalent). Bounded fan-out, Arrow-batched like the other
    Python boundaries; only the first 12 tokens are emitted to keep the
    oracle row count stable."""
    from pyspark.sql.functions import udtf

    @udtf(returnType="token: string, pos: int")
    class TokenPositions:
        def eval(self, text: str):
            for i, tok in enumerate((text or "").split(" ")[:12]):
                yield tok, i

    spark.udtf.register("token_positions", TokenPositions)
    docs = load_table(spark, sf_dir, "documents")
    docs.select("doc_id", "text").createOrReplaceTempView("udtf_docs_v")
    return spark.sql(
        "SELECT d.doc_id, s.token, s.pos "
        "FROM udtf_docs_v d, LATERAL token_positions(d.text) s"
    )


ORACLE_UDTF_TOKENS = """
WITH tokd AS (
  SELECT doc_id, string_split(text, ' ') AS toks FROM documents
)
SELECT doc_id,
  unnest(toks[1:12]) AS token,
  CAST(unnest(generate_series(0, least(len(toks), 12) - 1)) AS INT) AS pos
FROM tokd
"""


QUERIES = {
    "grouped_zscore": grouped_zscore,
    "udaf_weighted_mean": udaf_weighted_mean,
    "udtf_token_positions": udtf_token_positions,
}

ORACLES = {
    "grouped_zscore": ORACLE_GROUPED_ZSCORE,
    "udaf_weighted_mean": ORACLE_UDAF_WEIGHTED,
    "udtf_token_positions": ORACLE_UDTF_TOKENS,
}
