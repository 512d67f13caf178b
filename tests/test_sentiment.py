"""Sentiment scoring: binning edge table (FIXTURES.md §B3), SQL-vs-Python
parity, and total-function property (SURVEY §5.2/§7.4)."""

from __future__ import annotations

from hypothesis import given, settings
from hypothesis import strategies as st

from pyspark.sql import Row, functions as F

from realtime_twitter_trends_analytics_spark.functions import dialect as dl
from realtime_twitter_trends_analytics_spark.functions.sentiment import (
    bin_score,
    score_sql,
    score_texts_pandas,
    sentiment_type,
)

# FIXTURES.md B3 edge table (5.0: documented divergence -> notunderstood)
EDGE_TABLE = {
    -1.0: "notunderstood",
    0.0: "notunderstood",
    0.5: "verynegative",
    1.0: "negative",
    2.9: "neutral",
    3.0: "positive",
    4.99: "verypositive",
    5.0: "notunderstood",
    6.0: "notunderstood",
}


def test_binning_edge_table_python():
    for score, want in EDGE_TABLE.items():
        assert bin_score(score) == want, score


def test_binning_edge_table_spark(spark):
    df = spark.createDataFrame([Row(s=s) for s in EDGE_TABLE])
    out = {r["s"]: r["t"] for r in df.select("s", sentiment_type(F.col("s")).alias("t")).collect()}
    assert out == EDGE_TABLE


@given(st.floats(min_value=-1.0, max_value=6.0, allow_nan=False))
@settings(max_examples=200, deadline=None)
def test_binning_total_function(score):
    assert bin_score(score) in {
        "notunderstood", "verynegative", "negative", "neutral", "positive", "verypositive",
    }


def test_sql_matches_python_reference(spark):
    texts = [
        "fast fast fast spark big vector merge fast",          # very positive chunk
        "slow dup small filter slow dup small filter",         # very negative chunk
        "the a key order sort table scan join",                # neutral
        "",                                                    # empty -> -1
        "fast",                                                # single token
        " ".join(["slow"] * 20),                               # multi-chunk negative
    ]
    df = spark.createDataFrame([Row(text=t) for t in texts])
    got = [r["s"] for r in df.select(F.expr(score_sql(dl.SPARK, "text")).alias("s")).collect()]
    want = score_texts_pandas(texts)
    assert got == [float(w) for w in want]


def test_duckdb_matches_python_reference(duck):
    import pandas as pd

    texts = ["fast spark big", "slow dup", "", "the a key order sort table scan join extra words here now"]
    pdf = pd.DataFrame({"text": texts})
    duck.register("t_sent", pdf)
    got = [r[0] for r in duck.execute(
        f"SELECT {score_sql(dl.DUCK, 'text')} FROM t_sent"
    ).fetchall()]
    assert got == score_texts_pandas(texts)
    duck.unregister("t_sent")


# ---------------------------------------------------------------- vec scorer
# The VECTORIZED pandas/NumPy form (§4.2 — the per-row Python loop costs
# ~6 µs/row) must score BIT-identically to the scalar reference: every
# per-chunk term is an exact small integer, the num/den accumulations are
# exact in float64 (far below 2^53), and the sentinel condition is
# reproduced.
def test_vec_scorer_matches_reference_edges():
    from realtime_twitter_trends_analytics_spark.functions.sentiment import (
        score_texts_pandas_vec,
    )

    texts = [
        "", " ", "   ", None, "\t", "\t x",
        "fast spark big vector merge",
        "slow dup small filter slow dup small filter",
        "double  space", "  leading", "trailing  ",
        " ".join(["slow"] * 20),
        "unicode Łódź café 東京",
        "a b c d e f g h i j k l m n o p q r s t u v w x y z",
    ]
    ref = score_texts_pandas(texts)
    vec = list(score_texts_pandas_vec(texts))
    assert vec == ref


@given(
    st.lists(
        st.lists(
            st.sampled_from(
                ["fast", "slow", "spark", "dup", "abc", "xyz", "", " ", "\t"]
            ),
            max_size=20,
        ).map(" ".join),
        max_size=30,
    )
)
@settings(max_examples=200, deadline=None)
def test_vec_scorer_matches_reference_property(texts):
    from realtime_twitter_trends_analytics_spark.functions.sentiment import (
        score_texts_pandas_vec,
    )

    assert list(score_texts_pandas_vec(texts)) == score_texts_pandas(texts)
