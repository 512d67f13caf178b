"""Streaming tests (SURVEY §5.2.3): file-source micro-batch replay through
the full pipeline, windowed counts vs hand-computed goldens, cross-batch
dedup, foreachBatch first-batch setup."""

from __future__ import annotations

import json
import os

import pytest

from pyspark.sql import functions as F

from realtime_twitter_trends_analytics_spark.streaming.pipeline import (
    dedup_stream,
    read_raw_stream,
    run_pipeline_availablenow,
    transform_tweets,
    write_with_first_batch_setup,
)

# FIXTURES.md B1 cases; key carries deterministic epoch-seconds event time.
BASE_TS = 1_700_000_000
FIXTURE_MESSAGES = [
    (BASE_TS + 0, "Boston, MA /TLOC/ Loving the game #Celtics #NBA"),
    (BASE_TS + 5, "Paris, France /TLOC/ quelle #surprise today"),
    (BASE_TS + 10, "Gotham /TLOC/ #batman returns"),
    (BASE_TS + 20, "NYC, NY /TLOC/ RT @user check https://t.co/x #breaking!"),
    (BASE_TS + 30, "a, b /TLOC/ # #x #ok"),
    (BASE_TS + 40, "x, y /TLOC/ #a1 #b2 #c3 all here"),
    (BASE_TS + 50, "x, y /TLOC/ nothing to see"),
    (BASE_TS + 75, "Boston, MA /TLOC/ Loving the game #Celtics #NBA"),  # dup, later window
]


@pytest.fixture()
def fixture_dir(tmp_path):
    src = tmp_path / "stream_src"
    src.mkdir()
    # two files -> two micro-batches (maxFilesPerTrigger=1)
    for i, chunk in enumerate([FIXTURE_MESSAGES[:5], FIXTURE_MESSAGES[5:]]):
        with open(src / f"batch_{i}.json", "w") as f:
            for ts, value in chunk:
                f.write(json.dumps({"key": str(ts), "value": value}) + "\n")
    return str(src)


def test_end_to_end_windowed_counts(spark, fixture_dir, tmp_path):
    result = run_pipeline_availablenow(
        spark, fixture_dir, str(tmp_path / "ckpt"), output_table="t_trends"
    )
    rows = result.collect()
    got = {(r["window_start"].timestamp(), r["hashtag"]): r["cnt"] for r in rows}
    # #Celtics appears at t=0 and t=75; 60s windows sliding 15s from the
    # Spark alignment: t=0 -> starts {-45,-30,-15,0}, t=75 -> {30,45,60,75}
    celtics = {k: v for k, v in got.items() if k[1] == "#Celtics"}
    assert len(celtics) == 8
    assert all(v == 1 for v in celtics.values())
    # tags from the same tweet share windows: #a1/#b2/#c3 all at t=40
    for tag in ("#a1", "#b2", "#c3"):
        assert sum(v for k, v in got.items() if k[1] == tag) == 4
    # len>1 rule counts the '#' (proc:218): bare '#' dropped, '#x' kept
    assert not any(k[1] == "#" for k in got)
    assert any(k[1] == "#x" for k in got)
    assert any(k[1] == "#ok" for k in got)


def test_streaming_dedup_cross_batch(spark, fixture_dir, tmp_path):
    raw = read_raw_stream(spark, source_dir=fixture_dir)
    scored = transform_tweets(
        raw, ts_col=F.timestamp_seconds(F.col("key").cast("long"))
    )
    # dedup on (hashtag, country) ignoring ts: the duplicate tweet at t=75
    # must be suppressed even though it arrives in a LATER micro-batch.
    deduped = scored.withWatermark("ts", "10 minutes").dropDuplicates(["hashtag", "country"])
    q = (
        deduped.writeStream.format("memory")
        .queryName("t_dedup")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt2"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    out = spark.table("t_dedup").collect()
    celtics = [r for r in out if r["hashtag"] == "#Celtics"]
    assert len(celtics) == 1  # cross-batch dedup (stronger than proc:115)
    assert celtics[0]["country"] == "USA"


def test_foreachbatch_first_batch_setup(spark, fixture_dir, tmp_path):
    raw = read_raw_stream(spark, source_dir=fixture_dir)
    scored = transform_tweets(raw, ts_col=F.timestamp_seconds(F.col("key").cast("long")))
    out_dir = str(tmp_path / "sink")
    calls = {"setup": 0, "batches": []}

    def setup(_df):
        calls["setup"] += 1  # S8: drop-target runs exactly once (proc:111-114)

    def write(batch_df, batch_id):
        calls["batches"].append(batch_id)
        batch_df.write.mode("append").parquet(out_dir)

    q = write_with_first_batch_setup(
        scored, str(tmp_path / "ckpt3"), write, first_batch_setup=setup,
        output_mode="append",
    )
    q.awaitTermination(120)
    assert calls["setup"] == 1
    assert calls["batches"] == sorted(calls["batches"])
    assert len(calls["batches"]) >= 2  # two files -> >= two micro-batches
    written = spark.read.parquet(out_dir)
    assert written.count() > 0
    assert set(written.columns) == {"ts", "hashtag", "sentiment_score", "sentiment_type", "country"}


def test_sentiment_computed_once_per_tweet(spark, fixture_dir):
    raw = spark.read.schema(
        "key STRING, value STRING"
    ).json(fixture_dir)
    scored = transform_tweets(raw, ts_col=F.timestamp_seconds(F.col("key").cast("long")))
    rows = scored.filter(F.col("hashtag").isin("#a1", "#b2", "#c3")).collect()
    assert len(rows) == 3
    # all three tags fan out from one tweet -> identical whole-tweet score
    assert len({r["sentiment_score"] for r in rows}) == 1


@pytest.mark.parametrize("kind", ["batch", "stream"])
def test_transform_plan_runs_no_python(spark, fixture_dir, tmp_path, kind):
    """Sentiment is scored in-plan: neither the batch nor the streaming
    form of the transform may plan a Python evaluation node, whose
    worker start and Arrow round trip would be a fixed cost on every
    micro-batch task."""
    ts = F.timestamp_seconds(F.col("key").cast("long"))
    if kind == "batch":
        raw = spark.read.schema("key STRING, value STRING").json(fixture_dir)
        plan = transform_tweets(raw, ts_col=ts)._jdf.queryExecution().executedPlan().toString()
    else:
        q = (
            transform_tweets(read_raw_stream(spark, source_dir=fixture_dir), ts_col=ts)
            .writeStream.format("noop")
            .option("checkpointLocation", str(tmp_path / "ckpt"))
            .trigger(availableNow=True)
            .start()
        )
        assert q.awaitTermination(120)
        plan = q._jsq.explainInternal(False)  # the last micro-batch's physical plan
    assert "Project" in plan
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan, plan


def test_streaming_session_windows_merge_across_batches(spark, fixture_dir, tmp_path):
    """session_window in STREAMING mode (batch analogue: trends.
    window_session_per_user): USA rows arrive at t=0 (2 hashtags, batch 1),
    t=20 (1 hashtag, batch 1) and t=75 (2 hashtags, batch 2). The 20s gap
    merges t=0 and t=20 into one session; the 55s gap (> 30s session gap)
    starts a second session for t=75 — exercising both merge and split
    across micro-batches."""
    raw = read_raw_stream(spark, source_dir=fixture_dir)
    scored = transform_tweets(raw, ts_col=F.timestamp_seconds(F.col("key").cast("long")))
    sessions = (
        scored.withWatermark("ts", "10 minutes")
        .groupBy(F.session_window("ts", "30 seconds").alias("w"), "country")
        .agg(F.count(F.lit(1)).alias("n_rows"))
        .select(
            F.col("w.start").alias("session_start"),
            F.col("w.end").alias("session_end"),
            "country",
            "n_rows",
        )
    )
    q = (
        sessions.writeStream.format("memory")
        .queryName("t_sessions")
        .outputMode("complete")
        .option("checkpointLocation", str(tmp_path / "ckpt_sess"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    rows = spark.table("t_sessions").collect()
    by_country = {}
    for r in rows:
        by_country.setdefault(r["country"], []).append(r)
    usa = sorted(by_country["USA"], key=lambda r: r["session_start"])
    assert len(usa) == 2
    # session 1: t=0 (2 rows) merged with t=20 (1 row); end = 20 + 30
    assert (usa[0]["session_end"] - usa[0]["session_start"]).total_seconds() == 50
    assert usa[0]["n_rows"] == 3
    # session 2: the t=75 dup tweet (2 hashtag rows); span = the 30s gap
    assert (usa[1]["session_end"] - usa[1]["session_start"]).total_seconds() == 30
    assert usa[1]["n_rows"] == 2
