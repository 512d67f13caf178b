"""Streaming drift monitor (round 8): the PSI gate from events_psi_drift
applied per micro-batch through the PRODUCTION foreachBatch hook. A
planted distribution shift in the second micro-batch must raise the alarm
there and only there.
"""

from __future__ import annotations

import json

from pyspark.sql import functions as F

from realtime_twitter_trends_analytics_spark.streaming.pipeline import (
    PSI_ALARM_THRESHOLD,
    category_psi,
    drift_monitor_writer,
    read_raw_stream,
    transform_tweets,
    write_with_first_batch_setup,
)

COUNTRIES = ["Austin", "Boston", "Chicago", "Denver"]


def _write_batch_file(path, mix, n=400, ts0=1_700_000_000):
    """mix: list of (city, weight) — weights sum to 1."""
    with open(path, "w") as fh:
        i = 0
        for city, w in mix:
            for _ in range(int(n * w)):
                value = f"user{i}, {city} /TLOC/ #tag{i % 5} hello number {i}"
                fh.write(json.dumps({"key": str(ts0 + i), "value": value}) + "\n")
                i += 1


def test_drift_alarm_fires_on_shifted_batch_only(spark, tmp_path):
    src = tmp_path / "src"
    src.mkdir()
    balanced = [(c, 0.25) for c in COUNTRIES]
    skewed = [(COUNTRIES[0], 0.97), (COUNTRIES[1], 0.01), (COUNTRIES[2], 0.01), (COUNTRIES[3], 0.01)]
    _write_batch_file(src / "b0.json", balanced)
    _write_batch_file(src / "b1.json", skewed)

    # baseline = the balanced mix (the trusted window a deployment pins)
    baseline = spark.createDataFrame(
        [(c.upper(), 100) for c in COUNTRIES], "country string, q_count long"
    )

    raw = read_raw_stream(spark, source_dir=str(src), max_files_per_trigger=1)
    scored = transform_tweets(raw, ts_col=F.timestamp_seconds(F.col("key").cast("long")))
    results: list[dict] = []
    q = write_with_first_batch_setup(
        scored,
        checkpoint_dir=str(tmp_path / "ckpt"),
        sink_writer=drift_monitor_writer(baseline, results),
        output_mode="append",
    )
    q.awaitTermination(120)

    assert len(results) == 2, results
    by_id = {r["batch_id"]: r for r in sorted(results, key=lambda r: r["batch_id"])}
    assert not by_id[0]["alarm"], by_id
    assert by_id[1]["alarm"], by_id
    assert by_id[1]["psi"] > by_id[0]["psi"]
    assert by_id[0]["psi"] < PSI_ALARM_THRESHOLD < by_id[1]["psi"]


def test_category_psi_zero_for_identical_mix(spark):
    df = spark.createDataFrame([(c.upper(),) for c in COUNTRIES] * 25, "country string")
    baseline = spark.createDataFrame(
        [(c.upper(), 25) for c in COUNTRIES], "country string, q_count long"
    )
    psi = category_psi(df, baseline)
    assert abs(psi) < 1e-6, psi
