"""End-to-end demo: the reference's full pipeline, batch AND streaming.

    python -m realtime_twitter_trends_analytics_spark.demo [sf_dir]

1. Batch: flagship trends query (token counts + mean sentiment + top-k per
   lang) over the driver's documents table.
2. Streaming: replays tweet-shaped fixture messages through a file source ->
   sentinel parse -> hashtag explode -> in-plan SQL sentiment -> country ->
   sliding-window trend counts -> memory sink, printing per-batch observe()
   metrics — the live path of the reference (proc:71-128) on Structured
   Streaming.
"""

from __future__ import annotations

import json
import os
import sys
import tempfile

from pyspark.sql import functions as F

from .operators.trends import tweet_pipeline_flagship
from .session import get_spark
from .streaming.pipeline import (
    observed,
    read_raw_stream,
    transform_tweets,
    trend_counts,
)

FIXTURES = [
    (0, "Boston, MA /TLOC/ fast game tonight #Celtics #NBA"),
    (5, "Paris, France /TLOC/ quelle #surprise today"),
    (10, "Gotham /TLOC/ #batman returns slow and big"),
    (20, "NYC, NY /TLOC/ RT @user check https://t.co/x #breaking!"),
    (40, "x, y /TLOC/ #spark #data fast fast fast"),
    (75, "Boston, MA /TLOC/ dup dup slow #Celtics"),
]


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"
    spark = get_spark("rtta-demo")

    print("=== batch: flagship trends (top tokens + mean sentiment per lang) ===")
    tweet_pipeline_flagship(spark, sf_dir).orderBy("lang", "rnk").show(15, truncate=False)

    print("=== streaming: tweet pipeline over a file-source replay ===")
    base = 1_700_000_000
    with tempfile.TemporaryDirectory() as tmp:
        src = os.path.join(tmp, "src")
        os.mkdir(src)
        mid = len(FIXTURES) // 2
        for i, chunk in enumerate([FIXTURES[:mid], FIXTURES[mid:]]):
            with open(os.path.join(src, f"batch_{i}.json"), "w") as f:
                for off, value in chunk:
                    f.write(json.dumps({"key": str(base + off), "value": value}) + "\n")
            os.utime(os.path.join(src, f"batch_{i}.json"), (1_000_000_000 + i * 100,) * 2)

        raw = read_raw_stream(spark, source_dir=src)
        scored = observed(
            transform_tweets(raw, ts_col=F.timestamp_seconds(F.col("key").cast("long")))
        )
        counts = trend_counts(scored)
        q = (
            counts.writeStream.format("memory")
            .queryName("demo_trends")
            .outputMode("complete")
            .option("checkpointLocation", os.path.join(tmp, "ckpt"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        for p in q.recentProgress:
            m = p.get("observedMetrics", {}).get("pipeline_metrics")
            if m:
                print(f"  batch {p['batchId']}: rows={m['n_rows']} hashtags~={m['n_hashtags']}")
        spark.table("demo_trends").orderBy("window_start", "hashtag").show(50, truncate=False)
    spark.stop()


if __name__ == "__main__":
    main()
