"""fan_out_small (r14 optimization): the scan-parallelism floor.

The local parquet fixtures are single row groups, so scans plan as ONE
task regardless of maxPartitionBytes/minPartitionNum — every map-heavy
stage stacked on them ran single-threaded until the first exchange.
`fan_out_small` round-robins such a relation to defaultParallelism and is
the IDENTITY whenever the plan already yields at least that many
partitions (the 100 TB case), so no corpus-sized shuffle is ever added.

Applied ONLY at the tokenized_docs staging site (dedup.py): the per-site
adjudication (OPTIMIZATION_r14.md) measured the embeddings sites
(quantized_vectors, _lsh_ann_scored, kmeans_cell_assignment) as net
regressions — the 25k-row vector tables are too light to pay for the
added exchange — and the documents tokenize as a ~4x downstream win.

Also pinned here: trainer determinism under multi-partition input. The
Lloyd trainers return centroids as driver rows; collect order of the
update agg is partition-layout-dependent, so the rows are canonically
sorted (values are order-invariant — ties break by (d2, cl) in both
coarse-quantizer faces).

And the other direction: driver_rows_df plans bounded driver rows as ONE
partition, whatever the row count (zero included).
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from realtime_twitter_trends_analytics_spark.operators import ml
from realtime_twitter_trends_analytics_spark.sources.loaders import (
    driver_rows_df,
    fan_out_small,
    load_table,
)

SF = "/root/testdata/sf0.001"


def test_fans_out_single_partition_scan(spark):
    emb = load_table(spark, SF, "embeddings")
    assert emb.rdd.getNumPartitions() < spark.sparkContext.defaultParallelism
    out = fan_out_small(emb, spark)
    assert out.rdd.getNumPartitions() == spark.sparkContext.defaultParallelism


def test_identity_when_already_parallel(spark):
    par = spark.sparkContext.defaultParallelism
    wide = load_table(spark, SF, "embeddings").repartition(par + 3)
    out = fan_out_small(wide, spark)
    # identity: the exact same DataFrame object, no shuffle appended
    assert out is wide


def test_rows_unchanged(spark):
    emb = load_table(spark, SF, "embeddings").select("vec_id")
    before = sorted(r.vec_id for r in emb.collect())
    after = sorted(r.vec_id for r in fan_out_small(emb, spark).collect())
    assert before == after


def test_trainer_rows_partition_invariant(spark):
    """train_kmeans_rows_from returns the IDENTICAL row list whether its
    input is 1 partition or many — the canonical-sort fix: at production
    scale the retrain input is always multi-partition, and the r13 face-
    equality contract (literal vs relation coarse quantizer) must not
    depend on the collect order of the update aggregation."""
    base = (
        load_table(spark, SF, "embeddings")
        .select("vec_id", "embedding")
        .limit(120)
        .localCheckpoint()
    )
    one = ml.train_kmeans_rows_from(base.coalesce(1).localCheckpoint(), 6)
    many = ml.train_kmeans_rows_from(base.repartition(7).localCheckpoint(), 6)
    assert one == many
    assert one == sorted(one)


@pytest.mark.parametrize("table", ["documents", "embeddings"])
def test_aggregates_identical_through_fanout(spark, table):
    df = load_table(spark, SF, table)
    key = "doc_id" if table == "documents" else "vec_id"
    a = df.agg(F.count("*"), F.sum(F.crc32(F.col(key).cast("string")))).collect()
    b = (
        fan_out_small(df, spark)
        .agg(F.count("*"), F.sum(F.crc32(F.col(key).cast("string"))))
        .collect()
    )
    assert a == b


@pytest.mark.parametrize("rows", [[], [(1, "a"), (2, "b"), (3, "c")]], ids=["empty", "rows"])
def test_driver_rows_df_is_one_partition(spark, rows):
    assert spark.sparkContext.defaultParallelism > 1
    df = driver_rows_df(spark, rows, "k int, v string")
    assert df.rdd.getNumPartitions() == 1
    assert sorted(map(tuple, df.collect())) == rows
