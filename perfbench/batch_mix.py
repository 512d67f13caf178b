"""batch_mix: 18 oracle-checked batch queries over a fixed fixture.

The queries run in an order the seed permutes. Staging builds are timed
on their own, a first pass warms the JVM and checks every answer, and
then whole passes are timed until the run's seconds are used up.
"""

from __future__ import annotations

import os
import random
import time

import pandas as pd

HERE = os.path.dirname(os.path.abspath(__file__))
FIXTURE_DIR = os.path.join(HERE, "data", "sf0.01")
EXPECTED_DIR = os.path.join(HERE, "expected")

# Single-plan queries: one declarative plan each.
DECLARATIVE = [
    "q01_pricing_summary",
    "q03_shipping_priority",
    "q05_region_revenue",
    "sql_q9_profit_by_nation_year",
    "sql_q21_waiting_orders",
    "tweet_pipeline_flagship",
    "window_sliding_counts",
    "trends_token_topk_salted",
    "window_session_per_user",
    "events_retention_cohorts",
    "events_hll_rollup",
    "textstats_tfidf",
    "corpus_pipeline_v4",
    "sim_lsh_ann",
]
# Driver-loop queries: a Python loop submits a job per round.
ITERATIVE = [
    "graph_pagerank_topk",
    "graph_kcore",
    "dedup_clusters",
    "ml_kmeans_two_level",
]
# Iterative first: the check pass starts the longest queries first.
QUERIES = ITERATIVE + DECLARATIVE
CHECK_THREADS = 4
# The staging builders whose memoized relations these queries read, in
# registry order (a builder reads the ones before it).
STAGING = [
    "tokenized_docs",
    "doc_shingles",
    "minhash_signatures",
    "minhash_pairs",
    "kcore_edges",
    "quantized_vectors",
    "kmeans_codebook",
    "bigram_instances",
]


def query_modules() -> dict[str, str]:
    """Query name -> the operators module that defines it."""
    from realtime_twitter_trends_analytics_spark.registry import all_queries

    fns = all_queries()
    return {q: fns[q].__module__.rsplit(".", 1)[-1] for q in QUERIES}


def layer_names() -> list[str]:
    """Per-layer metric names this workload fills (stable order)."""
    mods = query_modules()
    names = ["registry.staging_s"] + [f"registry.staging.{b}_s" for b in STAGING]
    for q in QUERIES:
        base = f"operators.{mods[q]}.{q}"
        names += [f"{base}_s", f"{base}_jobs", f"{base}_tasks", f"{base}_shuffle_mb"]
    return names + ["operators.declarative_s", "operators.iterative_s"]


def load_expected(name: str) -> pd.DataFrame:
    return pd.read_parquet(os.path.join(EXPECTED_DIR, f"{name}.parquet"))


def check_pass(spark, ctx, queries, expected) -> None:
    """Run every query once, CHECK_THREADS at a time, and compare each
    answer with its oracle. This pass is untimed: it checks correctness
    and warms the JVM (JIT, codegen) for the timed passes. Spark runs jobs
    from several driver threads side by side, so the cold compile work of
    different queries overlaps."""
    from concurrent.futures import ThreadPoolExecutor

    from tools.verify_local import compare

    def check(q: str) -> list[str]:
        try:
            return compare(queries[q](spark, FIXTURE_DIR).toPandas(), expected[q])
        except Exception as e:  # a failing query is counted, not fatal
            return [f"{type(e).__name__}: {e}"]

    with ThreadPoolExecutor(CHECK_THREADS) as pool:
        for q, problems in zip(QUERIES, pool.map(check, QUERIES)):
            if problems:
                ctx.log(f"batch_mix check {q}: {problems[:3]}")
            ctx.attempt(not problems)


def run(spark, ctx) -> dict:
    """Returns the workload's latency samples (one per timed pass: the sum
    of its warm query walls), work units (queries) and busy seconds."""
    from realtime_twitter_trends_analytics_spark.registry import all_queries, all_staging
    from realtime_twitter_trends_analytics_spark.sources.loaders import TABLES, load_table
    from tools.verify_local import compare

    queries = all_queries()
    order = list(QUERIES)
    random.Random(ctx.seed).shuffle(order)
    expected = {q: load_expected(q) for q in QUERIES}
    mods = query_modules()

    with ctx.span("loaders.scan", "loaders.scan_s"):
        for t in TABLES:
            load_table(spark, FIXTURE_DIR, t).write.format("noop").mode("overwrite").save()

    builders = all_staging()
    with ctx.span("registry.staging", "registry.staging_s") as parent:
        for b in STAGING:
            with ctx.job_group(f"staging:{b}", f"registry.staging.{b}", parent=parent) as rec:
                builders[b](spark, FIXTURE_DIR)
            ctx.layer[f"registry.staging.{b}_s"] = rec["wall_s"]

    check_pass(spark, ctx, queries, expected)
    ctx.end_setup()

    walls: list[tuple[str, float]] = []
    pass_walls: list[float] = []
    t_start = time.time()
    n = 0
    while n == 0 or time.time() - t_start < ctx.seconds:
        pass_span = ctx.tracer.add(f"pass{n}", time.time(), None)
        for q in order:
            # a query's own caches are part of its cost (the bench.py rule)
            spark.catalog.clearCache()
            try:
                with ctx.job_group(f"pass{n}:{q}", f"operators.{mods[q]}.{q}", parent=pass_span) as rec:
                    pdf = queries[q](spark, FIXTURE_DIR).toPandas()
                problems = compare(pdf, expected[q])
            except Exception as e:  # a failing query is counted, not fatal
                problems = [f"{type(e).__name__}: {e}"]
            ctx.attempt(not problems)
            if problems:
                ctx.log(f"batch_mix pass{n} {q}: {problems[:3]}")
                continue
            walls.append((q, rec["wall_s"]))
            base = f"operators.{mods[q]}.{q}"
            if n == 0:
                ctx.layer[f"{base}_s"] = rec["wall_s"]
                ctx.layer[f"{base}_jobs"] = len(rec["jobs"])
                ctx.layer[f"{base}_tasks"] = rec["tasks"]
                ctx.layer[f"{base}_shuffle_mb"] = rec["shuffle_mb"]
        ctx.tracer.set_end(pass_span, time.time())
        pass_walls.append(sum(w for _, w in walls) - sum(pass_walls))
        n += 1
    ctx.layer["operators.declarative_s"] = sum(w for q, w in walls if q in DECLARATIVE) / n
    ctx.layer["operators.iterative_s"] = sum(w for q, w in walls if q in ITERATIVE) / n
    # a batch user waits for the whole mix: one latency sample per pass
    return {
        "latencies": pass_walls,
        "units": len(walls),
        "busy_s": sum(w for _, w in walls),
    }
