"""The streaming workloads: trends_paced and corpus_stream.

trends_paced is an open loop. A separate generator process writes tweet
files on a fixed schedule, and the trends stream runs with an
as-soon-as-possible trigger. Each file's latency runs from its due time to
the end of the sink write of the micro-batch that read it.

corpus_stream is a closed drain. Generated documents pass through the
gate -> near-dup -> accounting topology with availableNow, one file per
trigger. After the warm-up triggers, each trigger's wall is one sample.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import time

import gen
import telemetry as tm

HERE = os.path.dirname(os.path.abspath(__file__))

# trends_paced: 1k tweets/s in 10 files/s, far below what the stream
# drains. Files are the latency samples: 10 * seconds of them per run
# (80 at 8 s, so the tail reported is p87). More, smaller files would add
# a per-file listing cost to every batch.
FILES_PER_S = 10
TWEETS_PER_FILE = 100
WARM_S = 3
WARM_DRAIN_FILES = 2
DRAIN_DEADLINE_S = 30

# corpus_stream: one drain reads CORPUS_FILES files of CORPUS_DOCS docs,
# one file per trigger. The first CORPUS_WARM triggers pay the cold costs
# and are setup; the index keeps growing over the measured ones.
CORPUS_FILES = 6
CORPUS_WARM = 2
CORPUS_DOCS = 300
CORPUS_DEADLINE_S = 120

PACED_LAYERS = [
    "pipeline.batches",
    "pipeline.jobs_per_batch",
    "pipeline.planning_ms_p50",
    "pipeline.wal_commit_ms_p50",
    "pipeline.commit_offsets_ms_p50",
    "pipeline.latest_offset_ms_p50",
    "pipeline.add_batch_ms_p50",
    "pipeline.sink_write_ms_p50",
    "pipeline.state_rows",
    "pipeline.state_mb",
    "pipeline.rows_dropped_by_watermark",
    "pipeline.transform_batch_s",
    "sentiment.rows_per_s",
    "generator.files",
    "generator.late_max_s",
    "generator.render_s",
]
CORPUS_LAYERS = [
    "corpus_stream.batches",
    "corpus_stream.writer_ms_p50",
    "corpus_stream.jobs_per_batch",
    "corpus_stream.batch_ms_p50",
    "corpus_stream.index_rows",
    "corpus_stream.gated_out",
    "corpus_stream.near_dup_recall",
    "corpus_stream.fixture_s",
]


class PacedGenerator:
    """The open-loop generator process. It renders every file while the
    Spark session starts, then waits for go() to start its schedule."""

    def __init__(self, src_dir: str, log_path: str, seed: int, files: int):
        self.log_path = log_path
        self.proc = subprocess.Popen(
            [
                sys.executable, os.path.join(HERE, "gen.py"), "paced",
                "--out", src_dir, "--log", log_path, "--seed", str(seed),
                "--files", str(files), "--files-per-s", str(FILES_PER_S),
                "--tweets-per-file", str(TWEETS_PER_FILE),
            ],
            stdin=subprocess.PIPE,
            stdout=subprocess.PIPE,
            text=True,
        )

    def go(self) -> float:
        """Start the schedule; returns t0, the due time of file 0."""
        ready = json.loads(self.proc.stdout.readline())
        if "ready" not in ready:
            raise RuntimeError(f"generator failed to start: {ready}")
        self.proc.stdin.write("go\n")
        self.proc.stdin.flush()
        return json.loads(self.proc.stdout.readline())["t0"]

    def finish(self, timeout: float) -> dict:
        self.proc.wait(timeout=timeout)
        if self.proc.returncode != 0:
            raise RuntimeError(f"generator exited with {self.proc.returncode}")
        with open(self.log_path) as f:
            return json.load(f)

    def kill(self) -> None:
        if self.proc.poll() is None:
            self.proc.kill()
        self.proc.wait()


class SinkClock:
    """Wraps a foreachBatch sink writer and records, per batch, when the
    write started and ended."""

    def __init__(self, writer):
        self.writer = writer
        self.start: dict[int, float] = {}
        self.end: dict[int, float] = {}

    def __call__(self, batch_df, batch_id: int) -> None:
        t0 = time.time()
        self.writer(batch_df, batch_id)
        self.start[batch_id], self.end[batch_id] = t0, time.time()


def _stop(query, timeout_s: float = 30) -> None:
    """Stop a streaming query and wait until it has ended."""
    if query is None:
        return
    try:
        query.stop()
    finally:
        query.awaitTermination(timeout_s)


def _progress(query) -> list[dict]:
    return [json.loads(p.json) for p in query.recentProgress]


# The order in which a micro-batch runs its durationMs phases.
_PHASES = ("latestOffset", "walCommit", "getBatch", "queryPlanning", "addBatch", "commitOffsets")


def _batch_spans(ctx, progress, clock: SinkClock, jobs_by_batch, name: str) -> None:
    """One span per micro-batch from its trigger start, with children for
    its durationMs phases (laid end to end in execution order), the sink
    call and the batch's jobs."""
    from datetime import datetime

    for p in progress:
        bid = p["batchId"]
        dur = p.get("durationMs", {})
        if bid not in clock.end or "triggerExecution" not in dur:
            continue
        t = datetime.fromisoformat(p["timestamp"].replace("Z", "+00:00")).timestamp()
        sid = ctx.tracer.add(f"{name}.batch", t, t + dur["triggerExecution"] / 1e3,
                             batch_id=bid, num_input_rows=p.get("numInputRows"))
        for phase in _PHASES:
            if phase in dur:
                ctx.tracer.add(f"{name}.{phase}", t, t + dur[phase] / 1e3, parent=sid)
                t += dur[phase] / 1e3
        ctx.tracer.add(f"{name}.sink", clock.start[bid], clock.end[bid], parent=sid)
        for j in jobs_by_batch.get(bid, []):
            ctx.tracer.add("spark.job", j["start"], j["end"], parent=sid, job_id=j["job_id"])


def run_paced(spark, ctx, gen_proc: PacedGenerator) -> dict:
    from pyspark.sql import functions as F
    from realtime_twitter_trends_analytics_spark.functions.sentiment import score_texts_pandas_vec
    from realtime_twitter_trends_analytics_spark.streaming.pipeline import (
        RAW_SCHEMA,
        idempotent_store_writer,
        read_raw_stream,
        transform_tweets,
        trend_counts,
    )

    work = ctx.work_dir
    src, ckpt, store = (os.path.join(work, d) for d in ("src", "ckpt", "store"))
    warm_files = WARM_S * FILES_PER_S
    files = warm_files + int(ctx.seconds * FILES_PER_S)
    spark.conf.set("spark.sql.streaming.numRecentProgressUpdates", "10000")
    event_ts = F.timestamp_seconds(F.col("key").cast("long"))

    def start(source: str, tag: str, sink, warm: bool):
        raw = read_raw_stream(spark, source_dir=source, max_files_per_trigger=100_000)
        writer = (
            trend_counts(transform_tweets(raw, ts_col=event_ts))
            .writeStream.foreachBatch(sink)
            .option("checkpointLocation", os.path.join(work, tag))
            .outputMode("update")
        )
        return (writer.trigger(availableNow=True) if warm else writer).start()

    # A throwaway drain of the same topology first: it pays the cold
    # costs (JIT, codegen, Python worker start) that would otherwise land
    # on the first scheduled files.
    warm_src = os.path.join(work, "warm_src")
    os.makedirs(warm_src)
    for i in range(WARM_DRAIN_FILES):
        gen.write_atomic(os.path.join(warm_src, f"w{i:04d}.json"),
                         gen.tweet_file(ctx.seed, 10_000 + i, TWEETS_PER_FILE, i / FILES_PER_S)[0])
    query = start(warm_src, "warm_ckpt", idempotent_store_writer(os.path.join(work, "warm_store")), True)
    try:
        if not query.awaitTermination(DRAIN_DEADLINE_S):
            ctx.log("trends_paced: warm-up drain overran its deadline")
    finally:
        _stop(query)

    clock = SinkClock(idempotent_store_writer(store))
    query = None
    try:
        query = start(src, "ckpt", clock, False)
        t0 = gen_proc.go()
        due = [t0 + i / FILES_PER_S for i in range(files)]
        paths = [os.path.join(src, f"f{i:06d}.json") for i in range(files)]
        # warm-up: the first WARM_S seconds of the schedule are setup
        time.sleep(max(0.0, due[warm_files] - time.time()))
        ctx.end_setup()
        log = gen_proc.finish(timeout=files / FILES_PER_S + 60)
        deadline = time.time() + DRAIN_DEADLINE_S
        batch_of: dict[str, int] = {}
        while time.time() < deadline:
            batch_of = tm.source_log_batches(ckpt)
            if all(p in batch_of and batch_of[p] in clock.end for p in paths):
                break
            time.sleep(0.1)
        t_measured_end = time.time()
        ctx.end_measure()
        progress = _progress(query)
    finally:
        _stop(query)

    missing = [p for p in paths if not (p in batch_of and batch_of[p] in clock.end)]
    for p in paths:  # one operation per generated file
        ctx.attempt(p not in missing)
    if missing:
        ctx.log(f"trends_paced: {len(missing)} files not emitted by the deadline")
    lat = [
        clock.end[batch_of[p]] - due[i]
        for i, p in enumerate(paths)
        if i >= warm_files and p not in missing
    ]
    measured_end = max((clock.end[batch_of[p]] for p in paths[warm_files:] if p not in missing),
                       default=t_measured_end)
    ledger = {(w, tag): c for w, tag, c in log["ledger"]}
    ok = _check_trend_store(spark, store, ledger, ctx)
    ctx.attempt(ok)

    ctx.layer["generator.files"] = files
    ctx.layer["generator.late_max_s"] = max(w - d for w, d in zip(log["written"], due))
    ctx.layer["generator.render_s"] = log["render_s"]
    if ctx.trace:
        measured_ids = {batch_of[p] for p in paths[warm_files:] if p in batch_of}
        # progress also lists idle triggers, which ran no batch
        measured = [pr for pr in progress
                    if pr["batchId"] in measured_ids and "addBatch" in pr.get("durationMs", {})]
        _pipeline_layers(ctx, measured, clock)
        jobs_by_batch = ctx.stats.jobs_by_description(str(query.runId), "batch")
        _batch_spans(ctx, progress, clock, jobs_by_batch, "pipeline")
        n_jobs = [len(jobs_by_batch.get(p["batchId"], [])) for p in measured]
        ctx.layer["pipeline.jobs_per_batch"] = tm.median(n_jobs) if n_jobs else 0
        # per-row costs, measured on the same files outside the stream
        with ctx.span("pipeline.transform_batch", "pipeline.transform_batch_s"):
            batch_raw = spark.read.schema(RAW_SCHEMA).json(paths[warm_files:])
            transform_tweets(batch_raw, ts_col=event_ts).write.format("noop").mode("overwrite").save()
        texts = []
        for p in paths[warm_files:]:
            with open(p) as f:
                texts += [json.loads(line)["value"].split(gen.SENTINEL, 1)[1] for line in f]
        with ctx.span("sentiment.score"):
            t = time.time()
            score_texts_pandas_vec(texts)
            ctx.layer["sentiment.rows_per_s"] = len(texts) / (time.time() - t)
    n_tweets = len(lat) * TWEETS_PER_FILE
    return {
        "latencies": lat,
        "units": n_tweets,
        "busy_s": measured_end - due[warm_files],
    }


def _pipeline_layers(ctx, progress: list[dict], clock: SinkClock) -> None:
    ctx.layer["pipeline.batches"] = len(progress)
    phases = {
        "planning": "queryPlanning",
        "wal_commit": "walCommit",
        "commit_offsets": "commitOffsets",
        "latest_offset": "latestOffset",
        "add_batch": "addBatch",
    }
    for short, phase in phases.items():
        vals = tm.progress_phase_ms(progress, phase)
        ctx.layer[f"pipeline.{short}_ms_p50"] = tm.median(vals) if vals else 0
    sink_ms = [(clock.end[p["batchId"]] - clock.start[p["batchId"]]) * 1e3
               for p in progress if p["batchId"] in clock.end]
    ctx.layer["pipeline.sink_write_ms_p50"] = tm.median(sink_ms) if sink_ms else 0
    last = progress[-1] if progress else {}
    ops = last.get("stateOperators", [])
    ctx.layer["pipeline.state_rows"] = sum(o.get("numRowsTotal", 0) for o in ops)
    ctx.layer["pipeline.state_mb"] = sum(o.get("memoryUsedBytes", 0) for o in ops) / 1e6
    ctx.layer["pipeline.rows_dropped_by_watermark"] = sum(
        o.get("numRowsDroppedByWatermark", 0) for p in progress for o in p.get("stateOperators", [])
    )


def final_counts(rows) -> dict:
    """(window_start, hashtag) -> count from an update-mode store's rows
    (window_start, hashtag, cnt, batch): each key's row of its latest batch."""
    latest: dict = {}
    for w, tag, cnt, batch in rows:
        if (w, tag) not in latest or batch > latest[(w, tag)][1]:
            latest[(w, tag)] = (cnt, batch)
    return {k: c for k, (c, _) in latest.items()}


def ledger_mismatches(got: dict, ledger: dict) -> list:
    """Sorted (key, got, expected) for every key where the two differ."""
    return sorted(
        (k, got.get(k), ledger.get(k))
        for k in set(got) | set(ledger)
        if got.get(k) != ledger.get(k)
    )


def _check_trend_store(spark, store: str, ledger: dict, ctx) -> bool:
    """The final (window, hashtag) counts of the update-mode store must
    equal the generator's ledger exactly."""
    from pyspark.sql import functions as F

    rows = (
        spark.read.parquet(store)
        .select(F.unix_timestamp("window_start"), "hashtag", "cnt", "batch")
        .collect()
    )
    bad = ledger_mismatches(final_counts(tuple(r) for r in rows), ledger)
    if bad:
        ctx.log(f"trends_paced: {len(bad)} (window, hashtag) counts differ, e.g. {bad[:3]}")
    return not bad


def run_corpus(spark, ctx) -> dict:
    from realtime_twitter_trends_analytics_spark.streaming.corpus_stream import (
        read_corpus_docs_stream,
        streaming_corpus_reset,
        streaming_corpus_writer,
    )
    from realtime_twitter_trends_analytics_spark.streaming.dedup_stream import _index_paths
    from realtime_twitter_trends_analytics_spark.streaming.pipeline import (
        write_with_first_batch_setup,
    )

    spark.conf.set("spark.sql.streaming.numRecentProgressUpdates", "10000")
    work = ctx.work_dir
    src, ckpt = os.path.join(work, "src"), os.path.join(work, "ckpt")
    index_dir, acct_dir = os.path.join(work, "index"), os.path.join(work, "acct")
    kinds: dict[int, str] = {}
    with ctx.span("corpus_stream.fixture", "corpus_stream.fixture_s"):
        vocab = gen.corpus_vocab(ctx.seed)
        os.makedirs(src)
        paths = [os.path.join(src, f"d{i:04d}.json") for i in range(CORPUS_FILES)]
        t_old = time.time() - 1000
        for i, path in enumerate(paths):
            text, k = gen.corpus_file(ctx.seed, i, CORPUS_DOCS, vocab)
            gen.write_atomic(path, text)
            # the file source takes the oldest file first: pin the order
            os.utime(path, (t_old + i, t_old + i))
            kinds.update(k)

    results: list[dict] = []
    clock = SinkClock(streaming_corpus_writer(spark, index_dir, acct_dir, results=results))
    query = write_with_first_batch_setup(
        read_corpus_docs_stream(spark, src, max_files_per_trigger=1),
        checkpoint_dir=ckpt,
        sink_writer=clock,
        first_batch_setup=streaming_corpus_reset(index_dir, acct_dir),
        output_mode="append",
    )
    try:
        done = query.awaitTermination(CORPUS_DEADLINE_S)
        ctx.end_measure()
        progress = _progress(query)
    finally:
        _stop(query)
    if not done:
        ctx.log(f"corpus_stream: drain overran {CORPUS_DEADLINE_S} s")
    batch_of = tm.source_log_batches(ckpt)
    emitted = [p for p in paths if batch_of.get(p) in clock.end]
    for p in paths:
        ctx.attempt(p in emitted)
    # samples: the wall of each measured trigger, from the end of the
    # previous trigger's write to the end of its own
    warm_end = clock.end.get(CORPUS_WARM - 1, time.time())
    ctx.end_setup(warm_end)
    ends = sorted(clock.end[b] for b in clock.end if b >= CORPUS_WARM - 1)
    walls = [b - a for a, b in zip(ends, ends[1:])]
    ok, recall = _check_corpus(spark, _index_paths(index_dir)[2], kinds, ctx)
    ctx.attempt(ok)
    ctx.layer["corpus_stream.near_dup_recall"] = recall
    if ctx.trace:
        prog = [p for p in progress if p["batchId"] >= CORPUS_WARM]
        ctx.layer["corpus_stream.batches"] = len(prog)
        w_ms = [(clock.end[b] - clock.start[b]) * 1e3 for b in clock.end if b >= CORPUS_WARM]
        ctx.layer["corpus_stream.writer_ms_p50"] = tm.median(w_ms)
        ctx.layer["corpus_stream.batch_ms_p50"] = tm.median(tm.progress_phase_ms(prog, "triggerExecution"))
        jobs_by_batch = ctx.stats.jobs_by_description(str(query.runId), "batch")
        ctx.layer["corpus_stream.jobs_per_batch"] = tm.median(
            [len(jobs_by_batch.get(b, [])) for b in clock.end if b >= CORPUS_WARM]
        )
        ctx.layer["corpus_stream.gated_out"] = sum(r.get("n_gated_out", 0) for r in results)
        ctx.layer["corpus_stream.index_rows"] = spark.read.parquet(_index_paths(index_dir)[1]).count()
        _batch_spans(ctx, progress, clock, jobs_by_batch, "corpus_stream")
    return {
        "latencies": walls,
        # a typical trigger's docs/s: the median wall damps one slow trigger
        "units": CORPUS_DOCS,
        "busy_s": tm.median(walls) if walls else float("nan"),
    }


def _check_corpus(spark, surv_dir: str, kinds: dict[int, str], ctx) -> tuple[bool, float]:
    """Every too-short doc is gated and no pristine doc is dropped. Returns
    (ok, near-dup recall = planted near-dups dropped / planted)."""
    kept = {r["doc_id"] for r in spark.read.parquet(surv_dir).select("doc_id").collect()}
    short_kept = [i for i, k in kinds.items() if k == "short" and i in kept]
    pristine_lost = [i for i, k in kinds.items() if k == "pristine" and i not in kept]
    near = [i for i, k in kinds.items() if k == "near_dup"]
    recall = sum(1 for i in near if i not in kept) / max(1, len(near))
    if short_kept or pristine_lost:
        ctx.log(f"corpus_stream: {len(short_kept)} short docs kept, "
                f"{len(pristine_lost)} pristine docs dropped")
        return False, recall
    return True, recall
