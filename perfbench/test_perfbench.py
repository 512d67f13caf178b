"""Tests of the benchmark's own code (no Spark needed):

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import json
import os
import signal
import time

import gen
import streams
import telemetry as tm

T = gen.EVENT_T0  # slide-aligned: EVENT_T0 % 15 == 0


def test_tweet_files_are_deterministic_per_seed():
    a = gen.tweet_file(7, 3, 50, 0.3)
    assert a == gen.tweet_file(7, 3, 50, 0.3)
    assert a != gen.tweet_file(8, 3, 50, 0.3)
    assert a[0] != gen.tweet_file(7, 4, 50, 0.3)[0]


def test_corpus_files_are_deterministic_per_seed():
    vocab = gen.corpus_vocab(5)
    assert vocab == gen.corpus_vocab(5)
    a = gen.corpus_file(5, 2, 40, vocab)
    assert a == gen.corpus_file(5, 2, 40, vocab)
    assert a != gen.corpus_file(6, 2, 40, gen.corpus_vocab(6))


def test_tweet_tags_match_the_rendered_text():
    text, tags = gen.tweet_file(1, 0, 30, 0.0)
    seen = []
    for line in text.splitlines():
        rec = json.loads(line)
        toks = rec["value"].split(gen.SENTINEL, 1)[1].split()
        seen += [(int(rec["key"]), t) for t in toks if t.startswith("#")]
    assert seen == tags
    assert all(T - gen.MAX_DISORDER_S <= ts <= T for ts, _ in tags)


def test_window_ledger_hand_computed():
    # ts T+14 lies in the windows starting T, T-15, T-30, T-45; ts T+15 in
    # T+15, T, T-15, T-30 (60 s windows sliding every 15 s).
    ledger = gen.window_ledger([(T + 14, "#a"), (T + 15, "#a"), (T + 15, "#b")])
    assert ledger == {
        (T + 15, "#a"): 1, (T, "#a"): 2, (T - 15, "#a"): 2, (T - 30, "#a"): 2, (T - 45, "#a"): 1,
        (T + 15, "#b"): 1, (T, "#b"): 1, (T - 15, "#b"): 1, (T - 30, "#b"): 1,
    }


def test_update_store_check_takes_each_keys_latest_batch():
    ledger = gen.window_ledger([(T + 1, "#a"), (T + 20, "#a")])
    rows = [(w, "#a", 1, 0) for (w, _), c in ledger.items()]  # batch 0: first event only
    rows += [(w, "#a", c, 1) for (w, _), c in ledger.items() if c == 2 or w == T + 15]
    assert streams.ledger_mismatches(streams.final_counts(rows), ledger) == []
    # a key whose last update is stale is reported
    stale = [r for r in rows if not (r[0] == T and r[3] == 1)]
    assert streams.ledger_mismatches(streams.final_counts(stale), ledger) == [((T, "#a"), 1, 2)]
    # a key the store never emitted is reported
    missing = [r for r in rows if r[0] != T - 45]
    assert streams.ledger_mismatches(streams.final_counts(missing), ledger) == [((T - 45, "#a"), None, 1)]


def test_corpus_mix_and_near_dup_sources():
    vocab = gen.corpus_vocab(3)
    kinds = {}
    for i in range(3):
        kinds.update(gen.corpus_file(3, i, 200, vocab)[1])
    n = len(kinds)
    for kind, share in (("pristine", 0.8), ("near_dup", 0.1), ("short", 0.1)):
        assert abs(sum(k == kind for k in kinds.values()) / n - share) < 0.05
    for pos, kind in kinds.items():
        toks = gen.corpus_doc(3, pos, vocab)[1]
        assert (len(toks) < 12) == (kind == "short")
        assert len(set(toks)) >= len(toks) - 1


def test_corpus_stream_start_terminates_for_every_seed():
    # a near-dup near the start may find no pristine doc to copy
    vocab = gen.corpus_vocab(0)
    for seed in range(300):
        kinds = gen.corpus_file(seed, 0, 12, vocab)[1]
        assert set(kinds.values()) <= {"pristine", "near_dup", "short"}


def test_tail_percentile_leaves_ten_samples_beyond():
    assert tm.tail_percentile(19) is None
    assert tm.tail_percentile(20) == 50
    assert tm.tail_percentile(80) == 87
    assert tm.tail_percentile(200) == 95
    assert tm.tail_percentile(240) == 95
    assert tm.tail_percentile(100_000) == 99
    for n in range(20, 1001):
        p = tm.tail_percentile(n)
        assert n * (100 - p) >= 1000  # at least ten samples beyond p
        assert p == 99 or n * (100 - (p + 1)) < 1000  # and p is the highest


def test_tail_value_falls_back_to_max():
    assert tm.tail_value([3.0, 1.0, 2.0]) == (3.0, "max")
    vals = [float(i) for i in range(200)]
    v, label = tm.tail_value(vals)
    assert label == "p95" and sum(x > v for x in vals) >= 10


def _write_log(path, entries, header="v1"):
    with open(path, "w") as f:
        f.write("\n".join([header] + [json.dumps(e) for e in entries]))


def test_source_log_reads_compact_and_plain_batches(tmp_path):
    log = tmp_path / "sources" / "0"
    log.mkdir(parents=True)

    def entry(name, batch):
        return {"path": f"file:///data/src%20dir/{name}", "timestamp": 1, "batchId": batch}

    # batches 0-9 folded into 9.compact; 10 and 11 as plain files
    _write_log(log / "9.compact", [entry(f"f{b}.json", b) for b in range(10)])
    _write_log(log / "10", [entry("f10.json", 10), entry("f10b.json", 10)])
    _write_log(log / "11", [entry("f11.json", 11)])
    (log / ".11.crc").write_text("x")
    (log / ".12.tmp").write_text("partial")
    got = tm.source_log_batches(str(tmp_path))
    assert got == {
        **{f"/data/src dir/f{b}.json": b for b in range(10)},
        "/data/src dir/f10.json": 10,
        "/data/src dir/f10b.json": 10,
        "/data/src dir/f11.json": 11,
    }


def test_tree_rss_counts_this_process_once():
    own = tm.tree_rss_mb(os.getpid())
    assert own > 1.0
    # a fork that has not exec'd shares the parent's pages: not counted
    pid = os.fork()
    if pid == 0:
        time.sleep(10)
        os._exit(0)
    try:
        time.sleep(0.2)
        assert tm.tree_rss_mb(os.getpid()) < 1.5 * own
    finally:
        os.kill(pid, signal.SIGKILL)
        os.waitpid(pid, 0)


def test_end_processes_ends_a_snapshot_of_descendants():
    import subprocess
    import sys

    # a child that ignores SIGTERM, so only the SIGKILL step can end it
    proc = subprocess.Popen([sys.executable, "-c",
                             "import signal, time; signal.signal(signal.SIGTERM, signal.SIG_IGN); time.sleep(60)"])
    try:
        time.sleep(0.3)
        tree = tm.descendants(os.getpid())
        assert proc.pid in tree
        assert tm.end_processes(tree, grace_s=0.1) == []
        assert proc.wait(timeout=5) == -signal.SIGKILL
    finally:
        proc.kill()
        proc.wait()
