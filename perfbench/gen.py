"""Seeded input generators for the benchmark, and the paced file writer.

Everything here is a pure function of (seed, index): the parent process
recomputes the ledger of what a generator wrote without reading its files,
and the same seed always yields byte-identical inputs.

Run as a script (``python gen.py paced ...``) this module is the open-loop
generator of the trends_paced workload: a single-threaded process that
renders every file and its ledger of window counts up front, waits for
"go" on stdin, then writes the files on a fixed schedule regardless of how
far the stream has got.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time
from collections import Counter

import numpy as np

# Event time of the first generated tweet (2024-01-01T00:00:00Z).
EVENT_T0 = 1_704_067_200
# Spark's sliding window for trend_counts: 60 s windows every 15 s.
WINDOW_S = 60
SLIDE_S = 15
# Events are stamped up to this many seconds before their file's due
# time, so batches see them out of order; it stays well inside the
# stream's 2-minute watermark, so no event is ever late enough to drop.
MAX_DISORDER_S = 20
N_HASHTAGS = 4000
ZIPF_S = 1.1

_WORDS = (
    "good bad love hate happy sad great terrible awesome awful best worst "
    "nice ugly win lose fun boring cool broken today game team match city "
    "news music movie night morning coffee train weather people update live"
).split()
_LOCATIONS = ("Austin, TX", "London, UK", "Paris, France", "Berlin", "Toronto, ON, Canada")
SENTINEL = " /TLOC/ "


def _zipf_cdf(n: int, s: float) -> np.ndarray:
    w = 1.0 / np.arange(1, n + 1) ** s
    return np.cumsum(w) / w.sum()


_TAG_CDF = _zipf_cdf(N_HASHTAGS, ZIPF_S)


def tweet_file(seed: int, idx: int, n_tweets: int, due_offset_s: float):
    """Render file ``idx`` of a tweet stream: JSON lines {key, value} in the
    (key = event epoch seconds, value = "<loc> /TLOC/ <text>") shape that
    pipeline.read_raw_stream reads. Returns (text, tags) where tags is the
    list of (event_ts, hashtag) pairs the stream must count."""
    rng = np.random.default_rng([seed, 1, idx])
    base = EVENT_T0 + int(due_offset_s)
    ts = base - rng.integers(0, MAX_DISORDER_S + 1, n_tweets)
    n_tags = rng.integers(1, 4, n_tweets)
    tag_ids = np.searchsorted(_TAG_CDF, rng.random(int(n_tags.sum())))
    words = rng.integers(0, len(_WORDS), (n_tweets, 6))
    locs = rng.integers(0, len(_LOCATIONS), n_tweets)
    lines, tags = [], []
    k = 0
    for i in range(n_tweets):
        ht = [f"#t{tag_ids[k + j]}" for j in range(n_tags[i])]
        k += n_tags[i]
        text = " ".join([_WORDS[w] for w in words[i]] + ht)
        lines.append(
            json.dumps({"key": str(int(ts[i])), "value": _LOCATIONS[locs[i]] + SENTINEL + text})
        )
        tags.extend((int(ts[i]), h) for h in ht)
    return "\n".join(lines) + "\n", tags


def window_ledger(tags) -> Counter:
    """(window_start_epoch_s, hashtag) -> count, the exact answer of
    trend_counts for these events: each event falls in the WINDOW_S/SLIDE_S
    windows whose start is slide-aligned and <= ts < start + WINDOW_S."""
    out: Counter = Counter()
    per = WINDOW_S // SLIDE_S
    for ts, tag in tags:
        last = ts - ts % SLIDE_S
        for k in range(per):
            out[(last - k * SLIDE_S, tag)] += 1
    return out


def corpus_vocab(seed: int, n: int = 20000) -> list[str]:
    """Distinct 4-6 letter lowercase tokens. Each starts with 'z' and then
    alternates vowel and consonant, so none is an English stopword (the
    quality gate drops stopword-heavy documents)."""
    rng = np.random.default_rng([seed, 2])
    consonants = "bcdfghjklmnpqrstvwxz"
    vowels = "aeiouy"
    seen: dict[str, None] = {}
    while len(seen) < n:
        ln = int(rng.integers(4, 7))
        w = "z" + "".join(
            consonants[rng.integers(0, 20)] if j % 2 else vowels[rng.integers(0, 6)]
            for j in range(ln - 1)
        )
        seen.setdefault(w, None)
    return list(seen)


def corpus_doc(seed: int, pos: int, vocab: list[str]) -> tuple[str, list[str]]:
    """Document at global position ``pos`` (its doc_id): (kind, tokens).

    Mix: 80% pristine docs (30-60 distinct random tokens, kept by the gate
    and unlike any other doc), 10% planted near-dups (an earlier pristine
    doc with one token replaced, Jaccard of 3-shingles about 0.85) and 10%
    too-short docs (under 12 tokens, always gated). A near-dup's original
    has a smaller doc_id, so the near-dup is the copy the dedup drops."""
    rng = np.random.default_rng([seed, 3, pos])
    r = rng.random()
    if r < 0.1 and pos > 0:
        # copy a pristine doc among the previous 2000; after 20 misses
        # (only near the start of the stream) this doc is pristine instead
        for _ in range(20):
            kind, toks = corpus_doc(seed, int(rng.integers(max(0, pos - 2000), pos)), vocab)
            if kind == "pristine":
                toks = list(toks)
                toks[int(rng.integers(0, len(toks)))] = vocab[int(rng.integers(0, len(vocab)))]
                return "near_dup", toks
    elif r < 0.2:
        n = int(rng.integers(3, 11))
        return "short", [vocab[int(j)] for j in rng.choice(len(vocab), n, replace=False)]
    n = int(rng.integers(30, 61))
    return "pristine", [vocab[int(j)] for j in rng.choice(len(vocab), n, replace=False)]


def corpus_file(seed: int, idx: int, n_docs: int, vocab: list[str]):
    """Render corpus file ``idx`` (doc_ids idx*n_docs ...): JSON lines
    {doc_id, text, lang, source}. Returns (text, {doc_id: kind})."""
    lines, kinds = [], {}
    for doc_id in range(idx * n_docs, (idx + 1) * n_docs):
        kind, toks = corpus_doc(seed, doc_id, vocab)
        kinds[doc_id] = kind
        lines.append(
            json.dumps(
                {
                    "doc_id": doc_id,
                    "text": " ".join(toks),
                    "lang": ("en", "es", "de")[doc_id % 3],
                    "source": f"src{doc_id % 4}",
                }
            )
        )
    return "\n".join(lines) + "\n", kinds


def write_atomic(path: str, text: str) -> None:
    """Write under a dot-name (the file source skips those) and rename, so
    a reader never lists a half-written file."""
    d, name = os.path.split(path)
    tmp = os.path.join(d, "." + name + ".tmp")
    with open(tmp, "w") as f:
        f.write(text)
    os.rename(tmp, path)


def paced_main(argv: list[str]) -> int:
    p = argparse.ArgumentParser(prog="gen.py paced")
    p.add_argument("--out", required=True)
    p.add_argument("--log", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--files", type=int, required=True)
    p.add_argument("--files-per-s", type=float, required=True)
    p.add_argument("--tweets-per-file", type=int, required=True)
    a = p.parse_args(argv)
    t_render = time.time()
    bodies, tags = [], []
    for i in range(a.files):
        body, t = tweet_file(a.seed, i, a.tweets_per_file, i / a.files_per_s)
        bodies.append(body)
        tags.extend(t)
    ledger = [[w, tag, c] for (w, tag), c in window_ledger(tags).items()]
    render_s = time.time() - t_render
    print(json.dumps({"ready": True, "render_s": render_s}), flush=True)
    if sys.stdin.readline().strip() != "go":
        return 1
    t0 = time.time() + 0.05
    # the parent computes due times from t0, so it learns t0 before any file
    print(json.dumps({"t0": t0}), flush=True)
    written = []
    for i, body in enumerate(bodies):
        due = t0 + i / a.files_per_s
        delay = due - time.time()
        if delay > 0:
            time.sleep(delay)
        write_atomic(os.path.join(a.out, f"f{i:06d}.json"), body)
        written.append(time.time())
    with open(a.log, "w") as f:
        json.dump({"t0": t0, "render_s": render_s, "written": written, "ledger": ledger}, f)
    return 0


if __name__ == "__main__":
    if len(sys.argv) < 2 or sys.argv[1] != "paced":
        print("usage: gen.py paced --out DIR --log FILE --seed N --files N "
              "--files-per-s R --tweets-per-file N", file=sys.stderr)
        sys.exit(2)
    sys.exit(paced_main(sys.argv[2:]))
