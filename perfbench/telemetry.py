"""Measurement helpers: spans, percentiles, Spark status-store reads, the
file-source commit log, RSS sampling of the Spark process tree, and ending it.

Nothing here imports the engine; the Spark-facing helpers take a live
SparkContext and read only public telemetry (the status store and
StreamingQueryProgress), so they time the engine from outside.
"""

from __future__ import annotations

import contextlib
import json
import math
import os
import signal
import threading
import time
from urllib.parse import unquote, urlparse


class Tracer:
    """In-memory spans (name, start, end, parent), written out once at the
    end of a run. A disabled tracer records nothing."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self._lock = threading.Lock()

    def add(self, name: str, start: float, end: float, parent: int | None = None, **attrs) -> int | None:
        if not self.enabled:
            return None
        with self._lock:
            sid = len(self.spans)
            self.spans.append(
                {"id": sid, "name": name, "start": start, "end": end, "parent": parent, **attrs}
            )
        return sid

    def set_end(self, sid: int | None, end: float) -> None:
        if sid is not None:
            with self._lock:
                self.spans[sid]["end"] = end

    def write(self, path: str, **extra) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            json.dump({**extra, "spans": self.spans}, f, indent=1)


def percentile(values, p: float) -> float:
    """Linear-interpolated percentile (p in 0..100) of a non-empty sample."""
    xs = sorted(values)
    if not xs:
        raise ValueError("percentile of an empty sample")
    k = (len(xs) - 1) * p / 100.0
    lo, hi = math.floor(k), math.ceil(k)
    return xs[lo] + (xs[hi] - xs[lo]) * (k - lo)


def tail_percentile(n: int) -> int | None:
    """The highest whole percentile, at most 99, that leaves at least ten
    samples beyond it: the largest p with n * (100 - p) / 100 >= 10. None
    when even the median would leave fewer than ten (n < 20)."""
    if n < 20:
        return None
    return min(99, 100 - math.ceil(1000 / n))


def tail_value(values) -> tuple[float, str]:
    """(value, label) of the tail statistic reported for a sample: the
    tail_percentile when the sample supports one, else its maximum."""
    p = tail_percentile(len(values))
    if p is None:
        return max(values), "max"
    return percentile(values, p), f"p{p}"


def median(values) -> float:
    return percentile(values, 50)


def source_log_batches(checkpoint_dir: str, source: int = 0) -> dict[str, int]:
    """File path -> batch id from a file-stream source's commit log
    (``<checkpoint>/sources/<n>/``). Every N batches Spark folds the log
    into ``<id>.compact``, which lists the entries of all batches up to it,
    each with its own batchId; plain ``<id>`` files list one batch. The
    first line of each file is a version header."""
    log_dir = os.path.join(checkpoint_dir, "sources", str(source))
    out: dict[str, int] = {}
    for name in os.listdir(log_dir):
        stem = name[: -len(".compact")] if name.endswith(".compact") else name
        if not stem.isdigit():
            continue  # .crc side files, temp files
        with open(os.path.join(log_dir, name)) as f:
            lines = f.read().splitlines()
        for line in lines[1:]:
            if not line.strip():
                continue
            entry = json.loads(line)
            out[unquote(urlparse(entry["path"]).path)] = int(entry["batchId"])
    return out


class JobGroupStats:
    """Jobs, tasks, shuffle bytes and executor run time of the jobs of one
    job group, read from the live status store (populated with the UI off)."""

    def __init__(self, sc):
        self._sc = sc
        self._store = sc._jsc.sc().statusStore()

    def _jobs(self):
        it = self._store.jobsList(None).iterator()
        while it.hasNext():
            yield it.next()

    def group(self, group: str) -> dict:
        jobs, stage_ids = [], []
        for j in self._jobs():
            g = j.jobGroup()
            if not (g.isDefined() and g.get() == group):
                continue
            jobs.append(_job_span(j))
            sit = j.stageIds().iterator()
            while sit.hasNext():
                stage_ids.append(sit.next())
        return {"jobs": jobs, **self._stage_totals(stage_ids)}

    def jobs_by_description(self, group: str, key: str) -> dict[int, list[dict]]:
        """Jobs of ``group`` bucketed by the integer after ``key =`` in their
        description; streaming queries describe their jobs with
        ``batch = <id>`` under the query's runId job group."""
        out: dict[int, list[dict]] = {}
        for j in self._jobs():
            g = j.jobGroup()
            if not (g.isDefined() and g.get() == group):
                continue
            d = j.description()
            desc = d.get() if d.isDefined() else ""
            marker = f"{key} = "
            if marker not in desc:
                continue
            tail = desc.split(marker, 1)[1]
            num = "".join(ch for ch in tail[:12] if ch.isdigit())
            if num:
                out.setdefault(int(num), []).append(_job_span(j))
        return out

    def _stage_totals(self, stage_ids) -> dict:
        tasks = shuffle = run_ms = 0
        for sid in stage_ids:
            it = self._store.stageData(sid, False, None, False, self._quantiles()).iterator()
            while it.hasNext():
                s = it.next()
                if str(s.status()) != "COMPLETE":
                    continue  # skipped stages reuse earlier shuffle output
                tasks += s.numTasks()
                shuffle += s.shuffleReadBytes() + s.shuffleWriteBytes()
                run_ms += s.executorRunTime()
        return {"tasks": tasks, "shuffle_mb": shuffle / 1e6, "executor_run_s": run_ms / 1e3}

    def _quantiles(self):
        gw = self._sc._gateway
        return gw.new_array(gw.jvm.double, 0)


def _job_span(j) -> dict:
    sub, comp = j.submissionTime(), j.completionTime()
    return {
        "job_id": j.jobId(),
        "start": sub.get().getTime() / 1e3 if sub.isDefined() else None,
        "end": comp.get().getTime() / 1e3 if comp.isDefined() else None,
        "status": str(j.status()),
    }


def _rss_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmRSS:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def _children(pid: int) -> list[int]:
    out = []
    try:
        for tid in os.listdir(f"/proc/{pid}/task"):
            with open(f"/proc/{pid}/task/{tid}/children") as f:
                out.extend(int(c) for c in f.read().split())
    except OSError:
        pass
    return out


def _exe(pid: int) -> str | None:
    try:
        return os.readlink(f"/proc/{pid}/exe")
    except OSError:
        return None


def tree_rss_mb(root_pid: int) -> float:
    """RSS of a process and all its descendants, in MB. A descendant that
    runs the root's own executable is a fork that has not yet exec'd (the
    JVM forks to run chmod and the like); it shares the root's pages and
    would count them twice, so it is skipped."""
    root_exe = _exe(root_pid)
    total, todo, seen = 0, [root_pid], set()
    while todo:
        pid = todo.pop()
        if pid in seen:
            continue
        seen.add(pid)
        if pid != root_pid and _exe(pid) == root_exe:
            continue
        total += _rss_kb(pid)
        todo.extend(_children(pid))
    return total / 1024.0


class RssSampler:
    """Samples the RSS of a process tree (the Spark driver JVM and the
    Python workers it forks) on a background thread; ``peak_mb`` is the
    largest sum seen between start() and stop()."""

    def __init__(self, root_pid: int, interval_s: float = 0.1):
        self.root_pid = root_pid
        self.interval_s = interval_s
        self.peak_mb = 0.0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        while not self._stop.is_set():
            self.peak_mb = max(self.peak_mb, tree_rss_mb(self.root_pid))
            self._stop.wait(self.interval_s)

    def start(self) -> "RssSampler":
        self._thread.start()
        return self

    def stop(self) -> float:
        self._stop.set()
        self._thread.join(timeout=5)
        self.peak_mb = max(self.peak_mb, tree_rss_mb(self.root_pid))
        return self.peak_mb


def _start_ticks(pid: int) -> int | None:
    """Start time of a live process, or None once it has ended (gone or a
    zombie). With the pid it names one process even if the pid is reused."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            fields = f.read().rsplit(")", 1)[1].split()
    except (OSError, IndexError):
        return None
    return None if fields[0] in ("Z", "X") else int(fields[19])


def descendants(root_pid: int) -> dict[int, int]:
    """pid -> start time of every live descendant of a process."""
    out: dict[int, int] = {}
    todo = _children(root_pid)
    while todo:
        pid = todo.pop()
        if pid in out:
            continue
        ticks = _start_ticks(pid)
        if ticks is not None:
            out[pid] = ticks
            todo.extend(_children(pid))
    return out


def end_processes(procs: dict[int, int], grace_s: float) -> list[int]:
    """Wait until every process of a descendants() snapshot has ended:
    for ``grace_s`` seconds, then after SIGTERM, then after SIGKILL.
    Returns the pids still alive at the end (none, barring a process
    stuck in the kernel)."""

    def alive() -> list[int]:
        return [p for p, t in procs.items() if _start_ticks(p) == t]

    for sig, wait_s in ((None, grace_s), (signal.SIGTERM, 3.0), (signal.SIGKILL, 3.0)):
        if sig is not None:
            for pid in alive():
                with contextlib.suppress(OSError):
                    os.kill(pid, sig)
        deadline = time.time() + wait_s
        while alive() and time.time() < deadline:
            time.sleep(0.05)
        if not alive():
            return []
    return alive()


def jvm_pid(sc) -> int:
    return int(sc._jvm.java.lang.ProcessHandle.current().pid())


def progress_phase_ms(progress: list[dict], phase: str) -> list[float]:
    return [float(p["durationMs"][phase]) for p in progress if phase in p.get("durationMs", {})]
