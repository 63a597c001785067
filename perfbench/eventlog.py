"""Per-op Spark metrics from an uncompressed Spark event log.

Jobs, tasks and streaming micro-batches are attributed to the op whose
[start, end] window (epoch milliseconds) holds the job's submission
time, the task's launch time or the batch's trigger time. Windows, not
job groups: a streaming query's micro-batch jobs carry the query's own
job group, not the caller's.
"""

from __future__ import annotations

import bisect
import datetime as dt
import glob
import json
import os
from collections.abc import Iterable, Iterator
from dataclasses import dataclass, field

_JOB_START = "SparkListenerJobStart"
_TASK_END = "SparkListenerTaskEnd"
_PROGRESS = "org.apache.spark.sql.streaming.StreamingQueryListener$QueryProgressEvent"
_WANTED = (_JOB_START, _TASK_END, _PROGRESS)

#: SQL metric name (task accumulables) -> (counter, scale to SI unit).
#: Timing metrics are milliseconds, size metrics bytes.
ACCUMULABLES = {
    "data sent to Python workers": ("python.bytes_sent", 1.0),
    "data returned from Python workers": ("python.bytes_returned", 1.0),
    "time to run Python workers": ("python.run_s", 1e-3),
    "task commit time": ("spark.task_commit_s", 1e-3),
}


@dataclass
class Window:
    """One op execution: [start, end] in epoch ms; ``build_end`` is when
    the query function returned and the final action began."""

    key: object
    start: float
    build_end: float
    end: float


@dataclass
class OpMetrics:
    counters: dict[str, float] = field(default_factory=dict)
    stages: set = field(default_factory=set)

    def add(self, name: str, value: float) -> None:
        self.counters[name] = self.counters.get(name, 0.0) + value


def events(log_dir: str) -> Iterator[dict]:
    """Events of the one application log under ``log_dir`` that
    attribution needs (other lines are skipped before parsing)."""
    paths = [p for p in glob.glob(os.path.join(log_dir, "*")) if os.path.isfile(p)]
    if len(paths) != 1:
        raise RuntimeError(f"expected one event log in {log_dir}, found {paths}")
    if paths[0].endswith((".zstd", ".lz4", ".snappy", ".lzf")):
        raise RuntimeError(f"compressed event log {paths[0]}")
    with open(paths[0], encoding="utf-8") as fh:
        for line in fh:
            head = line[:120]
            if any(kind in head for kind in _WANTED):
                yield json.loads(line)


class Attributor:
    """Maps a timestamp to the window containing it."""

    def __init__(self, windows: list[Window]):
        self.windows = sorted(windows, key=lambda w: w.start)
        self._starts = [w.start for w in self.windows]

    def find(self, t: float) -> Window | None:
        i = bisect.bisect_right(self._starts, t) - 1
        if i >= 0 and t <= self.windows[i].end:
            return self.windows[i]
        return None


def _iso_ms(stamp: str) -> float:
    return dt.datetime.fromisoformat(stamp.replace("Z", "+00:00")).timestamp() * 1000.0


def attribute(evs: Iterable[dict], windows: list[Window]) -> tuple[dict, int]:
    """Per-window metrics, keyed by ``Window.key``, and the number of
    jobs submitted between the first window's start and the last
    window's end but outside every window."""
    att = Attributor(windows)
    out = {w.key: OpMetrics() for w in windows}
    first = min((w.start for w in windows), default=0.0)
    last = max((w.end for w in windows), default=0.0)
    unattributed = 0
    for ev in evs:
        kind = ev["Event"]
        if kind == _JOB_START:
            w = att.find(ev["Submission Time"])
            if w is None:
                unattributed += first <= ev["Submission Time"] <= last
                continue
            m = out[w.key]
            m.add("spark.jobs", 1)
            if ev["Submission Time"] < w.build_end:
                m.add("queries.build_jobs", 1)
        elif kind == _TASK_END:
            info = ev["Task Info"]
            w = att.find(info["Launch Time"])
            if w is None:
                continue
            m = out[w.key]
            m.stages.add((ev["Stage ID"], ev["Stage Attempt ID"]))
            _add_task(m, ev.get("Task Metrics") or {}, info)
        elif kind == _PROGRESS:
            w = att.find(_iso_ms(ev["progress"]["timestamp"]))
            if w is not None:
                out[w.key].add("streaming.batches", 1)
    for m in out.values():
        m.counters["spark.stages"] = float(len(m.stages))
    return out, unattributed


def _add_task(m: OpMetrics, tm: dict, info: dict) -> None:
    m.add("spark.tasks", 1)
    m.add("spark.executor_run_s", tm.get("Executor Run Time", 0) / 1e3)
    m.add("spark.executor_cpu_s", tm.get("Executor CPU Time", 0) / 1e9)
    m.add("spark.gc_s", tm.get("JVM GC Time", 0) / 1e3)
    sw = tm.get("Shuffle Write Metrics") or {}
    m.add("spark.shuffle_write_bytes", sw.get("Shuffle Bytes Written", 0))
    sr = tm.get("Shuffle Read Metrics") or {}
    m.add("spark.shuffle_read_bytes",
          sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0))
    m.add("spark.fetch_wait_s", sr.get("Fetch Wait Time", 0) / 1e3)
    m.add("spark.input_bytes", (tm.get("Input Metrics") or {}).get("Bytes Read", 0))
    m.add("spark.output_bytes", (tm.get("Output Metrics") or {}).get("Bytes Written", 0))
    for acc in info.get("Accumulables") or ():
        spec = ACCUMULABLES.get(acc.get("Name"))
        if spec is not None and acc.get("Update") is not None:
            m.add(spec[0], float(acc["Update"]) * spec[1])
