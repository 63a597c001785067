"""Resident memory and scratch-disk readings from ``/proc`` and the
file system (no psutil)."""

from __future__ import annotations

import os


def _stats() -> dict[int, list[str]]:
    """pid -> the /proc/<pid>/stat fields after the command name, for
    every live process (field 0 is the state, 1 the parent pid, 3 the
    session id)."""
    out: dict[int, list[str]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat", encoding="ascii", errors="replace") as fh:
                stat = fh.read()
        except OSError:
            continue
        # comm may hold spaces and parentheses; fields resume after the last ')'
        out[int(entry)] = stat[stat.rindex(")") + 2:].split()
    return out


def _children() -> dict[int, list[int]]:
    """ppid -> child pids over every live process."""
    out: dict[int, list[int]] = {}
    for pid, fields in _stats().items():
        out.setdefault(int(fields[1]), []).append(pid)
    return out


def session_members(sid: int) -> list[int]:
    """Live (not zombie) processes of session ``sid``. The pyspark
    daemon moves to its own process group but stays in the session."""
    return [pid for pid, f in _stats().items() if int(f[3]) == sid and f[0] != "Z"]


def descendants(pid: int) -> list[int]:
    tree = _children()
    found, todo = [], [pid]
    while todo:
        for child in tree.get(todo.pop(), ()):
            found.append(child)
            todo.append(child)
    return found


def _status_kb(pid: int, field: str) -> int:
    try:
        with open(f"/proc/{pid}/status", encoding="ascii") as fh:
            for line in fh:
                if line.startswith(field + ":"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


class EngineMemory:
    """Peak resident memory of the Spark JVM plus its Python workers:
    the sum of their high-water marks (``VmHWM``). The JVM's mark
    covers its whole life, so sampling between ops misses no JVM peak;
    Python workers are reused across tasks, so they stay alive to be
    read."""

    def __init__(self):
        self.peak_kb = 0

    def sample(self) -> None:
        # This process's descendants are the JVM and the pyspark daemon
        # with its workers.
        total = sum(_status_kb(pid, "VmHWM") for pid in descendants(os.getpid()))
        self.peak_kb = max(self.peak_kb, total)

    @property
    def peak_mb(self) -> float:
        return self.peak_kb / 1024.0


class ScratchDisk:
    """Bytes an op holds under the run's scratch roots: every file that
    is not a shuffle file (staging copies, checkpoints, state stores,
    extracted native libraries), plus the shuffle files of shuffles
    created since the previous reading. Older shuffle files are left
    out: they stay until the JVM happens to collect their shuffle, so
    counting them would measure GC timing."""

    def __init__(self, *roots: str):
        self.roots = roots
        self.last_shuffle = -1

    def read(self) -> int:
        total, newest = 0, self.last_shuffle
        for root in self.roots:
            for dirpath, _dirs, files in os.walk(root):
                for name in files:
                    try:
                        size = os.lstat(os.path.join(dirpath, name)).st_size
                    except OSError:
                        continue  # removed while walking
                    if name.startswith("shuffle_"):  # shuffle_<id>_<map>_<reduce>.*
                        shuffle = int(name.split("_")[1])
                        newest = max(newest, shuffle)
                        if shuffle <= self.last_shuffle:
                            continue
                    total += size
        self.last_shuffle = newest
        return total
