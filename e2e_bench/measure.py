"""Measurement helpers with no Spark dependency: percentiles, span self
time, the open-loop arrival schedule, host facts and the /proc
process-tree RSS sampler."""

from __future__ import annotations

import os
import threading

import numpy as np


def percentile(values, q: float) -> float:
    """The q-th percentile (0..100) by linear interpolation between
    closest ranks, as numpy's default method computes it."""
    xs = sorted(values)
    if not xs:
        raise ValueError("percentile of no values")
    if not 0 <= q <= 100:
        raise ValueError(f"percentile {q} outside 0..100")
    pos = (len(xs) - 1) * q / 100.0
    lo = int(pos)
    if pos == lo:  # also keeps an inf (a failed operation) from becoming nan
        return xs[lo]
    return xs[lo] + (xs[lo + 1] - xs[lo]) * (pos - lo)


def self_time(start: float, end: float, children) -> float:
    """A span's duration minus the part of [start, end] that its
    children's (start, end) intervals cover; overlapping children are
    counted once and parts outside the span are ignored."""
    covered = 0.0
    cur_s = cur_e = None
    for s, e in sorted((max(s, start), min(e, end)) for s, e in children):
        if e <= s:
            continue
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                covered += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        covered += cur_e - cur_s
    return (end - start) - covered


def poisson_schedule(seed, rate: float, seconds: float) -> list[float]:
    """Send offsets (seconds from the start) of a Poisson process at
    ``rate`` per second over ``[0, seconds)``, conditioned on its mean
    count ``round(rate * seconds)``: given its count, a Poisson
    process's arrival times are independent uniforms.  Fixing the count
    keeps the offered load the same on every seed.  Same seed, same
    list."""
    if rate <= 0 or seconds <= 0:
        raise ValueError("rate and seconds must be positive")
    n = max(1, round(rate * seconds))
    rng = np.random.default_rng(seed)
    return sorted(float(t) for t in rng.uniform(0.0, seconds, n))


# --------------------------------------------------------------------------
# host


def host_cores() -> int:
    return len(os.sched_getaffinity(0))


def _meminfo_bytes(key: str) -> int:
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith(key + ":"):
                return int(line.split()[1]) * 1024
    raise KeyError(key)


def host_memory_bytes() -> int:
    """MemTotal, lowered to the cgroup v2 limit when one is set."""
    mem = _meminfo_bytes("MemTotal")
    try:
        with open("/sys/fs/cgroup/memory.max") as f:
            raw = f.read().strip()
    except OSError:
        return mem
    return min(mem, int(raw)) if raw.isdigit() else mem


def driver_memory(mem_bytes: int) -> str:
    """JVM heap for the benchmark's session: an eighth of the host's
    memory, between 1 GiB and 4 GiB.  The corpus is a few MB, and the
    machine's memory is shared, so the heap stays small."""
    mib = mem_bytes // (8 * 1024 * 1024)
    return f"{max(1024, min(4096, mib))}m"


def host_facts() -> dict:
    with open("/proc/loadavg") as f:
        load = [float(x) for x in f.read().split()[:3]]
    return {
        "cores": host_cores(),
        "mem_total_mb": round(_meminfo_bytes("MemTotal") / 2**20),
        "mem_limit_mb": round(host_memory_bytes() / 2**20),
        "loadavg": load,
    }


# --------------------------------------------------------------------------
# process tree


def _children_map() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:  # exited while we listed
            continue
        # the command name may hold spaces or parens: ppid follows the last ')'
        ppid = int(stat[stat.rindex(")") + 2:].split()[1])
        kids.setdefault(ppid, []).append(int(name))
    return kids


def descendants(pid: int) -> list[int]:
    """Every live process below ``pid`` (not ``pid`` itself)."""
    kids = _children_map()
    out: list[int] = []
    todo = list(kids.get(pid, []))
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(kids.get(p, []))
    return out


_PAGE = os.sysconf("SC_PAGE_SIZE")


def tree_rss(pid: int) -> dict[str, int]:
    """RSS bytes of ``pid`` and its descendants, summed per command name."""
    out: dict[str, int] = {}
    for p in [pid] + descendants(pid):
        try:
            with open(f"/proc/{p}/statm") as f:
                rss = int(f.read().split()[1]) * _PAGE
            with open(f"/proc/{p}/comm") as f:
                comm = f.read().strip()
        except OSError:  # exited meanwhile
            continue
        out[comm] = out.get(comm, 0) + rss
    return out


def tree_rss_bytes(pid: int) -> int:
    return sum(tree_rss(pid).values())


RSS_INTERVAL_S = 0.25


class RssSampler:
    """Samples the RSS of this process and all its descendants (the
    JVM and its Python workers) every RSS_INTERVAL_S until stopped;
    keeps the peak."""

    def __init__(self):
        self.peak_bytes = 0
        self.peak_by_command: dict[str, int] = {}
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        pid = os.getpid()
        while True:
            by_command = tree_rss(pid)
            total = sum(by_command.values())
            if total > self.peak_bytes:
                self.peak_bytes, self.peak_by_command = total, by_command
            if self._stop.wait(RSS_INTERVAL_S):
                return

    def __enter__(self) -> "RssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()
