"""Spans, self-times, percentiles and process-tree memory for the benchmark."""

from __future__ import annotations

import contextlib
import json
import os
import threading
import time


class Tracer:
    """In-memory spans (name, start, end, parent, request id).

    Disabled tracers hand out a shared no-op context, so the untraced
    timed runs pay one method call per span site and nothing else.
    Single-threaded: the parent is the innermost open span.
    """

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self._off = contextlib.nullcontext()

    def span(self, name: str, req=None):
        return self._span(name, req) if self.enabled else self._off

    @contextlib.contextmanager
    def _span(self, name: str, req):
        sid = len(self.spans)
        parent = self._stack[-1] if self._stack else None
        if req is None and parent is not None:
            req = self.spans[parent]["req"]
        rec = {"id": sid, "name": name, "parent": parent, "req": req,
               "start": time.perf_counter(), "end": None}
        self.spans.append(rec)
        self._stack.append(sid)
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()

    def self_times(self) -> list[dict]:
        """Each span with ``self`` = its duration minus its children's."""
        child = [0.0] * len(self.spans)
        for s in self.spans:
            if s["parent"] is not None:
                child[s["parent"]] += s["end"] - s["start"]
        return [
            dict(s, dur=s["end"] - s["start"], self=s["end"] - s["start"] - child[i])
            for i, s in enumerate(self.spans)
        ]

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump(self.spans, f)


def self_time_by_req(spans: list[dict], name: str) -> dict:
    """Summed self time (s) of spans called ``name``, per request id."""
    out: dict = {}
    for s in spans:
        if s["name"] == name:
            out[s["req"]] = out.get(s["req"], 0.0) + s["self"]
    return out


def coverage(spans: list[dict]) -> float:
    """Median over operations of the share of an operation's time that
    named layer spans account for (self times of every span in it but
    the operation's own and the cli entry point's)."""
    return median([
        sum(s["self"] for s in spans
            if s["req"] == op["req"] and s["name"] not in ("op", "cli.main"))
        / op["dur"]
        for op in spans if op["name"] == "op"
    ])


def median(values):
    return percentile(values, 50)


def percentile(values, p: float):
    """Percentile by linear interpolation between the closest ranks
    (numpy's default). A run holds few batch passes, and interpolating
    between the two nearest samples varies less from run to run than
    picking one of them."""
    vals = sorted(values)
    pos = (len(vals) - 1) * p / 100
    lo = int(pos)
    hi = min(lo + 1, len(vals) - 1)
    return vals[lo] + (vals[hi] - vals[lo]) * (pos - lo)


class TreeMemory:
    """Peak summed resident set size (MB) of this process and all its
    descendants (driver, JVM, Python workers), sampled from /proc.

    RSS comes from ``statm``, a constant-time read. Pss
    (``smaps_rollup``) walks the JVM's page tables under its mmap lock,
    30-60 ms a sample, which is a load on the run it measures.

    A process counts only from its second sample on, so short-lived
    children do not: the JVM starts a ``chmod`` for every local parquet
    write, and a child caught before it execs reports the JVM's whole
    RSS as its own. Without this, 2 of 5 ``feature_shave`` runs read
    1.8-2.0 GB against 1.1-1.2 GB; with it, 24 of 24 read 1.0-1.4 GB."""

    def __init__(self, interval: float = 0.2):
        self.interval = interval
        self.peak_kb = 0
        self._last: set = set()
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join()
        self.sample()

    @property
    def peak_mb(self) -> float:
        return self.peak_kb / 1024.0

    def _run(self):
        while not self._stop.wait(self.interval):
            self.sample()

    def sample(self):
        pids = set(_tree(os.getpid()))
        total = sum(_rss_kb(pid) for pid in pids & self._last)
        self._last = pids
        self.peak_kb = max(self.peak_kb, total)


def _tree(root: int) -> list[int]:
    children: dict = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        # the command name may hold spaces; fields resume after its ')'
        ppid = int(stat[stat.rindex(")") + 2:].split()[1])
        children.setdefault(ppid, []).append(int(entry))
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, ()))
    return out


PAGE_KB = os.sysconf("SC_PAGE_SIZE") // 1024


def _rss_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/statm") as f:
            return int(f.read().split()[1]) * PAGE_KB
    except OSError:
        return 0
