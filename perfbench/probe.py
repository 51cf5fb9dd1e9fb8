"""Measurement helpers: spans, process-tree RSS, Spark's own metrics.

Spans are recorded from the benchmark's side of each call into a
qfilter module (name, start, end, parent) and kept in memory until the
run ends.  Wrapping is per object (``wrap_methods`` replaces bound
methods on one instance), so nothing in ``qfilter`` is modified.
"""

from __future__ import annotations

import glob
import json
import os
import re
import threading
import time
import urllib.request
from contextlib import contextmanager

now = time.perf_counter


# ----------------------------------------------------------------- spans

class Tracer:
    """In-memory span recorder.  Untraced runs record the same spans:
    the end-to-end wave walls come from them."""

    def __init__(self):
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self.t0 = now()

    @contextmanager
    def span(self, name: str, **attrs):
        sid = len(self.spans)
        rec = {"id": sid, "name": name, "parent": self._stack[-1] if self._stack else None,
               "start": now() - self.t0, "end": None, **attrs}
        self.spans.append(rec)
        self._stack.append(sid)
        try:
            yield rec
        finally:
            self._stack.pop()
            rec["end"] = now() - self.t0

    def wrap_methods(self, obj, prefix: str, names: list[str]) -> None:
        for name in names:
            orig = getattr(obj, name)

            def wrapped(*a, _orig=orig, _name=f"{prefix}.{name}", **k):
                table = a[0] if a and isinstance(a[0], str) else None
                with self.span(_name, table=table):
                    return _orig(*a, **k)

            setattr(obj, name, wrapped)

    def select(self, name: str, since: int = 0) -> list[dict]:
        return [s for s in self.spans[since:] if s["name"] == name]

    def total(self, name: str, since: int = 0, **match) -> float:
        return sum(s["end"] - s["start"] for s in self.select(name, since)
                   if all(s.get(k) == v for k, v in match.items()))

    def self_times(self) -> dict[str, float]:
        """Per span name: duration minus the time its children cover."""
        child = [0.0] * len(self.spans)
        for s in self.spans:
            if s["parent"] is not None and s["end"] is not None:
                child[s["parent"]] += s["end"] - s["start"]
        out: dict[str, float] = {}
        for s in self.spans:
            if s["end"] is not None:
                out[s["name"]] = out.get(s["name"], 0.0) + (s["end"] - s["start"]) - child[s["id"]]
        return out

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump({"spans": self.spans, "self_s": self.self_times()}, f)


# ------------------------------------------------------------------- RSS

_PAGE = os.sysconf("SC_PAGE_SIZE")
_HZ = os.sysconf("SC_CLK_TCK")


def _tree(root: int) -> list[int]:
    """``root`` and all its descendants (Spark JVM, Python workers)."""
    kids: dict[int, list[int]] = {}
    for stat in glob.glob("/proc/[0-9]*/stat"):
        try:
            with open(stat) as f:
                body = f.read()
        except OSError:
            continue
        rest = body[body.rfind(")") + 2 :].split()
        kids.setdefault(int(rest[1]), []).append(int(stat.split("/")[2]))
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(kids.get(pid, ()))
    return out


def tree_rss_bytes(root: int) -> int:
    """Summed RSS of the process tree under ``root``."""
    total = 0
    for pid in _tree(root):
        try:
            with open(f"/proc/{pid}/statm") as f:
                total += int(f.read().split()[1]) * _PAGE
        except OSError:
            pass
    return total


def tree_cpu_s(root: int | None = None) -> float:
    """CPU seconds (user + system, reaped children included) of the
    process tree under ``root`` (default: this process).  Unlike wall
    time it does not count time the host's hypervisor stole."""
    total = 0
    for pid in _tree(root or os.getpid()):
        try:
            with open(f"/proc/{pid}/stat") as f:
                body = f.read()
        except OSError:
            continue
        total += sum(int(x) for x in body[body.rfind(")") + 2 :].split()[11:15])
    return total / _HZ


def steal_s() -> float:
    """Machine-wide CPU time stolen by the hypervisor so far."""
    with open("/proc/stat") as f:
        return int(f.readline().split()[8]) / _HZ


class RssSampler:
    """Background sampler of the process tree's peak RSS."""

    def __init__(self, interval: float = 0.2):
        self.interval = interval
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _loop(self):
        pid = os.getpid()
        while not self._stop.is_set():
            self.peak = max(self.peak, tree_rss_bytes(pid))
            self._stop.wait(self.interval)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join()
        self.peak = max(self.peak, tree_rss_bytes(os.getpid()))


# ------------------------------------------------- Spark's own metrics

_UNITS = {"ns": 1e-9, "ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0,
          "B": 1, "KiB": 1024, "MiB": 1024 ** 2, "GiB": 1024 ** 3, "TiB": 1024 ** 4}
_VALUE = re.compile(r"([0-9][0-9,]*\.?[0-9]*)\s*(ns|ms|s|m|h|B|KiB|MiB|GiB|TiB)?\b")


def parse_metric(text: str) -> float:
    """A SQL-UI metric string ("5.6 MiB", or "total (min, med, max ...)\\n6.4 s (...)")
    as seconds / bytes / a count."""
    body = text.split("\n", 1)[1] if "\n" in text else text
    m = _VALUE.search(body)
    if not m:
        return 0.0
    return float(m.group(1).replace(",", "")) * _UNITS.get(m.group(2) or "", 1)


class SparkRest:
    """Spark's status REST API (traced runs enable the UI on a free
    localhost port).  ``mark`` / ``since`` select what ran in between."""

    def __init__(self, sc):
        self.sc = sc
        self.base = f"{sc.uiWebUrl}/api/v1/applications/{sc.applicationId}"

    def _get(self, path: str):
        with urllib.request.urlopen(self.base + path, timeout=30) as r:
            return json.load(r)

    def settle(self) -> None:
        """Wait until the listener has recorded every job as finished."""
        tracker = self.sc.statusTracker()
        for _ in range(100):
            active = tracker.getActiveJobsIds()
            jobs = self._get("/jobs?status=running")
            if not active and not jobs:
                return
            time.sleep(0.05)

    def mark(self) -> dict:
        self.settle()
        stages = self._get("/stages")
        sql = self._get("/sql?details=false&offset=0&length=100000")
        jobs = self._get("/jobs")
        return {"stage": max([s["stageId"] for s in stages], default=-1),
                "sql": max([e["id"] for e in sql], default=-1),
                "job": max([j["jobId"] for j in jobs], default=-1)}

    def since(self, m: dict) -> dict:
        """Stage, job and SQL-node totals for everything after mark ``m``."""
        self.settle()
        stages = [s for s in self._get("/stages") if s["stageId"] > m["stage"]]
        jobs = [j for j in self._get("/jobs") if j["jobId"] > m["job"]]
        sql = [e for e in self._get("/sql?details=true&planDescription=false&offset=0&length=100000")
               if e["id"] > m["sql"]]
        tot = {
            "jobs": len(jobs),
            "stages": len(stages),
            "tasks": sum(s["numCompleteTasks"] + s["numFailedTasks"] for s in stages),
            "failed_tasks": sum(s["numFailedTasks"] for s in stages),
            "task_s": sum(s["executorRunTime"] for s in stages) / 1e3,
            "cpu_s": sum(s["executorCpuTime"] for s in stages) / 1e9,
            "gc_s": sum(s["jvmGcTime"] for s in stages) / 1e3,
            "shuffle_read_bytes": sum(s["shuffleReadBytes"] for s in stages),
            "shuffle_write_bytes": sum(s["shuffleWriteBytes"] for s in stages),
            "spill_bytes": sum(s["memoryBytesSpilled"] + s["diskBytesSpilled"] for s in stages),
            "input_bytes": sum(s["inputBytes"] for s in stages),
            "output_bytes": sum(s["outputBytes"] for s in stages),
        }
        nodes: dict[str, float] = {}
        for e in sql:
            for n in e.get("nodes", []):
                for mt in n.get("metrics", []):
                    key = f"{n['nodeName']}|{mt['name']}"
                    nodes[key] = nodes.get(key, 0.0) + parse_metric(mt["value"])
        tot["sql_nodes"] = nodes
        return tot


def sql_metric(nodes: dict[str, float], node_prefix: str, name: str) -> float:
    return sum(v for k, v in nodes.items()
               if k.split("|", 1)[0].startswith(node_prefix) and k.split("|", 1)[1] == name)


# ------------------------------------------------------------ statistics

def percentile(xs: list[float], q: float) -> float:
    """Linear-interpolated percentile, q in [0, 1]."""
    s = sorted(xs)
    if len(s) == 1:
        return s[0]
    pos = q * (len(s) - 1)
    lo = int(pos)
    hi = min(lo + 1, len(s) - 1)
    return s[lo] + (s[hi] - s[lo]) * (pos - lo)


def tail(xs: list[float]) -> tuple[float, str]:
    """The highest percentile with at least ten samples beyond it; the
    maximum when fewer than twenty samples exist."""
    n = len(xs)
    for q in (0.999, 0.99, 0.95, 0.9, 0.75, 0.5):
        if n * (1 - q) >= 10:
            return percentile(xs, q), f"p{q * 100:g}"
    return max(xs), "max"
