"""Spans, counters and the outside views of Spark the traced run reads:
the local status REST API (jobs and stages by job group) and the
process tree's resident memory.

Spans are kept in memory and written out once, at the end of a run.
"""

from __future__ import annotations

import json
import os
import threading
import urllib.request
from dataclasses import asdict, dataclass, field

from stats import self_time


@dataclass
class Span:
    id: int
    name: str
    start: float
    end: float
    parent: int | None = None
    attrs: dict = field(default_factory=dict)


class Tracer:
    """In-memory span tree. A span's parent is the span that caused it:
    run → query → build/exec → Spark job, and stream run → micro-batch."""

    def __init__(self) -> None:
        self.spans: list[Span] = []

    def add(self, name: str, start: float, end: float, parent: int | None = None, **attrs) -> int:
        sid = len(self.spans)
        self.spans.append(Span(sid, name, start, end, parent, attrs))
        return sid

    def children(self, sid: int) -> list[Span]:
        return [s for s in self.spans if s.parent == sid]

    def self_time(self, sid: int) -> float:
        s = self.spans[sid]
        return self_time(s.start, s.end, [(c.start, c.end) for c in self.children(sid)])

    def dump(self, path: str) -> None:
        rows = [dict(asdict(s), self_s=self.self_time(s.id)) for s in self.spans]
        with open(path, "w") as f:
            json.dump(rows, f)


class SparkStatus:
    """Jobs and stages from the driver's status REST API on localhost."""

    def __init__(self, spark) -> None:
        sc = spark.sparkContext
        self.base = f"{sc.uiWebUrl}/api/v1/applications/{sc.applicationId}"

    def _get(self, path: str):
        with urllib.request.urlopen(self.base + path, timeout=30) as r:
            return json.load(r)

    def jobs(self) -> list[dict]:
        return self._get("/jobs")

    def stages(self) -> dict[int, dict]:
        """Every attempt's metrics summed per stage id."""
        out: dict[int, dict] = {}
        for st in self._get("/stages?status=complete") + self._get("/stages?status=failed"):
            out.setdefault(st["stageId"], []).append(st)
        return {sid: _sum_attempts(atts) for sid, atts in out.items()}


_STAGE_KEYS = (
    "numTasks", "numFailedTasks", "executorRunTime", "inputBytes", "inputRecords",
    "shuffleReadBytes", "shuffleWriteBytes", "memoryBytesSpilled", "diskBytesSpilled",
)


def _sum_attempts(attempts: list[dict]) -> dict:
    return {k: sum(a.get(k, 0) for a in attempts) for k in _STAGE_KEYS}


def parse_spark_time(s: str) -> float:
    """REST timestamps (``2026-01-01T00:00:00.123GMT``) → epoch seconds."""
    from datetime import datetime, timezone

    dt = datetime.strptime(s.replace("GMT", ""), "%Y-%m-%dT%H:%M:%S.%f")
    return dt.replace(tzinfo=timezone.utc).timestamp()


def process_tree_rss_mb(root_pid: int) -> float:
    """Resident memory of ``root_pid`` and all its descendants: the
    driver Python process, the JVM it launched and the JVM's Python
    workers. Each process counts its proportional set size (PSS), so
    pages that forked workers share with their parent count once."""
    children: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, ValueError, IndexError):
            continue
        children.setdefault(ppid, []).append(int(entry))
    total_kb, todo = 0, [root_pid]
    while todo:
        pid = todo.pop()
        total_kb += _pss_kb(pid)
        todo.extend(children.get(pid, ()))
    return total_kb / 1024


def _pss_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/smaps_rollup") as f:
            for line in f:
                if line.startswith("Pss:"):
                    return int(line.split()[1])
    except OSError:
        pass  # the process ended between listing and reading
    return 0


class RssSampler:
    """Samples the process tree's resident memory every ``period`` seconds
    on one daemon thread; ``peak_mb`` is the largest sum seen. One sample
    costs about 20 ms of CPU, so the period stays long."""

    def __init__(self, period: float = 1.0) -> None:
        self.period = period
        self.peak_mb = 0.0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, name="rss-sampler", daemon=True)

    def _run(self) -> None:
        pid = os.getpid()
        while not self._stop.is_set():
            self.peak_mb = max(self.peak_mb, process_tree_rss_mb(pid))
            self._stop.wait(self.period)

    def __enter__(self) -> RssSampler:
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()
        self.peak_mb = max(self.peak_mb, process_tree_rss_mb(os.getpid()))


def load_avg_1m() -> float:
    return os.getloadavg()[0]
