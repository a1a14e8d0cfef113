"""Traced-mode instruments: in-memory spans, a py4j round-trip counter and
a Spark event-log reader.

Spans are recorded by the benchmark around its own calls into the
engine's public functions; nothing inside the engine is patched except
the py4j client's ``send_command``, which is wrapped (and restored) to
count gateway round trips.  With tracing off, :class:`Tracer` hands out a
no-op span and records nothing.
"""

from __future__ import annotations

import json
import os
import threading
import time
from contextlib import contextmanager


class Tracer:
    """Spans with name, start, end, parent span and operation id."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self.op: str | None = None
        self._stack: list[int] = []
        self.py4j = Py4jCounter() if enabled else None

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        rec = {"name": name, "op": self.op,
               "parent": self._stack[-1] if self._stack else None,
               "start": time.perf_counter(), "end": None,
               "py4j": self.py4j.count}
        self._stack.append(len(self.spans))
        self.spans.append(rec)
        try:
            yield
        finally:
            self._stack.pop()
            rec["end"] = time.perf_counter()
            rec["py4j"] = self.py4j.count - rec["py4j"]


def self_times(spans: list[dict]) -> list[float]:
    """Self time of each span: its duration minus the part of its interval
    that its child spans cover (overlapping children count once)."""
    children: dict[int, list[tuple[float, float]]] = {}
    for s in spans:
        if s["parent"] is not None:
            children.setdefault(s["parent"], []).append((s["start"], s["end"]))
    out = []
    for i, s in enumerate(spans):
        covered, cur_lo, cur_hi = 0.0, None, None
        for lo, hi in sorted(children.get(i, [])):
            lo, hi = max(lo, s["start"]), min(hi, s["end"])
            if hi <= lo:
                continue
            if cur_hi is None or lo > cur_hi:
                if cur_hi is not None:
                    covered += cur_hi - cur_lo
                cur_lo, cur_hi = lo, hi
            else:
                cur_hi = max(cur_hi, hi)
        if cur_hi is not None:
            covered += cur_hi - cur_lo
        out.append((s["end"] - s["start"]) - covered)
    return out


class Py4jCounter:
    """Counts py4j client commands (one per gateway round trip) by wrapping
    ``send_command`` on both py4j connection classes while installed."""

    def __init__(self):
        self.count = 0
        self._lock = threading.Lock()
        self._saved: list[tuple[type, object]] = []

    def install(self) -> None:
        from py4j import clientserver, java_gateway

        for cls in (clientserver.ClientServerConnection, java_gateway.GatewayConnection):
            orig = cls.send_command
            self._saved.append((cls, orig))
            cls.send_command = self._wrap(orig)

    def _wrap(self, orig):
        counter = self

        def send_command(conn, command, *args, **kwargs):
            with counter._lock:
                counter.count += 1
            return orig(conn, command, *args, **kwargs)

        return send_command

    def uninstall(self) -> None:
        for cls, orig in self._saved:
            cls.send_command = orig
        self._saved.clear()


_TASK_FIELDS = ("run_ms", "cpu_ms", "gc_ms", "input_bytes", "shuffle_write_bytes",
                "shuffle_read_bytes", "spill_bytes")


def event_log_files(log_dir: str, app_id: str) -> list[str]:
    """The files of one application's event log, single or rolling."""
    rolling = os.path.join(log_dir, f"eventlog_v2_{app_id}")
    if not os.path.isdir(rolling):
        return [os.path.join(log_dir, app_id)]
    parts = [f for f in os.listdir(rolling) if f.startswith("events_")]
    return [os.path.join(rolling, f) for f in sorted(parts, key=lambda f: int(f.split("_")[1]))]


def parse_event_log(paths: list[str]) -> dict[str, dict]:
    """Per job group: jobs, stages and tasks run, and summed task metrics
    from a Spark JSON event log."""
    stage_group: dict[int, str] = {}
    groups: dict[str, dict] = {}

    def group(name: str) -> dict:
        return groups.setdefault(name, {"jobs": 0, "stages": set(), "tasks": 0,
                                        **{f: 0 for f in _TASK_FIELDS}})

    for line in _lines(paths):
        ev = json.loads(line)
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            name = (ev.get("Properties") or {}).get("spark.jobGroup.id")
            if name is None:
                continue
            group(name)["jobs"] += 1
            for sid in ev.get("Stage IDs", []):
                stage_group.setdefault(sid, name)
        elif kind == "SparkListenerTaskEnd":
            name = stage_group.get(ev.get("Stage ID"))
            tm = ev.get("Task Metrics")
            if name is None or not tm:
                continue
            g = group(name)
            g["stages"].add(ev["Stage ID"])
            g["tasks"] += 1
            g["run_ms"] += tm.get("Executor Run Time", 0)
            g["cpu_ms"] += tm.get("Executor CPU Time", 0) / 1e6
            g["gc_ms"] += tm.get("JVM GC Time", 0)
            g["input_bytes"] += (tm.get("Input Metrics") or {}).get("Bytes Read", 0)
            sr = tm.get("Shuffle Read Metrics") or {}
            g["shuffle_read_bytes"] += sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
            g["shuffle_write_bytes"] += (tm.get("Shuffle Write Metrics") or {}).get(
                "Shuffle Bytes Written", 0)
            g["spill_bytes"] += tm.get("Memory Bytes Spilled", 0) + tm.get("Disk Bytes Spilled", 0)
    for g in groups.values():
        g["stages"] = len(g["stages"])
    return groups


def _lines(paths: list[str]):
    for path in paths:
        with open(path) as f:
            yield from f
