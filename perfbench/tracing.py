"""Layer attribution from outside the engine.

Three sources, none of which changes the package:

- :class:`CallRecorder` swaps a module's public function for a wrapper
  that counts calls and wall time (``catalog.load_table``,
  ``catalog.register_views``, ``cli.write_partitioned``, ...) and puts
  the original back on :meth:`CallRecorder.restore`;
- :class:`Py4jCounter` counts driver→JVM round-trips;
- :func:`parse_event_log` folds a Spark event log (turned on with
  ``spark.eventLog.enabled`` at JVM launch) into per-job-group totals:
  jobs, stages, tasks, job wall time, task metrics and the Python
  worker SQL metrics.
"""

from __future__ import annotations

import functools
import json
import sys
import time
from collections import defaultdict
from collections.abc import Iterable
from dataclasses import dataclass, field

# Python-worker SQL metrics (PythonSQLMetrics) by accumulable name.
# Timings are millisecond timing metrics; sizes are bytes.
PY_METRICS = {
    "time to start Python workers": "py_boot_ms",
    "time to initialize Python workers": "py_init_ms",
    "time to run Python workers": "py_run_ms",
    "data sent to Python workers": "py_bytes_sent",
    "data returned from Python workers": "py_bytes_received",
}


@dataclass
class GroupStats:
    """Totals over every job of one job group."""

    jobs: int = 0
    stages: int = 0
    tasks: int = 0
    job_ms: float = 0.0  # union of the jobs' [submit, complete] intervals
    input_bytes: int = 0
    shuffle_read_bytes: int = 0
    shuffle_write_bytes: int = 0
    spill_bytes: int = 0
    run_ms: int = 0
    cpu_ns: int = 0
    gc_ms: int = 0
    py_boot_ms: int = 0
    py_init_ms: int = 0
    py_run_ms: int = 0
    py_bytes_sent: int = 0
    py_bytes_received: int = 0
    intervals: list[tuple[int, int]] = field(default_factory=list, repr=False)


def union_ms(intervals: Iterable[tuple[int, int]]) -> float:
    """Length of the union of ``[start, end]`` intervals."""
    total = 0
    cur_lo = cur_hi = None
    for lo, hi in sorted(intervals):
        if cur_hi is None or lo > cur_hi:
            if cur_hi is not None:
                total += cur_hi - cur_lo
            cur_lo, cur_hi = lo, hi
        else:
            cur_hi = max(cur_hi, hi)
    if cur_hi is not None:
        total += cur_hi - cur_lo
    return float(total)


def _num(v) -> int:
    try:
        return int(v)
    except (TypeError, ValueError):
        return 0


def parse_event_log(lines: Iterable[str]) -> dict[str, GroupStats]:
    """Per ``spark.jobGroup.id`` totals from event-log JSON lines.

    Jobs without a group are filed under ``""``. A stage counts once,
    when it completes, so stages a job skipped (their shuffle output
    already existed) do not count.
    """
    job_group: dict[int, str] = {}
    job_start: dict[int, int] = {}
    stage_job: dict[int, int] = {}
    out: dict[str, GroupStats] = defaultdict(GroupStats)
    for line in lines:
        if not line.strip():
            continue
        ev = json.loads(line)
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            jid = ev["Job ID"]
            props = ev.get("Properties") or {}
            group = props.get("spark.jobGroup.id") or ""
            job_group[jid] = group
            job_start[jid] = ev.get("Submission Time", 0)
            for sid in ev.get("Stage IDs", []):
                stage_job.setdefault(sid, jid)
            out[group].jobs += 1
        elif kind == "SparkListenerJobEnd":
            jid = ev["Job ID"]
            if jid in job_group:
                out[job_group[jid]].intervals.append(
                    (job_start[jid], ev.get("Completion Time", job_start[jid]))
                )
        elif kind == "SparkListenerStageCompleted":
            sid = ev["Stage Info"]["Stage ID"]
            jid = stage_job.get(sid)
            if jid is not None:
                out[job_group[jid]].stages += 1
        elif kind == "SparkListenerTaskEnd":
            jid = stage_job.get(ev.get("Stage ID"))
            if jid is None:
                continue
            g = out[job_group[jid]]
            g.tasks += 1
            m = ev.get("Task Metrics") or {}
            g.run_ms += _num(m.get("Executor Run Time"))
            g.cpu_ns += _num(m.get("Executor CPU Time"))
            g.gc_ms += _num(m.get("JVM GC Time"))
            g.spill_bytes += _num(m.get("Memory Bytes Spilled")) + _num(
                m.get("Disk Bytes Spilled")
            )
            g.input_bytes += _num((m.get("Input Metrics") or {}).get("Bytes Read"))
            sr = m.get("Shuffle Read Metrics") or {}
            g.shuffle_read_bytes += _num(sr.get("Remote Bytes Read")) + _num(
                sr.get("Local Bytes Read")
            )
            g.shuffle_write_bytes += _num(
                (m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written")
            )
            for acc in (ev.get("Task Info") or {}).get("Accumulables", []):
                attr = PY_METRICS.get(acc.get("Name"))
                if attr:
                    setattr(g, attr, getattr(g, attr) + _num(acc.get("Update")))
    for g in out.values():
        g.job_ms = union_ms(g.intervals)
    return dict(out)


class CallRecorder:
    """Count and time calls to module-level functions."""

    def __init__(self) -> None:
        self.calls: dict[str, int] = defaultdict(int)
        self.ms: dict[str, float] = defaultdict(float)
        self._saved: list[tuple[object, str, object]] = []

    def wrap(self, name: str, owner, attr: str, *, also_in: str | None = None) -> None:
        """Replace ``owner.attr``. With ``also_in`` (a package prefix),
        also replace every loaded module's own binding of the same
        function, which ``from x import f`` copies at import time."""
        original = getattr(owner, attr)

        @functools.wraps(original)
        def wrapper(*args, **kwargs):
            t0 = time.perf_counter()
            try:
                return original(*args, **kwargs)
            finally:
                self.calls[name] += 1
                self.ms[name] += (time.perf_counter() - t0) * 1000.0

        targets = [owner]
        if also_in:
            targets += [
                mod for mod_name, mod in list(sys.modules.items())
                if mod_name.startswith(also_in) and mod is not owner
                and getattr(mod, attr, None) is original
            ]
        for target in targets:
            self._saved.append((target, attr, original))
            setattr(target, attr, wrapper)

    def restore(self) -> None:
        for target, attr, original in reversed(self._saved):
            setattr(target, attr, original)
        self._saved.clear()

    def reset(self) -> None:
        self.calls.clear()
        self.ms.clear()


class Py4jCounter:
    """Count driver→JVM commands sent through the py4j gateway client."""

    def __init__(self, gateway_client) -> None:
        self.count = 0
        self._client = gateway_client
        original = gateway_client.send_command

        def send_command(*args, **kwargs):
            self.count += 1
            return original(*args, **kwargs)

        gateway_client.send_command = send_command

    def restore(self) -> None:
        del self._client.send_command
