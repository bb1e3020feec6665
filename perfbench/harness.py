"""Measurement loop, the untraced and traced runs, and the metrics
each reports."""

from __future__ import annotations

import time
from dataclasses import dataclass
from pathlib import Path

from stats import median, percentile
from tracing import GroupStats, parse_event_log
from workloads import OpSample, Tracer

MIN_PASSES = 2  # warm passes an interactive run measures, at least

END_TO_END = {
    "setup_s": "s",
    "pass_s": "s",
    "op_p50_ms": "ms",
    "op_p90_ms": "ms",
    "peak_rss_mb": "MiB",
}

PER_LAYER = {
    "catalog.ship_ms": "ms",
    "catalog.load_table.calls": "count",
    "catalog.load_table.ms": "ms",
    "catalog.register_views.calls": "count",
    "catalog.register_views.ms": "ms",
    "queries.build_ms": "ms",
    "queries.py4j_calls": "count",
    "barrier.jobs": "count",
    "barrier.stages": "count",
    "barrier.ms": "ms",
    "plan.analysis_ms": "ms",
    "plan.optimization_ms": "ms",
    "plan.planning_ms": "ms",
    "exec.ms": "ms",
    "exec.jobs": "count",
    "exec.stages": "count",
    "exec.tasks": "count",
    "exec.input_bytes": "bytes",
    "exec.shuffle_read_bytes": "bytes",
    "exec.shuffle_write_bytes": "bytes",
    "exec.spill_bytes": "bytes",
    "exec.executor_run_ms": "ms",
    "exec.executor_cpu_ms": "ms",
    "exec.gc_ms": "ms",
    "python.boot_ms": "ms",
    "python.init_ms": "ms",
    "python.run_ms": "ms",
    "python.bytes_sent": "bytes",
    "python.bytes_received": "bytes",
    "ingest.fetch_calls": "count",
    "ingest.fetch_useful_ratio": "ratio",
    "ingest.records": "count",
    "sinks.write_ms": "ms",
    "sinks.files_written": "count",
    "sinks.bytes_written": "bytes",
    "sinks.bytes_per_row": "bytes/row",
    "driver.gap_ms": "ms",
    "trace.pass_s": "s",
    "trace.overhead_pct": "%",
}


@dataclass
class Pass:
    samples: list[OpSample]
    layers: dict[str, float]
    peak_rss_mb: float  # over the pass itself, its output check left out


def run_checked_pass(session, tracer: Tracer | None = None) -> Pass:
    """One pass, then (untimed) its output check. The memory peak is
    restarted before the pass and read before the check, so the
    benchmark's own inputs, collected rows and DuckDB oracle do not
    set it."""
    wl = session.workload
    write_ms = tracer.calls.ms["sinks.write"] if tracer else 0.0
    session.reset_peak_rss()
    samples = wl.run_pass(session.spark, tracer)
    peak_rss_mb = session.peak_rss_mb()
    bad, layers = wl.after_pass()
    for s in samples:
        if bad.get(s.op) and not s.error:
            s.error = f"output check: {bad[s.op]}"
    if tracer is not None:
        layers["sinks.write_ms"] = tracer.calls.ms["sinks.write"] - write_ms
    return Pass(samples, layers, peak_rss_mb)


@dataclass
class Phase:
    """One fresh JVM: its set-up, every pass it ran, and the passes
    that count for latency."""

    setup_s: float
    passes: list[Pass]
    measured: list[Pass]
    ship_ms: float
    wall_s: float  # the whole phase, JVM launch to JVM exit

    def op_ms(self) -> dict[str, float]:
        """Each op's latency: its median over the measured passes."""
        runs: dict[str, list[float]] = {}
        for p in self.measured:
            for s in p.samples:
                runs.setdefault(s.op, []).append(s.ms)
        return {op: median(ms) for op, ms in runs.items()}

    def pass_s(self) -> float:
        """Median over the measured passes of the sum of their ops' times."""
        return median([sum(s.ms for s in p.samples) / 1000.0 for p in self.measured])

    def peak_rss_mb(self) -> float:
        """Peak resident memory over the measured passes."""
        return max(p.peak_rss_mb for p in self.measured)


def run_phase(session, seconds: float, tracer_cls=None, min_passes: int = MIN_PASSES) -> Phase:
    """Launch the JVM, set up the session, measure, shut the JVM down.

    Closed loop, one client. A batch workload (a fresh process per job)
    measures its first pass. An interactive workload (a long-lived
    session) runs a cold first pass, which warms caches and is left
    out, then measures passes back to back until it has at least
    ``min_passes`` of them and ``seconds`` of op time."""
    wl = session.workload
    t0 = time.perf_counter()
    try:
        setup_s = session.setup()
        tracer = tracer_cls(session.spark) if tracer_cls else None
        passes: list[Pass] = []
        spent = 0.0
        try:
            passes.append(run_checked_pass(session, tracer))
            while wl.interactive and (len(passes) <= min_passes or spent < seconds):
                passes.append(run_checked_pass(session, tracer))
                spent += sum(s.ms for s in passes[-1].samples) / 1000.0
        finally:
            if tracer is not None:
                tracer.close()
    finally:
        session.shutdown()
    measured = passes[1:] if wl.interactive else passes
    return Phase(setup_s, passes, measured, session.ship_ms, time.perf_counter() - t0)


def _failures(passes: list[Pass]) -> tuple[int, int, list[str]]:
    """Ops attempted and failed (raised, or failed the output check)."""
    attempted = failed = 0
    lines = []
    for p in passes:
        for s in p.samples:
            attempted += 1
            if s.error:
                failed += 1
                lines.append(f"FAIL {s.op}: {s.error[:300]}")
    return attempted, failed, lines


def _result(name: str, metrics: dict[str, float], units: dict[str, str],
            passes: list[Pass], notes: list[str]) -> dict:
    attempted, failed, lines = _failures(passes)
    summary = [f"{name}: {attempted} ops attempted, {failed} failed "
               f"(failed_frac {failed / attempted:.4f})", *lines, *notes]
    summary += [f"  {k} = {v:.6g} {units[k]}" for k, v in metrics.items()]
    return {
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()},
        "summary": summary,
    }


def untraced_run(session, seconds: float, name: str) -> dict:
    """End-to-end metrics from one untraced phase."""
    ph = run_phase(session, seconds)
    op_ms = ph.op_ms()
    metrics = {
        "setup_s": ph.setup_s,
        "pass_s": ph.pass_s(),
        "op_p50_ms": percentile(list(op_ms.values()), 50),
        "op_p90_ms": percentile(list(op_ms.values()), 90),
        "peak_rss_mb": ph.peak_rss_mb(),
    }
    notes = [f"  set-up {ph.setup_s:.3f} s; {len(ph.measured)} measured passes; "
             f"JVM phase {ph.wall_s:.1f} s"]
    notes += [f"    pass {i}: " + ", ".join(f"{s.op} {s.ms:.0f}" for s in p.samples)
              + " ms" for i, p in enumerate(ph.passes)]
    return _result(name, metrics, END_TO_END, ph.passes, notes)


def traced_run(session, seconds: float, name: str, eventlog_dir: Path) -> dict:
    """Per-layer metrics. Two phases, each in a fresh JVM: untraced,
    then traced (event log on at JVM launch, layer functions wrapped,
    job groups set). The gap between their pass times is the tracing
    overhead. The phases share ``seconds`` and measure one warm pass
    at least, which keeps a traced run within twice an untraced one."""
    plain = run_phase(session, seconds / 2, min_passes=1)
    session.trace = True
    traced = run_phase(session, seconds / 2, Tracer, min_passes=1)
    metrics = layer_metrics(traced.measured, parse_event_log(_lines(eventlog_dir)))
    metrics["catalog.ship_ms"] = traced.ship_ms
    metrics["trace.pass_s"] = traced.pass_s()
    metrics["trace.overhead_pct"] = (traced.pass_s() / plain.pass_s() - 1.0) * 100.0
    notes = [f"  tracing overhead: traced pass {traced.pass_s():.3f} s vs untraced "
             f"{plain.pass_s():.3f} s"]
    metrics = {k: float(metrics.get(k, 0.0)) for k in PER_LAYER}
    return _result(name, metrics, PER_LAYER, plain.passes + traced.passes, notes)


def _lines(directory: Path):
    for path in sorted(directory.iterdir()):
        with open(path) as fh:
            yield from fh


def sample_layers(s: OpSample, groups: dict[str, GroupStats]) -> dict[str, float]:
    """One op's layer split: its build-phase jobs are barriers, its
    sink-phase jobs the final plan's execution; task counters cover
    both; the driver gap is what no layer accounts for."""
    b = groups.get(s.build_group) or GroupStats()
    e = groups.get(s.exec_group) or GroupStats()
    out = {k: v for k, v in s.layers.items() if k != "fn_ms"}
    fn_ms = s.layers.get("fn_ms")
    out.update({
        "barrier.jobs": b.jobs,
        "barrier.stages": b.stages,
        "barrier.ms": b.job_ms,
        "queries.build_ms": fn_ms - b.job_ms if fn_ms is not None else 0.0,
        "exec.ms": e.job_ms,
        "exec.jobs": e.jobs,
        "exec.stages": e.stages,
        "exec.tasks": b.tasks + e.tasks,
        "exec.input_bytes": b.input_bytes + e.input_bytes,
        "exec.shuffle_read_bytes": b.shuffle_read_bytes + e.shuffle_read_bytes,
        "exec.shuffle_write_bytes": b.shuffle_write_bytes + e.shuffle_write_bytes,
        "exec.spill_bytes": b.spill_bytes + e.spill_bytes,
        "exec.executor_run_ms": b.run_ms + e.run_ms,
        "exec.executor_cpu_ms": (b.cpu_ns + e.cpu_ns) / 1e6,
        "exec.gc_ms": b.gc_ms + e.gc_ms,
        "python.boot_ms": b.py_boot_ms + e.py_boot_ms,
        "python.init_ms": b.py_init_ms + e.py_init_ms,
        "python.run_ms": b.py_run_ms + e.py_run_ms,
        "python.bytes_sent": b.py_bytes_sent + e.py_bytes_sent,
        "python.bytes_received": b.py_bytes_received + e.py_bytes_received,
    })
    accounted = (fn_ms if fn_ms is not None else b.job_ms) + e.job_ms
    accounted += out.get("plan.optimization_ms", 0.0) + out.get("plan.planning_ms", 0.0)
    out["driver.gap_ms"] = s.ms - accounted
    return out


def layer_metrics(passes: list[Pass], groups: dict[str, GroupStats]) -> dict[str, float]:
    """Per-pass layer totals: for each metric, each op's median over its
    traced runs, summed over the ops; pass-level counters by median."""
    per_op: dict[str, dict[str, list[float]]] = {}
    for p in passes:
        for s in p.samples:
            if s.error:
                continue
            for k, v in sample_layers(s, groups).items():
                per_op.setdefault(s.op, {}).setdefault(k, []).append(float(v))
    out: dict[str, float] = {}
    for series in per_op.values():
        for k, vs in series.items():
            out[k] = out.get(k, 0.0) + median(vs)
    keys = {k for p in passes for k in p.layers}
    for k in keys:
        out[k] = median([p.layers[k] for p in passes if k in p.layers])
    return out
