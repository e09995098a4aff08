"""Per-layer metrics of a traced run, from the tracer's report.

Every ``*_ms`` metric of a span is a mean self time per traced
operation: the span's time minus the time its child spans cover. The self times of an operation add up to its root span
(``server.command`` on the wire, the registry call plus ``.count()`` in
``analytics``); ``trace.unaccounted_ms`` is what the client saw beyond
the root span (socket, client decoding, the server's packet read).
Counts are means per operation too, except ``sources.*``, which count
the whole run: plan builds, and so table loads, happen in the warm pass.
Catalyst phases come from each statement's ``QueryExecution`` tracker;
they overlap the spans (analysis runs inside ``engine.execute``,
optimization and planning inside ``spark.fetch``), so they are not part
of the sum.
"""

from __future__ import annotations

import statistics

# metric -> the span whose self time it reports
SELF_TIMES = {
    "server.command_ms": "server.command",
    "server.encode_ms": "server.encode",
    "engine.execute_ms": "engine.execute",
    "engine.rewrite_ms": "engine.rewrite",
    "engine.dml_ms": "engine.dml",
    "spark.fetch_ms": "spark.fetch",
    "spark.exec_ms": "spark.exec",
    "plans.build_ms": "plans.build",
}
# metric -> unit, for counters summed per statement
COUNTS = {
    "server.bytes_out": "bytes",
    "server.packets_out": "count",
    "engine.catalog_calls": "count",
    "spark.analysis_ms": "ms",
    "spark.optimization_ms": "ms",
    "spark.planning_ms": "ms",
    "spark.jobs": "count",
    "spark.stages": "count",
    "spark.tasks": "count",
    "spark.shuffle_write_bytes": "bytes",
    "spark.spill_bytes": "bytes",
}


def layer_metrics(
    report: dict,
    samples: list[tuple[bool, float]],
    *,
    write_bytes: int,
    changed_bytes: int,
    session_start_s: float,
    heap_mb: float,
    canary_s: float,
) -> dict:
    """``samples`` are ``(traced, seconds)`` per operation of the window,
    whose traced and untraced slices alternate (harness.closed_loop).
    ``write_bytes`` and ``changed_bytes`` cover the whole window."""
    traced = [x for on, x in samples if on]
    plain = [x for on, x in samples if not on]
    n = report["stmts"]  # statements the server (or the in-process caller) traced
    if not traced or not plain or not n:
        raise RuntimeError("a traced run needs operations in both slice classes")
    self_ms = report["self_ms"]
    counts = report["counts"]
    m = {name: (self_ms.get(span, 0.0) / n, "ms") for name, span in SELF_TIMES.items()}
    m.update({name: (counts.get(name, 0) / n, unit) for name, unit in COUNTS.items()})
    m["storage.write_bytes"] = (write_bytes / len(samples), "bytes")
    m["storage.write_amplification"] = (write_bytes / changed_bytes if changed_bytes else 0.0, "ratio")
    m["sources.load_calls"] = (report["global"].get("sources.load_calls", 0), "count")
    m["sources.load_ms"] = (report["global"].get("sources.load_s", 0.0) * 1e3, "ms")
    m["session.start_s"] = (session_start_s, "s")
    m["session.heap_mb"] = (heap_mb, "MB")
    m["host.canary_s"] = (canary_s, "s")
    mean_ms = statistics.fmean(traced) * 1e3
    root_ms = report["root_ms"] / n
    m["trace.accounted_share"] = (root_ms / mean_ms, "ratio")
    m["trace.unaccounted_ms"] = (mean_ms - root_ms, "ms")
    m["trace.overhead_ms"] = ((statistics.median(traced) - statistics.median(plain)) * 1e3, "ms")
    m["trace.ops"] = (n, "count")
    m["_samples"] = dict.fromkeys(m, n)
    return m
