"""Shared pieces of the benchmark: paths, the operation tally, the
closed-loop runner, window statistics, /proc readers and the
environment every Spark process of a run gets."""

from __future__ import annotations

import os
import statistics
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".wirebench")

# with several connections, a traced run alternates untraced and traced
# time slices of this length
TRACE_SLICE_S = 1.0

# heap of the serving JVM: fixed where it fits, so peak RSS and GC
# behaviour do not follow the host's free memory from run to run
HEAP_MB = 2048


class Ops:
    """Operation tally of one run: every operation issued (warm pass,
    timed window, read-backs) counts as attempted; an exception or a
    wrong result counts as failed."""

    def __init__(self):
        self.attempted = 0
        self.failed = 0
        self.errors: list[str] = []
        self._lock = threading.Lock()

    def run(self, op) -> float:
        """Run ``op``, which returns whether its result checked out, and
        return its latency in seconds."""
        t0 = time.perf_counter()
        try:
            ok, err = bool(op()), "wrong result"
        except Exception as e:  # an operation failure is data, not a crash
            ok, err = False, f"{type(e).__name__}: {e}"
        elapsed = time.perf_counter() - t0
        with self._lock:
            self.attempted += 1
            if not ok:
                self.failed += 1
                if len(self.errors) < 5:
                    self.errors.append(err)
        return elapsed


def closed_loop(ops: Ops, workers: list, seconds: float, toggle=None) -> tuple[list, float]:
    """Run each worker in its own thread until ``seconds`` have passed.

    A worker is an iterator of operation groups; each thread takes its
    next operation only after the previous one completed (a closed loop,
    as a MySQL session waits for each reply). The deadline is checked
    between groups, so a group (a write cycle, a pass over the query
    list) always completes. Returns the latencies of the operations and
    the wall time of the window.

    With ``toggle``, tracing alternates within the window, starting
    untraced, and the latencies come back as ``(traced, seconds)``
    pairs. A single worker alternates whole groups, so both classes
    hold the same statement mix; several workers alternate time slices
    of TRACE_SLICE_S, and an operation belongs to the slice it started
    in. ``toggle(on)`` is called at each switch. Both classes see the
    same warm-up point and the same host, so the difference between
    them is the tracing overhead."""
    latencies: list = []
    start = time.perf_counter()
    deadline = start + seconds
    per_group = toggle is not None and len(workers) == 1

    def drive(worker):
        traced = True  # flipped before each group: the first runs untraced
        for group in worker:
            if time.perf_counter() >= deadline:
                return
            if per_group:
                traced = not traced
                toggle(traced)
            for op in group:
                t0 = time.perf_counter()
                elapsed = ops.run(op)
                if toggle is None:
                    latencies.append(elapsed)
                else:
                    on = traced if per_group else int((t0 - start) / TRACE_SLICE_S) % 2 == 1
                    latencies.append((on, elapsed))

    threads = [threading.Thread(target=drive, args=(w,), daemon=True) for w in workers]
    for t in threads:
        t.start()
    if toggle is not None and not per_group:
        k = 1
        while any(t.is_alive() for t in threads):
            time.sleep(max(0.0, start + k * TRACE_SLICE_S - time.perf_counter()))
            toggle(k % 2 == 1)
            k += 1
    for t in threads:
        t.join()
    if toggle is not None:
        toggle(False)
    return latencies, time.perf_counter() - start


def end_to_end(setup_s: float, latencies: list[float], wall_s: float, peak_rss_mb: float) -> dict:
    """The end-to-end metrics of an untraced run, as ``name: (value,
    unit)``, plus ``_samples`` (how many values each one rests on) and
    ``_info``: figures printed but not judged (DESIGN.md, p90)."""
    if len(latencies) < 2:
        raise RuntimeError(f"only {len(latencies)} operations completed in the window")
    ms = [x * 1e3 for x in latencies]
    n = len(ms)
    return {
        "setup_s": (setup_s, "s"),
        "ops_per_s": (n / wall_s, "1/s"),
        "latency_p50_ms": (statistics.median(ms), "ms"),
        "peak_rss_mb": (peak_rss_mb, "MB"),
        "_samples": {"ops_per_s": n, "latency_p50_ms": n, "latency_p90_ms": n},
        "_info": {"latency_p90_ms": (statistics.quantiles(ms, n=10, method="inclusive")[8], "ms")},
    }


def vm_hwm_mb(*pids: int) -> float:
    """Sum of the peak resident set sizes (VmHWM) of ``pids``."""
    total_kb = 0
    for pid in pids:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    total_kb += int(line.split()[1])
    return total_kb / 1024


def io_write_bytes(*pids: int) -> int:
    total = 0
    for pid in pids:
        with open(f"/proc/{pid}/io") as f:
            for line in f:
                if line.startswith("write_bytes:"):
                    total += int(line.split()[1])
    return total


def _heap_mb() -> int:
    """The serving JVM's heap: HEAP_MB, or a third of the memory this
    host can give (MemAvailable, or the cgroup limit when lower) if
    HEAP_MB does not fit. The heap stays pinned and pre-touched (the
    session's default): an unpinned heap on these hosts showed page-
    fault storms that cost seconds per query."""
    with open("/proc/meminfo") as f:
        avail_mb = next(int(line.split()[1]) // 1024 for line in f if line.startswith("MemAvailable:"))
    try:
        with open("/sys/fs/cgroup/memory.max") as f:
            limit = f.read().strip()
        if limit.isdigit():
            avail_mb = min(avail_mb, int(limit) // 2**20)
    except OSError:
        pass
    if 3 * HEAP_MB <= avail_mb:
        return HEAP_MB
    return max(512, avail_mb // 3 // 256 * 256)


def host_env(run_dir: str) -> dict[str, str]:
    """Environment for a Spark process of this run: heap sized to the
    host, all cores, and every file Spark, the JVM or the engine writes
    kept inside the run directory."""
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    return {
        "SPARK_GRAFT_DRIVER_MEM": f"{_heap_mb()}m",
        "SPARK_GRAFT_PIN_HEAP": "1",
        "SPARK_GRAFT_CPUS": str(len(os.sched_getaffinity(0))),
        "EBIKE_WAREHOUSE_DIR": os.path.join(run_dir, "warehouse"),
        "SPARK_LOCAL_DIRS": os.path.join(run_dir, "spark-local"),
        "TMPDIR": tmp,
        "TZ": "UTC",
        "PYTHONDONTWRITEBYTECODE": "1",
        "JAVA_TOOL_OPTIONS": (
            f"-Djava.io.tmpdir={tmp} -Dderby.system.home={run_dir} -XX:-UsePerfData"
            f" -XX:ErrorFile={run_dir}/hs_err_%p.log"
        ),
    }
