"""Layer tracing for the traced run.

Wrappers installed around the public entry points of each layer record
spans in memory: name, start, end, parent span and statement id. A
layer's self time is its span minus the time its child spans cover, so
the self times of one statement add up to its root span. Counters
(packets, bytes, catalog calls) are attributed to the statement that is
running on the calling thread.

Spark counters come from public APIs, read once at the end of the
traced window after the listener bus has drained: the statement's
``QueryExecution`` tracker phases, the jobs of the per-statement job
group that the root wrapper sets (``statusTracker``), and each stage's
task, shuffle-write and spill totals from the application status store.

Nothing here changes what the program computes. The wrappers are
installed only in a traced run, after its warm pass; a statement is
traced only if it starts while ``Tracer.enabled`` is set.
"""

from __future__ import annotations

import collections
import functools
import itertools
import sys
import threading
import time
import types

from py4j.protocol import Py4JJavaError


class Span:
    __slots__ = ("name", "start", "end", "parent", "stmt", "child_s")

    def __init__(self, name, start, parent, stmt):
        self.name = name
        self.start = start
        self.end = start
        self.parent = parent
        self.stmt = stmt
        self.child_s = 0.0

    @property
    def self_s(self) -> float:
        return self.end - self.start - self.child_s


class Tracer:
    def __init__(self, spark):
        self.spark = spark
        self.spans: list[Span] = []
        self.counts: dict[int, collections.Counter] = collections.defaultdict(collections.Counter)
        self.frames: list[tuple[int, object]] = []  # (stmt, DataFrame) whose tracker to read
        self.stmts: list[int] = []
        self.global_counts = collections.Counter()
        # statements start traced only while this is set; a statement
        # that started untraced stays untraced to its end
        self.enabled = False
        self._ids = itertools.count(1)
        self._local = threading.local()

    # ---------------------------------------------------------- spans

    def _stack(self) -> list:
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    def current_stmt(self) -> int | None:
        st = self._stack()
        return st[-1].stmt if st else None

    def _open(self, name: str, root: bool) -> Span | None:
        st = self._stack()
        if root and not st:
            if not self.enabled:
                return None
            stmt = next(self._ids)
            self.stmts.append(stmt)
            # per-statement job group: Spark's own counters are then
            # attributable to this statement
            self.spark.sparkContext.setJobGroup(f"wirebench-{stmt}", name)
        elif st:
            stmt = st[-1].stmt
        else:
            return None  # outside any statement: not a traced layer call
        span = Span(name, time.perf_counter(), st[-1] if st else None, stmt)
        st.append(span)
        return span

    def _close(self, span: Span) -> None:
        span.end = time.perf_counter()
        self._stack().pop()
        if span.parent is not None:
            span.parent.child_s += span.end - span.start
        else:
            # an untraced statement on this thread must not inherit the group
            self.spark.sparkContext.setLocalProperty("spark.jobGroup.id", None)
        self.spans.append(span)

    def add_child_time(self, name: str, seconds: float) -> None:
        """Record time spent in a child layer as one aggregated span
        under the current span (used for the per-row result fetch)."""
        st = self._stack()
        if not st:
            return
        parent = st[-1]
        span = Span(name, parent.start, parent, parent.stmt)
        span.end = parent.start + seconds
        parent.child_s += seconds
        self.spans.append(span)

    def count(self, name: str, value: float = 1) -> None:
        stmt = self.current_stmt()
        if stmt is not None:
            self.counts[stmt][name] += value

    # ------------------------------------------------------- wrappers

    def wrap(self, owner, attr: str, name: str, root: bool = False) -> None:
        """Replace ``owner.attr`` with a span-recording wrapper."""
        fn = getattr(owner, attr)
        tracer = self

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            span = tracer._open(name, root)
            if span is None:
                return fn(*args, **kwargs)
            try:
                return fn(*args, **kwargs)
            finally:
                tracer._close(span)

        setattr(owner, attr, traced)

    def wrap_counter(self, owner, attr: str, name: str) -> None:
        """Count calls to ``owner.attr`` per statement, except calls made
        from inside another counted call of the same name."""
        fn = getattr(owner, attr)
        tracer = self
        depth_key = "depth_" + name

        @functools.wraps(fn)
        def counted(*args, **kwargs):
            depth = getattr(tracer._local, depth_key, 0)
            if depth == 0:
                tracer.count(name)
            setattr(tracer._local, depth_key, depth + 1)
            try:
                return fn(*args, **kwargs)
            finally:
                setattr(tracer._local, depth_key, depth)

        setattr(owner, attr, counted)

    def wrap_everywhere(self, fn, name: str) -> None:
        """Wrap a function in its defining module and in every loaded
        module that imported it by name; count and time each call,
        inside or outside a statement."""
        tracer = self

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            t0 = time.perf_counter()
            try:
                return fn(*args, **kwargs)
            finally:
                tracer.global_counts[name + "_calls"] += 1
                tracer.global_counts[name + "_s"] += time.perf_counter() - t0

        for mod in list(sys.modules.values()):
            if getattr(mod, fn.__name__, None) is fn:
                setattr(mod, fn.__name__, traced)

    # -------------------------------------------------------- reading

    def _spark_counters(self) -> dict[int, collections.Counter]:
        sc = self.spark.sparkContext
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        tracker = sc.statusTracker()
        store = sc._jsc.sc().statusStore()
        out: dict[int, collections.Counter] = collections.defaultdict(collections.Counter)
        for stmt in self.stmts:
            c = out[stmt]
            for job in tracker.getJobIdsForGroup(f"wirebench-{stmt}"):
                info = tracker.getJobInfo(job)
                if info is None:
                    continue
                c["spark.jobs"] += 1
                for stage in info.stageIds:
                    try:
                        data = store.lastStageAttempt(stage)
                    except Py4JJavaError:  # evicted from the status store
                        continue
                    c["spark.stages"] += 1
                    c["spark.tasks"] += data.numTasks()
                    c["spark.shuffle_write_bytes"] += data.shuffleWriteBytes()
                    c["spark.spill_bytes"] += data.memoryBytesSpilled() + data.diskBytesSpilled()
        for stmt, df in self.frames:
            phases = df._jdf.queryExecution().tracker().phases()
            for phase in ("analysis", "optimization", "planning"):
                got = phases.get(phase)
                if got.isDefined():
                    out[stmt][f"spark.{phase}_ms"] += got.get().durationMs()
        return out

    def report(self) -> dict:
        """Per-statement totals: ``{"stmts": n, "self_ms": {span name:
        total self ms}, "root_ms": total root span ms, "counts": {name:
        total}, "global": {...}}``."""
        self_ms = collections.Counter()
        root_ms = 0.0
        for span in self.spans:
            self_ms[span.name] += span.self_s * 1e3
            if span.parent is None:
                root_ms += (span.end - span.start) * 1e3
        counts = collections.Counter()
        for c in self.counts.values():
            counts.update(c)
        for c in self._spark_counters().values():
            counts.update(c)
        return {
            "stmts": len(self.stmts),
            "self_ms": dict(self_ms),
            "root_ms": root_ms,
            "counts": dict(counts),
            "global": dict(self.global_counts),
        }


def _wrap_fetch(tracer: Tracer, df_cls) -> None:
    """Time the result fetch: the ``toLocalIterator`` call (which plans
    the query) plus every blocking ``next`` on the returned iterator,
    recorded as one aggregated ``spark.fetch`` child span."""
    orig = df_cls.toLocalIterator

    @functools.wraps(orig)
    def to_local_iterator(self, *args, **kwargs):
        if tracer.current_stmt() is None:
            return orig(self, *args, **kwargs)
        tracer.frames.append((tracer.current_stmt(), self))
        t0 = time.perf_counter()
        it = orig(self, *args, **kwargs)
        first = time.perf_counter() - t0

        def timed():
            spent = first
            try:
                while True:
                    t = time.perf_counter()
                    try:
                        row = next(it)
                    except StopIteration:
                        spent += time.perf_counter() - t
                        return
                    spent += time.perf_counter() - t
                    yield row
            finally:
                tracer.add_child_time("spark.fetch", spent)

        return timed()

    df_cls.toLocalIterator = to_local_iterator


def _wrap_packets(tracer: Tracer, conn_cls) -> None:
    orig = conn_cls.write_packet

    @functools.wraps(orig)
    def write_packet(self, payload: bytes) -> None:
        tracer.count("server.packets_out", 1 + len(payload) // 0xFFFFFF)
        tracer.count("server.bytes_out", len(payload) + 4 * (1 + len(payload) // 0xFFFFFF))
        return orig(self, payload)

    conn_cls.write_packet = write_packet


def install_server_tracer(spark) -> Tracer:
    """Wrap the server, engine and Spark-fetch entry points inside the
    server process."""
    from ebike_spark.engine import dml
    from ebike_spark.engine.catalog import Catalog
    from ebike_spark.engine.engine import Engine
    from ebike_spark.server import _Conn

    tracer = Tracer(spark)
    tracer.wrap(_Conn, "_com_query", "server.command", root=True)
    tracer.wrap(_Conn, "send_result", "server.encode")
    _wrap_packets(tracer, _Conn)
    _wrap_fetch(tracer, type(spark.range(0)))
    tracer.wrap(Engine, "execute", "engine.execute")
    tracer.wrap(Engine, "_fix_select", "engine.rewrite")
    for fn in ("insert", "update", "delete"):
        tracer.wrap(dml, fn, "engine.dml")
    for attr, value in list(vars(Catalog).items()):
        if isinstance(value, types.FunctionType) and not attr.startswith("__"):
            tracer.wrap_counter(Catalog, attr, "engine.catalog_calls")
    return tracer
