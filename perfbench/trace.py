"""Tracing from the benchmark's side of each layer boundary.

Spans are recorded around calls INTO the program's modules by wrapping
their public functions for the length of a run; the program itself is
not edited.  Spans live in memory and are summarised when the run ends.
Job tags (``workload:key`` / ``workload:route:request``) and the Spark
status store attribute stage metrics to the request or key that caused
them."""

from __future__ import annotations

import contextlib
import functools
import itertools
import threading
import time


class Tracer:
    """Span recorder.  Disabled, ``span`` is a no-op and ``wrap``
    installs nothing, so the untraced run executes the program's own
    functions."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[tuple] = []  # (id, parent, name, start, end, thread)
        self._ids = itertools.count(1)
        self._local = threading.local()
        self._lock = threading.Lock()
        self._undo: list = []

    @contextlib.contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        stack = getattr(self._local, "stack", None)
        if stack is None:
            stack = self._local.stack = []
        sid = next(self._ids)
        parent = stack[-1] if stack else None
        stack.append(sid)
        start = time.perf_counter()
        try:
            yield
        finally:
            end = time.perf_counter()
            stack.pop()
            with self._lock:
                self.spans.append((sid, parent, name, start, end, threading.get_ident()))

    def wrap(self, owner, attr: str, name: str) -> None:
        """Replace ``owner.attr`` by a spanned call until ``restore``."""
        if not self.enabled:
            return
        orig = getattr(owner, attr)

        @functools.wraps(orig)
        def spanned(*args, **kwargs):
            with self.span(name):
                return orig(*args, **kwargs)

        setattr(owner, attr, spanned)
        self._undo.append((owner, attr, orig))

    def restore(self) -> None:
        while self._undo:
            owner, attr, orig = self._undo.pop()
            setattr(owner, attr, orig)

    def durations(self, name: str, since: float = 0.0) -> list[float]:
        """Durations in seconds of the spans called ``name`` that started
        at or after ``since``."""
        return [e - s for _i, _p, n, s, e, _t in self.spans if n == name and s >= since]

    def count(self, name: str, since: float = 0.0) -> int:
        return len(self.durations(name, since))


def install_layer_spans(tracer: Tracer) -> None:
    """Span the public entry points of each program module the
    workloads call into.  Names follow ``<layer>.<function>``."""
    if not tracer.enabled:
        return
    import __spark_entry__ as entry_mod
    from kafkastreamsinteractivequeries_spark import sources
    from kafkastreamsinteractivequeries_spark.plans import queries, service
    from kafkastreamsinteractivequeries_spark.sources import tables
    from kafkastreamsinteractivequeries_spark.streaming import pipeline

    svc = service.InteractiveQueryService
    tracer.wrap(svc, "execute_response", "plans.execute")
    tracer.wrap(svc, "execute_page", "plans.execute")
    # compile_predicate is imported by name into plans.queries, which is
    # where every query object calls it from
    tracer.wrap(queries, "compile_predicate", "functions.compile")
    sink = pipeline.ManifestServingSink
    tracer.wrap(sink, "__call__", "streaming.sink_commit")
    tracer.wrap(sink, "read", "streaming.snapshot_read")
    for owner in (tables, sources, entry_mod):
        tracer.wrap(owner, "load_table", "sources.load_table")


class Py4jCounter:
    """Counts py4j round trips from this process to the JVM by wrapping
    the gateway client's ``send_command``."""

    def __init__(self, spark, enabled: bool):
        self.calls = 0
        self._client = None
        if not enabled:
            return
        client = spark.sparkContext._gateway._gateway_client
        orig = client.send_command

        def counted(*args, **kwargs):
            self.calls += 1
            return orig(*args, **kwargs)

        client.send_command = counted
        self._client = client

    def close(self) -> None:
        if self._client is not None:
            del self._client.send_command
            self._client = None


@contextlib.contextmanager
def job_tag(spark, tag: str):
    """Tag every Spark job this thread launches inside the block."""
    sc = spark.sparkContext
    sc.addJobTag(tag)
    try:
        yield
    finally:
        sc.removeJobTag(tag)


def _opt_ms(opt) -> float | None:
    return float(opt.get().getTime()) if opt.isDefined() else None


def job_metrics(spark, prefix: str) -> dict[str, list[dict]]:
    """Stage metrics of every retained job carrying a tag that starts
    with ``prefix``, grouped by tag.  Waits for the listener bus first,
    since the status store is filled asynchronously."""
    sc = spark.sparkContext
    jsc = sc._jsc.sc()
    jsc.listenerBus().waitUntilEmpty()
    store = jsc.statusStore()
    tracker = sc.statusTracker()
    out: dict[str, list[dict]] = {}
    jobs = store.jobsList(None)
    it = jobs.iterator()
    while it.hasNext():
        jd = it.next()
        tags = [t for t in _seq(jd.jobTags()) if t.startswith(prefix)]
        if not tags:
            continue
        sub, done = _opt_ms(jd.submissionTime()), _opt_ms(jd.completionTime())
        rec = {
            "job": jd.jobId(),
            # epoch milliseconds; a job still running has no end yet
            "span_ms": (sub, done if done is not None else sub) if sub is not None else (0.0, 0.0),
            "tasks": 0, "cpu_s": 0.0, "input_records": 0, "shuffle_write_b": 0,
            "spill_b": 0, "peak_mem_b": 0,
        }
        info = tracker.getJobInfo(jd.jobId())
        for sid in (info.stageIds if info is not None else []):
            try:
                sd = store.lastStageAttempt(sid)
            except Exception:  # stage evicted from the status store
                continue
            rec["tasks"] += sd.numCompleteTasks()
            rec["cpu_s"] += sd.executorCpuTime() / 1e9
            rec["input_records"] += sd.inputRecords()
            rec["shuffle_write_b"] += sd.shuffleWriteBytes()
            rec["spill_b"] += sd.memoryBytesSpilled() + sd.diskBytesSpilled()
            rec["peak_mem_b"] = max(rec["peak_mem_b"], sd.peakExecutionMemory())
        for t in tags:
            out.setdefault(t, []).append(rec)
    return out


def _seq(scala_seq) -> list:
    it = scala_seq.iterator()
    out = []
    while it.hasNext():
        out.append(it.next())
    return out
