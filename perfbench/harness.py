"""Process plumbing shared by the workloads: the environment the Spark
session starts in, session start/stop, the process-tree sampler (peak
memory, external CPU), the HTTP server in front of the Flask app and its
closed-loop client."""

from __future__ import annotations

import http.client
import json
import logging
import os
import shlex
import subprocess
import sys
import threading
import time
import urllib.parse
from dataclasses import dataclass, field

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def prepare_env(work: str) -> None:
    """Point the program, its Python workers and the JVM at the checkout
    and keep every file they write under ``work``.  Must run before
    pyspark starts a JVM."""
    os.environ["TZ"] = "UTC"
    time.tzset()
    cpus = min(4, os.cpu_count() or 1)
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = "1g"
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    tmp = os.path.join(work, "tmp")
    local = os.path.join(work, "spark-local")
    os.makedirs(tmp, exist_ok=True)
    os.makedirs(local, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = local
    # also reaches the short-lived launcher JVM that spark-submit runs first
    os.environ["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"
    # the whole heap is committed and touched at start, so peak memory
    # does not depend on when the collector chose to grow the heap
    java_opts = f"-Dderby.system.home={tmp} -Xms1g -XX:+AlwaysPreTouch"
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join(
        [
            "--conf spark.ui.showConsoleProgress=false",
            # keep every job of a run in the status store for attribution
            "--conf spark.ui.retainedJobs=20000",
            "--conf spark.ui.retainedStages=40000",
            f"--conf spark.sql.warehouse.dir={shlex.quote(os.path.join(work, 'warehouse'))}",
            "--driver-java-options", shlex.quote(java_opts),
            "pyspark-shell",
        ]
    )
    if ROOT not in sys.path:
        sys.path.insert(0, ROOT)
    logging.getLogger("werkzeug").setLevel(logging.ERROR)


def start_session():
    """(spark, seconds) through the program's own session factory."""
    from kafkastreamsinteractivequeries_spark.session import get_spark

    t0 = time.perf_counter()
    spark = get_spark("perfbench")
    spark.sparkContext.setLogLevel("ERROR")
    return spark, time.perf_counter() - t0


def shutdown_jvm() -> None:
    """Stop Spark, if this process started it, and wait for the JVM to
    exit.  Safe to call twice."""
    if "pyspark" not in sys.modules:
        return
    from pyspark import SparkContext

    if SparkContext._active_spark_context is not None:
        SparkContext._active_spark_context.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        if proc.stdin is not None:
            proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=30)


# ---------------------------------------------------------------------------
# process tree: peak memory and CPU attribution
# ---------------------------------------------------------------------------


def _tree(pid: int) -> list[int]:
    out, stack = [], [pid]
    while stack:
        p = stack.pop()
        out.append(p)
        try:
            for task in os.listdir(f"/proc/{p}/task"):
                with open(f"/proc/{p}/task/{task}/children") as fh:
                    stack.extend(int(k) for k in fh.read().split())
        except OSError:
            pass
    return out


def _pss_kb(pid: int) -> int:
    """Proportional set size: resident pages, each shared page split
    among the processes sharing it, so a child the JVM forks to run a
    shell command is not counted as a second copy of the JVM."""
    try:
        with open(f"/proc/{pid}/smaps_rollup") as fh:
            for line in fh:
                if line.startswith("Pss:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def _comm(pid: int) -> str:
    try:
        with open(f"/proc/{pid}/comm") as fh:
            return fh.read().strip()
    except OSError:
        return "?"


def _jiffies(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/stat") as fh:
            st = fh.read().rsplit(")", 1)[1].split()
        return int(st[11]) + int(st[12])
    except OSError:
        return 0


def cpu_snapshot() -> tuple[int, int, int]:
    """(machine busy jiffies, this process tree's jiffies, steal jiffies).
    Busy includes steal: time the hypervisor gave this VM's CPUs to
    someone else."""
    with open("/proc/stat") as fh:
        vals = [int(x) for x in fh.readline().split()[1:11]]
    busy = sum(vals) - vals[3] - vals[4]
    return busy, sum(_jiffies(p) for p in _tree(os.getpid())), vals[7]


def _capacity(seconds: float) -> float:
    return max(1.0, (os.cpu_count() or 1) * os.sysconf("SC_CLK_TCK") * seconds)


def external_cpu_frac(before, after, seconds: float) -> float:
    """Share of the machine's CPU used outside this process tree between
    snapshots: other processes, interrupts, and steal."""
    return max(0.0, ((after[0] - before[0]) - (after[1] - before[1])) / _capacity(seconds))


def unstolen(before, after) -> float:
    """1 minus the share of this process tree's runnable CPU time that
    the hypervisor gave to other guests between snapshots:
    ``1 - steal / (steal + our CPU)``.  A vCPU accrues steal only while
    it has work, and on a VM running the benchmark that work is ours, so
    a wall time multiplied by this is the time it would have taken with
    no CPU stolen.  1.0 where the kernel reports no steal."""
    steal, ours = after[2] - before[2], after[1] - before[1]
    return 1.0 - steal / (steal + ours) if steal + ours > 0 else 1.0


class MemorySampler:
    """Samples the PSS of this process and all its descendants (Python,
    the JVM, Python workers) and keeps the peak of their sum."""

    def __init__(self, period: float = 0.2):
        self.peak_kb = 0
        self.peak_parts: list[tuple[str, int]] = []
        self._period = period
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, name="memory-sampler", daemon=True)
        self._thread.start()

    def _run(self) -> None:
        while True:
            parts = [(_comm(p), _pss_kb(p)) for p in _tree(os.getpid())]
            total = sum(kb for _c, kb in parts)
            if total > self.peak_kb:
                self.peak_kb, self.peak_parts = total, parts
            if self._stop.wait(self._period):
                return

    def close(self) -> float:
        self._stop.set()
        self._thread.join()
        return self.peak_kb / 1024.0


# ---------------------------------------------------------------------------
# HTTP in front of the Flask app
# ---------------------------------------------------------------------------

TAG_HEADER = "X-Perfbench-Tag"


def instrument_app(app, spark, tracer) -> None:
    """Wrap ``app.wsgi_app``: tag the request's Spark jobs with the id
    the client sent, and span the time inside the app."""
    from perfbench.trace import job_tag

    inner = app.wsgi_app

    def wsgi(environ, start_response):
        tag = environ.get("HTTP_X_PERFBENCH_TAG") or "perfbench:untagged"
        with job_tag(spark, tag), tracer.span("serving.app"):
            return inner(environ, start_response)

    app.wsgi_app = wsgi


class Server:
    """The Flask app on a loopback port, one thread per request."""

    def __init__(self, app):
        from werkzeug.serving import make_server

        self._srv = make_server("127.0.0.1", 0, app, threaded=True)
        self.port = self._srv.server_port
        self._thread = threading.Thread(target=self._srv.serve_forever, name="http", daemon=True)
        self._thread.start()

    def close(self) -> None:
        self._srv.shutdown()
        self._srv.server_close()
        self._thread.join()


def get(port: int, path: str, params: dict | None, tag: str):
    """(status, decoded JSON body) of one GET; a body that is not JSON
    (an unhandled server error) comes back as its ``errorMessage``."""
    if params:
        path = f"{path}?{urllib.parse.urlencode(params)}"
    conn = http.client.HTTPConnection("127.0.0.1", port, timeout=120)
    try:
        conn.request("GET", path, headers={TAG_HEADER: tag})
        resp = conn.getresponse()
        body = resp.read()
    finally:
        conn.close()
    try:
        return resp.status, json.loads(body)
    except ValueError:
        return resp.status, {"errorMessage": body[:200].decode("utf-8", "replace")}


@dataclass
class Outcome:
    """What one workload run hands back to ``run.py``."""

    attempted: int = 0
    failed: int = 0
    failures: list[str] = field(default_factory=list)
    end_to_end: dict[str, tuple[float, str]] = field(default_factory=dict)
    per_layer: dict[str, tuple[float, str]] = field(default_factory=dict)
    report: list[str] = field(default_factory=list)

    def fail(self, what: str) -> None:
        self.failed += 1
        if len(self.failures) < 50:
            self.failures.append(what)
