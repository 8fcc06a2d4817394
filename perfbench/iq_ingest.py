"""``iq_ingest``: reads beside writes on the live serving store.

``streaming.pipeline.start_transactional_serving_pipeline`` consumes a
file source.  The generator writes one file every ``INTERVAL_S``
seconds on an open-loop schedule, spread Zipf-wise over ``N_SYMBOLS``
symbols.  Three closed-loop readers query the Flask app over a
``LiveSnapshotQueryService`` (keyquery 70%, range 30%), and a probe
reader polls ``PROBE``, a symbol every file adds exactly one share to,
so the probe's total is the number of files visible.  Sink commit,
manifest resolve and snapshot paths all grow with the key count; the
count is kept at 12, because past 32 paths a read's file listing becomes
a Spark job of its own and the window would hold too few reads for a
steady median.  The operation metrics cover the readers' queries; the
probe only measures freshness."""

from __future__ import annotations

import bisect
import datetime as dt
import itertools
import json
import os
import random
import threading
import time
from concurrent.futures import ThreadPoolExecutor

from perfbench import gen, harness, stats
from perfbench.gen import EPOCH

N_SYMBOLS = 12
ROWS_PER_FILE = 200
INTERVAL_S = 1.0
#: reader route → share, in percent
MIX = {"keyquery": 70, "range": 30}
PROBE = "PROBE"
PROBE_PAUSE_S = 0.2
N_READERS = 3
SETUP_TIMEOUT_S = 90


class Inputs:
    """Seeded files and, for every prefix of them, the aggregate a
    snapshot over exactly that prefix must serve."""

    def __init__(self, seed: int, n_files: int):
        rng = random.Random(f"iq_ingest:{seed}")
        self.symbols = gen.symbols(rng, N_SYMBOLS)
        self.zipf = gen.Zipf(rng, self.symbols)
        #: every key the store can hold, sorted: what a range may return
        self.keys = sorted(self.symbols + [PROBE])
        self.files = []
        self.cum = [{}]
        for i in range(n_files):
            start = EPOCH + dt.timedelta(seconds=i * INTERVAL_S)
            rows = gen.transactions(rng, self.zipf.draw, ROWS_PER_FILE, start, INTERVAL_S)
            rows.append((PROBE, True, 1.0, 1, start))
            self.files.append(rows)
            self.cum.append(gen.fold(rows, {k: list(v) for k, v in self.cum[-1].items()}))

    def consistent(self, rows, candidates, limit: int) -> bool:
        """Do ``rows`` equal the aggregate over the first m files for
        some m ≤ ``limit``, restricted to ``candidates`` (the symbols
        the query could return)?"""
        got = {r["symbol"]: r for r in rows}
        if len(got) != len(rows):
            return False
        for m in range(limit, -1, -1):
            want = {s: self.cum[m][s] for s in candidates if s in self.cum[m]}
            if want.keys() == got.keys() and all(gen.same_agg(got[s], want[s]) for s in want):
                return True
        return False


class Pipeline:
    """One set-up: source dir with the first file, the streaming query,
    and the Flask app over the live snapshot."""

    def __init__(self, spark, inputs: Inputs, rep_dir: str, tracer):
        from kafkastreamsinteractivequeries_spark.plans.service import LiveSnapshotQueryService
        from kafkastreamsinteractivequeries_spark.serving.rest import create_app
        from kafkastreamsinteractivequeries_spark.streaming import pipeline

        self.inputs = inputs
        self.src = os.path.join(rep_dir, "src")
        self.serve = os.path.join(rep_dir, "serve")
        os.makedirs(self.src)
        self.written = 0
        self.input_bytes = 0
        self.due: list[float] = []
        self.write_next(time.perf_counter())
        self.query = pipeline.start_transactional_serving_pipeline(
            pipeline.file_transaction_stream(spark, self.src),
            self.serve,
            os.path.join(rep_dir, "checkpoint"),
        )
        self.sink = pipeline.ManifestServingSink(self.serve)
        app = create_app(LiveSnapshotQueryService(spark, self.sink), streaming_queries=[self.query])
        harness.instrument_app(app, spark, tracer)
        self.server = harness.Server(app)

    def write_next(self, due: float) -> None:
        i = self.written
        self.input_bytes += gen.write_transactions(
            os.path.join(self.src, f"part-{i:05d}.parquet"), self.inputs.files[i]
        )
        self.due.append(due)
        self.written = i + 1

    def probe(self, tag: str):
        """(probe total or None if not yet served, ok)."""
        status, body = harness.get(self.server.port, f"/streams-iq/keyquery/{PROBE}", None, tag)
        if status != 200:
            return None, "no committed manifest" in (body.get("errorMessage") or "")
        rows = body.get("result") or []
        total = rows[0]["number_shares"] if rows else 0
        return total, self.inputs.consistent(rows, [PROBE], self.written)

    def close(self) -> None:
        self.server.close()
        self.query.stop()


def _tagged_commits():
    """Tag the jobs of each micro-batch commit; returns the undo."""
    from kafkastreamsinteractivequeries_spark.streaming.pipeline import ManifestServingSink

    from perfbench.trace import job_tag

    orig = ManifestServingSink.__call__

    def tagged(self, batch_df, batch_id):
        with job_tag(batch_df.sparkSession, f"iq_ingest:commit:{batch_id}"):
            return orig(self, batch_df, batch_id)

    ManifestServingSink.__call__ = tagged
    return lambda: setattr(ManifestServingSink, "__call__", orig)


def _dir_bytes(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(d, f)) for d, _s, fs in os.walk(path) for f in fs
    )


def run(ctx) -> harness.Outcome:
    out = harness.Outcome()
    n_files = int(ctx.seconds / INTERVAL_S) + 8
    inputs = Inputs(ctx.seed, n_files)

    def prepare(spark, rep_dir):
        pipe = Pipeline(spark, inputs, rep_dir, ctx.tracer)
        give_up = time.perf_counter() + SETUP_TIMEOUT_S
        for k in itertools.count():
            total, ok = pipe.probe(f"iq_ingest:setup:{k}")
            if total:
                break
            if not ok or not pipe.query.isActive or time.perf_counter() > give_up:
                raise RuntimeError(f"first commit never became visible: {pipe.query.exception()}")
            time.sleep(0.05)
        out.attempted += 1
        if total != 1:
            out.fail(f"set-up probe saw {total} files, expected 1")
        return pipe

    restore = _tagged_commits()
    try:
        spark, pipe = ctx.set_up(prepare, lambda p: p.close())
        _measure(ctx, out, spark, pipe, inputs)
        ctx.tear_down(pipe, lambda p: p.close())
    finally:
        restore()
    return out


def _routes(rng):
    """Reader routes with the exact mix in every block of 10."""
    block = [r for r, share in MIX.items() for _ in range(share // 10)]
    while True:
        rng.shuffle(block)
        yield from block


def _measure(ctx, out, spark, pipe: Pipeline, inputs: Inputs) -> None:
    stop = threading.Event()
    seq = iter(range(10**9))
    late: list[float] = []
    probes: list[tuple] = []  # (response time, total, files written by then)
    clock = {}

    def start():
        clock["cpu0"] = harness.cpu_snapshot()
        clock["first_batch"] = (pipe.query.lastProgress or {}).get("batchId", -1)
        clock["t0"] = time.perf_counter()
        clock["deadline"] = clock["t0"] + ctx.seconds

    barrier = threading.Barrier(N_READERS + 2, action=start)

    def writer():
        barrier.wait()
        for k in itertools.count():
            due = clock["t0"] + k * INTERVAL_S
            if due >= clock["deadline"] or pipe.written >= len(inputs.files):
                return
            wait = due - time.perf_counter()
            if wait > 0 and stop.wait(wait):
                return
            late.append(time.perf_counter() - due)
            pipe.write_next(due)

    def query(rng, route: str, tag: str):
        if route == "keyquery":
            s = inputs.zipf.draw(rng)
            path, params, cands = f"/streams-iq/keyquery/{s}", None, [s]
        else:
            lo, hi = sorted(rng.sample(inputs.symbols, 2))
            path, params = "/streams-iq/range", {"lower": lo, "upper": hi}
            cands = inputs.keys[bisect.bisect_left(inputs.keys, lo): bisect.bisect_right(inputs.keys, hi)]
        t0 = time.perf_counter()
        status, body = harness.get(pipe.server.port, path, params, tag)
        t1 = time.perf_counter()
        rows = body.get("result") or []
        ok = status == 200 and inputs.consistent(rows, cands, pipe.written)
        return (route, t1 - t0, t0, len(rows), tag, ok, path, params)

    def reader(i: int):
        rng = random.Random(f"iq_ingest:{ctx.seed}:reader{i}")
        warm = [query(rng, r, f"iq_ingest:warmup:{next(seq)}") for r in MIX]
        barrier.wait()
        mine = []
        for route in _routes(rng):
            if time.perf_counter() >= clock["deadline"]:
                break
            mine.append(query(rng, route, f"iq_ingest:{route}:{next(seq)}"))
        return warm, mine

    def prober():
        barrier.wait()
        mine = []
        while time.perf_counter() < clock["deadline"]:
            tag = f"iq_ingest:probe:{next(seq)}"
            t0 = time.perf_counter()
            total, ok = pipe.probe(tag)
            t1 = time.perf_counter()
            probes.append((t1, total or 0, pipe.written))
            mine.append(("probe", t1 - t0, t0, 1, tag, ok and total is not None, PROBE, total))
            time.sleep(PROBE_PAUSE_S)
        return mine

    with ThreadPoolExecutor(N_READERS + 2) as pool:
        w = pool.submit(writer)
        readers = [pool.submit(reader, i) for i in range(N_READERS)]
        p = pool.submit(prober)
        got = [f.result() for f in readers]
        samples = [s for _warm, mine in got for s in mine]
        warm = [s for warm, _mine in got for s in warm]
        polls = p.result()
        stop.set()
        w.result()
    t_start = clock["t0"]
    elapsed = time.perf_counter() - t_start
    cpu1 = harness.cpu_snapshot()
    ext = harness.external_cpu_frac(clock["cpu0"], cpu1, elapsed)
    unstolen = harness.unstolen(clock["cpu0"], cpu1)
    progress = [pr for pr in pipe.query.recentProgress if pr["batchId"] > clock["first_batch"]]

    # correctness: every reader response, the probe's totals, the final snapshot
    for route, _lat, _t0, _n, tag, ok, path, params in warm + samples + polls:
        out.attempted += 1
        if not ok:
            out.fail(f"{tag} {path} {params} not the aggregate of any committed prefix")
    # file 0 was written during set-up; freshness covers the files due in the window
    latencies, unseen, decreases = stats.freshness(pipe.due[1:], [(t, n - 1) for t, n, _w in probes])
    for _ in range(decreases):
        out.fail("probe total decreased")
    pipe.query.processAllAvailable()
    final = {r["symbol"]: r.asDict() for r in pipe.sink.read(spark).collect()}
    want = inputs.cum[pipe.written]
    out.attempted += 1
    if final.keys() != want.keys() or not all(gen.same_agg(final[s], want[s]) for s in want):
        out.fail(f"final snapshot differs from the fold of all {pipe.written} files")

    raw_ms = [s[1] * 1000 for s in samples]
    lat_ms = [x * unstolen for x in raw_ms]
    p_tail, tail_ms, n = stats.tail(lat_ms)
    out.end_to_end.update(
        op_p50_ms=stats.median(lat_ms),
        op_tail_ms=tail_ms,
        ops_per_s=len(samples) / (elapsed * unstolen),
    )
    fresh_ms = [x * 1000 for x in latencies]
    f_tail, f_tail_ms, f_n = stats.tail(fresh_ms)
    backlog = [w - t for _r, t, w in probes]
    out.report += [
        f"queries {len(samples)} over {elapsed:.2f} s from {N_READERS} closed-loop readers;"
        f" query_tail_ms is p{p_tail:g} of {n}; external CPU {ext:.3f} of the machine;"
        f" {1 - unstolen:.3f} of this run's CPU time stolen by the hypervisor and removed from"
        f" the operation metrics (raw p50 {stats.median(raw_ms):.3f} ms)",
    ] + [
        f"  {r:9s} p50 {stats.median([s[1] * 1000 for s in samples + polls if s[0] == r]):8.3f} ms"
        f"  n={sum(1 for s in samples + polls if s[0] == r)}"
        for r in (*MIX, "probe")
    ] + [
        f"files written {pipe.written} (1 at set-up) every {INTERVAL_S} s open-loop",
        f"freshness_p50_ms {stats.median(fresh_ms):.1f}, freshness_tail_ms p{f_tail:g} of {f_n}"
        f" = {f_tail_ms:.1f}; files unseen at the deadline {unseen}",
        f"micro-batches in window {len(progress)}; backlog files p50 {stats.median(backlog)}"
        f" max {max(backlog, default=0)}",
    ]
    out.per_layer.update({
        "load.gen_late_ms": stats.median(late) * 1000,  # open loop: behind schedule
        "load.ext_cpu_frac": ext,
        "streaming.freshness_p50_ms": stats.median(fresh_ms),
        "streaming.freshness_tail_ms": f_tail_ms,
        "streaming.backlog_files": stats.median(backlog),
    })
    if ctx.tracer.enabled:
        ctx.query_layers(out, spark, "iq_ingest:", samples, t_start)
        dur = lambda k: stats.median([pr["durationMs"].get(k, 0) for pr in progress])  # noqa: E731
        tr = ctx.tracer
        manifests = sorted(os.listdir(os.path.join(pipe.serve, "manifest")))
        with open(os.path.join(pipe.serve, "manifest", [m for m in manifests if m.startswith("v")][-1])) as fh:
            paths = len(set(json.load(fh).values()))
        states = (progress[-1].get("stateOperators") or [{}]) if progress else [{}]
        out.per_layer.update({
            "streaming.trigger_ms": dur("triggerExecution"),
            "streaming.add_batch_ms": dur("addBatch"),
            "streaming.planning_ms": dur("queryPlanning"),
            "streaming.sink_commit_ms": stats.median(tr.durations("streaming.sink_commit", t_start)) * 1000,
            "streaming.snapshot_read_ms": stats.median(tr.durations("streaming.snapshot_read", t_start)) * 1000,
            "streaming.snapshot_paths": paths,
            "streaming.state_rows": states[0].get("numRowsTotal", 0),
            "streaming.store_bytes_per_input_byte":
                _dir_bytes(os.path.join(pipe.serve, "data")) / max(1, pipe.input_bytes),
        })
