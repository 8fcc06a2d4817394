"""``iq_read``: REST reads over a committed snapshot of 64 symbols.

A closed loop of ``min(2, nproc)`` clients sends the route mix below to
the Flask app from ``serving.rest.create_app``, backed by an
``InteractiveQueryService`` over one resolved ``ManifestServingSink``
snapshot.  The fixed cost of each request dominates: Flask, the query
object, ``compile_predicate``, py4j, Catalyst and one small job.  The
streaming and store-layout layers do no work after set-up."""

from __future__ import annotations

import bisect
import datetime as dt
import os
import random
import threading
import time
from concurrent.futures import ThreadPoolExecutor

from perfbench import gen, harness, stats
from perfbench.gen import EPOCH

N_SYMBOLS = 64
N_TXNS = 20_000
SPAN_H = 24
#: route → share of requests, in percent
MIX = {"keyquery": 50, "multikey": 15, "range": 10, "paged": 5, "filtered": 10, "window": 10}
POINT = ("keyquery", "multikey")
PAGE = 10
#: (JsonPath predicate, the same test in Python)
PREDICATES = (
    ("@.buys > @.sells", lambda v: v[0] > v[1]),
    ("@.number_shares > 2000", lambda v: v[2] > 2000),
    ("@.buys > 20000 && @.sells < 30000", lambda v: v[0] > 20000 and v[1] < 30000),
)


class Inputs:
    """The seeded snapshot and what each request must return."""

    def __init__(self, seed: int):
        rng = random.Random(f"iq_read:{seed}")
        self.symbols = gen.symbols(rng, N_SYMBOLS)
        self.zipf = gen.Zipf(rng, self.symbols)
        self.rows = gen.transactions(rng, self.zipf.draw, N_TXNS, EPOCH, SPAN_H * 3600)
        self.fold = gen.fold(self.rows)
        self.windows = gen.window_fold(self.rows)
        self.keys = sorted(self.fold)

    def request(self, rng, route: str):
        """(route, path, params, check) for one request of ``route``;
        ``check(body)`` is True when the response is right."""
        if route == "keyquery":
            s = self.zipf.draw(rng)
            want = {s: self.fold[s]} if s in self.fold else {}
            return route, f"/streams-iq/keyquery/{s}", None, lambda b: _rows_match(b, want)
        if route == "multikey":
            keys = self.zipf.distinct(rng, rng.randint(3, 8))
            want = {s: self.fold[s] for s in keys if s in self.fold}
            return route, f"/streams-iq/multikey/{','.join(keys)}", None, lambda b: _rows_match(b, want)
        lo, hi = sorted(rng.sample(self.symbols, 2))
        in_range = self.keys[bisect.bisect_left(self.keys, lo): bisect.bisect_right(self.keys, hi)]
        if route == "range":
            want = {s: self.fold[s] for s in in_range}
            return route, "/streams-iq/range", {"lower": lo, "upper": hi}, lambda b: _rows_match(b, want)
        if route == "paged":
            tail = self.keys[bisect.bisect_left(self.keys, lo):]
            want = {s: self.fold[s] for s in tail[:PAGE]}
            cursor = tail[PAGE - 1] if len(tail) > PAGE else None
            return (route, "/streams-iq/range", {"lower": lo, "limit": PAGE},
                    lambda b: _rows_match(b, want) and b.get("nextCursor") == cursor)
        if route == "filtered":
            src, test = rng.choice(PREDICATES)
            want = {s: self.fold[s] for s in in_range if test(self.fold[s])}
            return (route, "/streams-iq/range", {"lower": lo, "upper": hi, "filter": src},
                    lambda b: _rows_match(b, want))
        start = rng.randrange(SPAN_H)
        end = rng.randint(start + 1, min(SPAN_H, start + 6))
        t_from, t_to = EPOCH + dt.timedelta(hours=start), EPOCH + dt.timedelta(hours=end)
        params = {"from": _iso(t_from), "to": _iso(t_to)}
        src, test = PREDICATES[0] if rng.random() < 0.5 else (None, lambda v: True)
        if src:
            params["filter"] = src
        want = {
            (_iso(ws), s): v
            for (ws, s), v in self.windows.items()
            if t_from <= ws and ws + dt.timedelta(hours=1) <= t_to and test(v)
        }
        return route, "/streams-iq/windowrange", params, lambda b: _window_rows_match(b, want)


def routes(rng):
    """Endless route sequence with the exact mix in every block of 20
    requests, shuffled within the block, so the mix does not drift
    between runs."""
    block = [r for r, share in MIX.items() for _ in range(share // 5)]
    while True:
        rng.shuffle(block)
        yield from block


def _iso(t: dt.datetime) -> str:
    return t.strftime("%Y-%m-%d %H:%M:%S")


def _rows_match(body, want: dict) -> bool:
    rows = body.get("result")
    if body.get("errorMessage") or rows is None or len(rows) != len(want):
        return False
    return all(r["symbol"] in want and gen.same_agg(r, want[r["symbol"]]) for r in rows)


def _window_rows_match(body, want: dict) -> bool:
    rows = body.get("result")
    if body.get("errorMessage") or rows is None or len(rows) != len(want):
        return False
    return all(
        (r["window_start"], r["symbol"]) in want
        and gen.same_agg(r, want[(r["window_start"], r["symbol"])])
        for r in rows
    )


class Service:
    """One set-up of the program over the inputs: snapshot committed by
    the manifest sink, resolved once, served over HTTP."""

    def __init__(self, spark, inputs: Inputs, rep_dir: str, tracer):
        from kafkastreamsinteractivequeries_spark.operators.aggregation import aggregate_transactions
        from kafkastreamsinteractivequeries_spark.operators.windows import windowed_aggregate
        from kafkastreamsinteractivequeries_spark.plans.service import InteractiveQueryService
        from kafkastreamsinteractivequeries_spark.schemas import STOCK_TRANSACTION_SCHEMA
        from kafkastreamsinteractivequeries_spark.serving.rest import create_app
        from kafkastreamsinteractivequeries_spark.streaming.pipeline import ManifestServingSink

        from perfbench.trace import job_tag

        txn_dir = os.path.join(rep_dir, "txns")
        os.makedirs(txn_dir)
        gen.write_transactions(os.path.join(txn_dir, "part-0.parquet"), inputs.rows)
        txns = spark.read.schema(STOCK_TRANSACTION_SCHEMA).parquet(txn_dir)
        sink = ManifestServingSink(os.path.join(rep_dir, "snapshot"))
        with job_tag(spark, "iq_read:setup:commit"):
            sink(aggregate_transactions(txns), 0)
            serving = sink.read(spark)
        app = create_app(
            InteractiveQueryService(serving), windowed_df=windowed_aggregate(txns, "1 hour")
        )
        harness.instrument_app(app, spark, tracer)
        self.server = harness.Server(app)

    def close(self) -> None:
        self.server.close()


def run(ctx) -> harness.Outcome:
    out = harness.Outcome()
    inputs = Inputs(ctx.seed)

    def prepare(spark, rep_dir):
        svc = Service(spark, inputs, rep_dir, ctx.tracer)
        route, path, params, check = inputs.request(random.Random(f"setup:{ctx.seed}"), "keyquery")
        status, body = harness.get(svc.server.port, path, params, "iq_read:setup:0")
        out.attempted += 1
        if status != 200 or not check(body):
            out.fail(f"set-up {route} {path} {params}")
        return svc

    spark, svc = ctx.set_up(prepare, lambda s: s.close())
    # two clients leave the four local cores unsaturated; with four, every
    # queue on the cores grows with the CPU the hypervisor steals
    n_clients = min(2, os.cpu_count() or 1)
    seq = iter(range(10**9))
    samples = []  # (route, latency s, gap before it s, rows returned, tag, ok, path, params)
    clock = {}

    def start():
        clock["cpu0"] = harness.cpu_snapshot()
        clock["t0"] = time.perf_counter()
        clock["deadline"] = clock["t0"] + ctx.seconds

    barrier = threading.Barrier(n_clients, action=start)
    warm = []

    def client(i: int):
        rng = random.Random(f"iq_read:{ctx.seed}:client{i}")
        for route in list(MIX)[i::n_clients]:  # warm-up: each route once, untimed
            route, path, params, check = inputs.request(rng, route)
            status, body = harness.get(svc.server.port, path, params, f"iq_read:warmup:{next(seq)}")
            warm.append((status == 200 and check(body), route, path, params))
        barrier.wait()
        mine = []
        prev_done = time.perf_counter()
        for route in routes(rng):
            if time.perf_counter() >= clock["deadline"]:
                break
            route, path, params, check = inputs.request(rng, route)
            tag = f"iq_read:{route}:{next(seq)}"
            t0 = time.perf_counter()
            status, body = harness.get(svc.server.port, path, params, tag)
            t1 = time.perf_counter()
            ok = status == 200 and check(body)
            mine.append((route, t1 - t0, t0 - prev_done, len(body.get("result") or ()), tag, ok, path, params))
            prev_done = t1
        return mine

    with ThreadPoolExecutor(n_clients) as pool:
        for fut in [pool.submit(client, i) for i in range(n_clients)]:
            samples.extend(fut.result())
    t_start = clock["t0"]
    elapsed = time.perf_counter() - t_start
    cpu1 = harness.cpu_snapshot()
    ext = harness.external_cpu_frac(clock["cpu0"], cpu1, elapsed)
    unstolen = harness.unstolen(clock["cpu0"], cpu1)

    for ok, route, path, params in warm:
        out.attempted += 1
        if not ok:
            out.fail(f"warm-up {route} {path} {params}")
    for route, _lat, _gap, _n, tag, ok, path, params in samples:
        out.attempted += 1
        if not ok:
            out.fail(f"{tag} {path} {params}")
    raw_ms = [s[1] * 1000 for s in samples]
    lat_ms = [x * unstolen for x in raw_ms]
    p, tail_ms, n = stats.tail(lat_ms)
    out.end_to_end.update(
        op_p50_ms=stats.median(lat_ms),
        op_tail_ms=tail_ms,
        ops_per_s=len(samples) / (elapsed * unstolen),
    )
    point = [s[1] * 1000 for s in samples if s[0] in POINT]
    scan = [s[1] * 1000 for s in samples if s[0] not in POINT]
    out.report += [
        f"queries {len(samples)} over {elapsed:.2f} s from {n_clients} closed-loop clients;"
        f" external CPU {ext:.3f} of the machine; {1 - unstolen:.3f} of this run's CPU time stolen"
        f" by the hypervisor and removed from the operation metrics (raw p50 {stats.median(raw_ms):.3f} ms)",
        f"query_tail_ms is p{p:g} of {n} samples",
        f"point_p50_ms {stats.median(point):.3f} (n={len(point)})",
        f"scan_p50_ms {stats.median(scan):.3f} (n={len(scan)})",
    ] + [
        f"  {r:9s} p50 {stats.median([s[1] * 1000 for s in samples if s[0] == r]):8.3f} ms"
        f"  n={sum(1 for s in samples if s[0] == r)}"
        for r in MIX
    ]
    out.per_layer["load.gen_late_ms"] = stats.median([s[2] * 1000 for s in samples])
    out.per_layer["load.ext_cpu_frac"] = ext
    if ctx.tracer.enabled:
        ctx.query_layers(out, spark, "iq_read:", samples, t_start)
    ctx.tear_down(svc, lambda s: s.close())
    return out
