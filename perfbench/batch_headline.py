"""``batch_headline``: the headline driver keys, constructed and executed.

The keys come from ``bench.HEADLINE``: those of the families whose
inputs are the star schema and the events table (``t``, ``q``, ``a``),
run over tables generated from the seed.  Every set-up ends with a cold
pass over the keys; the first one checks each key against its DuckDB
oracle (``tests/oracle.compare``).  Timed passes then construct each key
and execute it to a ``noop`` sink, in a seeded order per pass; one
operation is one key, and passes are whole, so every key counts equally
often.  At this
scale the keys are driver-bound, so the ``entry`` and ``operators``
layers do the work and ``serving`` and ``streaming`` do none."""

from __future__ import annotations

import importlib.util
import os
import random
import re
import time

from perfbench import gen, harness, stats
from perfbench.trace import Py4jCounter, job_metrics, job_tag

#: key families whose inputs the generator writes
FAMILIES = ("t", "q", "a")
#: a traced key's construct + plan + exec jobs must cover its wall time this closely
SPLIT_TOLERANCE = 0.10
#: timed passes a run makes however slow they are: 24 samples, so op_tail_ms has a tail
MIN_PASSES = 2
#: an oracle value this close (relative) to a ROUND tie may round either way
TIE_WIDTH = 1e-11


def default_keys() -> list[str]:
    import bench

    return [k for k in bench.HEADLINE if k[0] in FAMILIES]


def _oracle():
    spec = importlib.util.spec_from_file_location(
        "perfbench_oracle", os.path.join(harness.ROOT, "tests", "oracle.py")
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def tie_sql(sql: str, side: str) -> str:
    """``sql`` with every ``ROUND`` (all oracles pass it two arguments)
    nudged by ``TIE_WIDTH`` of its argument towards ``side`` (``lo`` or
    ``hi``), through the macros ``tie_macros`` defines."""
    return re.sub(r"(?i)\bround\s*\(", f"round_{side}(", sql)


def tie_macros(con) -> None:
    for side, sign in (("lo", "-"), ("hi", "+")):
        con.execute(f"CREATE MACRO round_{side}(x, n) AS round(x {sign} abs(x) * {TIE_WIDTH}, n)")


def tie_cells(got, strict, lo, hi):
    """Cells of ``got`` that differ from the ``strict`` oracle rows but
    equal the same cell of the oracle rounded down (``lo``) or up
    (``hi``) at a tie, as ``(row, column)`` pairs; ``None`` when some
    cell matches none of the three.  All four are canonical row lists of
    equal length."""
    cells = []
    for i, (g, s, a, b) in enumerate(zip(got, strict, lo, hi)):
        for j, v in enumerate(g):
            if v == s[j]:
                continue
            if v != a[j] and v != b[j]:
                return None
            cells.append((i, j))
    return cells


def check_oracle(oracle, df, sql: str, data: str):
    """Compare ``df`` with its DuckDB oracle (``tests/oracle.compare``).
    Where values differ, look again with the oracle's ``ROUND``s nudged
    down and up: a value whose unrounded sum lies within ``TIE_WIDTH`` of
    a rounding tie is rounded one way by Spark (half-up on the exact
    double) and may be rounded the other by DuckDB (which scales by
    10^n first), and either is a correct rounding of the same sum.
    Returns the tie-rounded cells (empty when the strict check passes);
    any other difference raises the strict check's ``AssertionError``."""
    try:
        oracle.compare(df, sql, data)
        return []
    except AssertionError as exc:
        if not str(exc).startswith("row "):
            raise
        strict_exc = exc
    con = oracle.duckdb_con(data)
    tie_macros(con)
    cols = [c.lower() for c in df.columns]
    got = oracle._canon([tuple(r) for r in df.collect()], cols)
    ref = []
    for q in (sql, tie_sql(sql, "lo"), tie_sql(sql, "hi")):
        cur = con.execute(q)
        ref.append(oracle._canon(cur.fetchall(), [d[0].lower() for d in cur.description]))
    cells = tie_cells(got, *ref)
    if not cells:
        raise strict_exc
    names = sorted(cols)
    return [f"{names[j]} {got[i][j]} (oracle {ref[0][i][j]})" for i, j in cells]


def _first_line(exc: Exception) -> str:
    return (str(exc).splitlines() or [""])[0]


def run(ctx) -> harness.Outcome:
    import __spark_entry__ as entry
    from kafkastreamsinteractivequeries_spark.sources import tables

    out = harness.Outcome()
    keys = ctx.args.keys.split(",") if ctx.args.keys else default_keys()
    queries, oracle_sql, oracle = entry.queries(), entry.oracle_sql(), _oracle()
    rng = random.Random(f"batch_headline:{ctx.seed}")
    cold: dict[str, float] = {}

    def prepare(spark, rep_dir):
        data = ctx.args.data_dir
        if data is None:
            data = os.path.join(rep_dir, "data")
            gen.write_batch_tables(random.Random(f"batch_headline:{ctx.seed}:data"), data)
        # the first set-up's cold pass executes each key through its
        # oracle check; later set-ups execute it to the noop sink
        check = not cold
        order = keys[:]
        rng.shuffle(order)
        for k in order:
            out.attempted += 1
            t0 = time.perf_counter()
            try:
                with job_tag(spark, f"batch_headline:{k}:cold"):
                    df = queries[k](spark, data)
                    if check:
                        ties = check_oracle(oracle, df, oracle_sql[k], data)
                        if ties:
                            out.report.append(
                                f"{k} matches its oracle up to rounding ties: " + "; ".join(ties)
                            )
                    else:
                        df.write.format("noop").mode("overwrite").save()
            except AssertionError as exc:
                out.fail(f"{k}: differs from its oracle: {_first_line(exc)}")
            except Exception as exc:  # a key that cannot run is a failed operation
                out.fail(f"{k}: {type(exc).__name__}: {_first_line(exc)}")
            cold[k] = time.perf_counter() - t0
        return data

    spark, data = ctx.set_up(prepare, lambda _d: None)
    py4j = Py4jCounter(spark, ctx.tracer.enabled)
    memo = tables._TABLE_MEMO.setdefault(spark, {})
    memo0 = len(memo)
    samples: list[dict] = []

    def one(k: str, p: int) -> None:
        """Construct key ``k`` and execute it to the noop sink, timing each step."""
        tag = f"batch_headline:{k}:p{p}"
        rec = {"key": k, "tag": tag}
        t0 = time.perf_counter()
        calls0 = py4j.calls
        try:
            with job_tag(spark, f"{tag}:construct"):
                df = queries[k](spark, data)
            t1 = time.perf_counter()
            rec["py4j"] = py4j.calls - calls0
            if ctx.tracer.enabled:
                with job_tag(spark, f"{tag}:plan"):
                    df._jdf.queryExecution().executedPlan()
            t2 = time.perf_counter()
            with job_tag(spark, f"{tag}:exec"):
                df.write.format("noop").mode("overwrite").save()
            t3 = time.perf_counter()
        except Exception as exc:  # a key that cannot run is a failed operation
            out.fail(f"{tag}: {type(exc).__name__}: {_first_line(exc)}")
            return
        rec.update(start=t0, construct=t1 - t0, plan=t2 - t1, exec=t3 - t2, wall=t3 - t0)
        samples.append(rec)

    cpu0 = harness.cpu_snapshot()
    t_start = time.perf_counter()
    deadline = t_start + ctx.seconds
    passes = []  # wall time of each complete pass
    # passes are whole; stop when less than half a pass of the window is
    # left, but not before MIN_PASSES, so the tail never falls back to the median
    while len(passes) < MIN_PASSES or deadline - time.perf_counter() > stats.median(passes) / 2:
        order = keys[:]
        rng.shuffle(order)
        t0 = time.perf_counter()
        for k in order:
            out.attempted += 1
            one(k, len(passes))
        passes.append(time.perf_counter() - t0)
    elapsed = time.perf_counter() - t_start
    cpu1 = harness.cpu_snapshot()
    ext = harness.external_cpu_frac(cpu0, cpu1, elapsed)
    unstolen = harness.unstolen(cpu0, cpu1)

    walls_ms = [s["wall"] * 1000 * unstolen for s in samples]
    p_tail, tail_ms, n = stats.tail(walls_ms)
    per_key = {k: [s for s in samples if s["key"] == k] for k in keys}
    batch_wall = sum(stats.median([s["wall"] for s in per_key[k]]) for k in keys if per_key[k])
    out.end_to_end.update(
        op_p50_ms=stats.median(walls_ms),
        op_tail_ms=tail_ms,
        ops_per_s=len(samples) / (elapsed * unstolen),
    )
    ordered = sorted(samples, key=lambda s: s["start"])
    gaps = [b["start"] - (a["start"] + a["wall"]) for a, b in zip(ordered, ordered[1:])]
    out.per_layer["load.gen_late_ms"] = stats.median(gaps) * 1000
    out.per_layer["load.ext_cpu_frac"] = ext
    out.report += [
        f"keys {len(keys)}: {','.join(keys)}",
        f"{len(passes)} timed passes over {elapsed:.2f} s: "
        + ", ".join(f"{x:.3f}" for x in passes) + f" s; op_tail_ms is p{p_tail:g} of {n}",
        f"batch_wall_s {batch_wall:.3f} (sum over keys of the per-key median);"
        f" external CPU {ext:.3f} of the machine; {1 - unstolen:.3f} of this run's CPU time stolen"
        " by the hypervisor and removed from the operation metrics",
        "cold pass of the last set-up: " + ", ".join(f"{k} {cold[k]:.2f}s" for k in keys),
    ]
    if ctx.tracer.enabled:
        _layers(ctx, out, spark, keys, per_key, samples, memo, memo0, t_start)
    py4j.close()
    ctx.tear_down(data, lambda _d: None)
    return out


def _layers(ctx, out, spark, keys, per_key, samples, memo, memo0, t_start) -> None:
    jobs = job_metrics(spark, "batch_headline:")
    for s in samples:
        pins = jobs.get(f"{s['tag']}:construct", [])
        mine = pins + jobs.get(f"{s['tag']}:plan", []) + jobs.get(f"{s['tag']}:exec", [])
        s["pin_jobs"] = len(pins)
        s["pin"] = stats.covered(j["span_ms"] for j in pins) / 1000
        s["exec_jobs"] = stats.covered(j["span_ms"] for j in jobs.get(f"{s['tag']}:exec", [])) / 1000
        s["tasks"] = sum(j["tasks"] for j in mine)
        s["cpu"] = sum(j["cpu_s"] for j in mine)
        s["shuffle_mb"] = sum(j["shuffle_write_b"] for j in mine) / 2**20
        s["spill_mb"] = sum(j["spill_b"] for j in mine) / 2**20
        s["peak_mb"] = max((j["peak_mem_b"] for j in mine), default=0) / 2**20
        # exec time outside the exec jobs (the write's own planning, job
        # scheduling, result handling) is the part no layer accounts for
        s["coverage"] = (s["construct"] + s["plan"] + s["exec_jobs"]) / s["wall"]

    def total(field):
        return sum(stats.median([s[field] for s in per_key[k]]) for k in keys if per_key[k])

    construct, pin, plan, execute = total("construct"), total("pin"), total("plan"), total("exec")
    wall = total("wall")
    calls = ctx.tracer.count("sources.load_table", t_start)
    passes = max(1, len(samples) / len(keys))
    out.per_layer.update({
        "entry.construct_s": construct - pin,
        "entry.pin_s": pin,
        "entry.pin_jobs": total("pin_jobs"),
        "entry.plan_s": plan,
        "entry.exec_s": execute,
        "entry.py4j_calls": total("py4j"),
        "entry.driver_share": (construct - pin + plan) / wall,
        "entry.split_coverage": stats.median([s["coverage"] for s in samples]),
        "operators.tasks": total("tasks"),
        "operators.task_cpu_s": total("cpu"),
        "operators.shuffle_write_mb": total("shuffle_mb"),
        "operators.spill_mb": total("spill_mb"),
        "operators.peak_exec_mem_mb": max((s["peak_mb"] for s in samples), default=0.0),
        "sources.load_table_ms": sum(ctx.tracer.durations("sources.load_table", t_start)) * 1000 / passes,
        "sources.load_table_calls": calls / passes,
        "sources.memo_hit_ratio": 1.0 - (len(memo) - memo0) / max(1, calls),
    })
    out.report.append(
        f"per pass (sum over keys of per-key medians): wall {wall:.3f}s = construct {construct - pin:.3f}s"
        f" + pin {pin:.3f}s + plan {plan:.3f}s + exec {execute:.3f}s;"
        f" driver share {(construct - pin + plan) / wall:.3f} of {wall:.3f}s"
    )
    out.report.append(
        "per-key split, medians over passes (s): key construct pin[jobs] plan exec(in jobs) wall coverage;"
        " then py4j calls, tasks, task CPU s, shuffle write MB"
    )
    for k in keys:
        if not per_key[k]:
            continue
        m = {f: stats.median([s[f] for s in per_key[k]]) for f in
             ("construct", "pin", "pin_jobs", "plan", "exec", "exec_jobs", "wall", "coverage", "py4j",
              "tasks", "cpu", "shuffle_mb")}
        ok = abs(m["coverage"] - 1.0) <= SPLIT_TOLERANCE
        out.report.append(
            f"  {k:30s} {m['construct'] - m['pin']:7.3f} {m['pin']:6.3f}[{m['pin_jobs']:.0f}]"
            f" {m['plan']:6.3f} {m['exec']:6.3f}({m['exec_jobs']:.3f}) {m['wall']:7.3f} {m['coverage']:5.3f}"
            f" py4j={m['py4j']:.0f} tasks={m['tasks']:.0f} cpu={m['cpu']:.3f} shuffle={m['shuffle_mb']:.2f}"
            + ("" if ok else "  SPLIT OFF BY MORE THAN 10%")
        )
