"""Benchmark entry point.

    python3 perfbench/run.py --workload iq_read --seed 1 --seconds 10 --trace 0
    python3 perfbench/run.py --workload all --seed 1 --seconds 10

Run from the root of a checkout.  One workload per invocation; the last
line of standard output is one JSON object with ``correct``,
``attempted``, ``failed`` and ``metrics``: the end-to-end metrics of
BENCHMARK.json with ``--trace 0``, its per-layer metrics with
``--trace 1``.  Lines before it, each starting with ``#``, say how each
figure was taken and name every failed operation.  ``--workload all``
runs every workload untraced and then traced, each in its own process,
and adds the tracing overhead.  METRICS.md documents every figure."""

from __future__ import annotations

import time

PROCESS_T0 = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import signal  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from perfbench import harness, stats  # noqa: E402
from perfbench.harness import ROOT  # noqa: E402

PROCESS_CPU0 = harness.cpu_snapshot()

WORKLOADS = ("iq_read", "iq_ingest", "batch_headline")
#: set-ups per run; setup_s is their median
SETUP_REPS = 3


class Context:
    """Per-run state handed to a workload: seed, run length, tracer,
    scratch space, and the set-up/tear-down protocol."""

    def __init__(self, seed: int, seconds: float, tracer, work: str, args):
        self.seed = seed
        self.seconds = seconds
        self.tracer = tracer
        self.work = work
        self.args = args
        self.setup_times: list[float] = []
        self.session_start_s = 0.0
        #: wall seconds of the run's phases, for the report
        self.phases: dict[str, float] = {}

    def set_up(self, prepare, close):
        """Run the workload's set-up ``SETUP_REPS`` times, each in a fresh
        SparkContext and scratch directory, and keep the last one.  Set-up
        time runs from process start (first rep) or from the context
        restart (later reps) to the end of the first operation."""
        from perfbench.trace import install_layer_spans

        state = None
        spark = None
        for rep in range(SETUP_REPS):
            if rep == 0:
                spark, self.session_start_s = harness.start_session()
                install_layer_spans(self.tracer)
                t0, cpu0 = PROCESS_T0, PROCESS_CPU0
            else:
                close(state)
                t0, cpu0 = time.perf_counter(), harness.cpu_snapshot()
                spark.stop()  # a fresh SparkContext in the same JVM
                spark, _ = harness.start_session()
            rep_dir = os.path.join(self.work, f"rep{rep}")
            os.makedirs(rep_dir)
            state = prepare(spark, rep_dir)
            wall = time.perf_counter() - t0
            self.setup_times.append(wall * harness.unstolen(cpu0, harness.cpu_snapshot()))
        self.phases["set-up"] = time.perf_counter() - PROCESS_T0
        return spark, state

    def tear_down(self, state, close) -> None:
        t0 = time.perf_counter()
        self.phases["run"] = t0 - PROCESS_T0 - self.phases["set-up"]
        close(state)
        self.tracer.restore()
        harness.shutdown_jvm()
        self.phases["tear-down"] = time.perf_counter() - t0

    def query_layers(self, out, spark, prefix: str, samples, t_start: float) -> None:
        """Per-layer figures of the REST workloads: span times of the
        serving, plans and functions layers and the stage metrics of the
        jobs each request launched.  ``samples`` rows carry the rows
        returned at index 3 and the request tag at index 4."""
        from perfbench.trace import job_metrics

        tr = self.tracer
        n = max(1, len(samples))
        jobs = job_metrics(spark, prefix)
        mine = [jobs.get(s[4], []) for s in samples]
        returned = sum(s[3] for s in samples)
        out.per_layer.update({
            "serving.app_ms": stats.median(tr.durations("serving.app", t_start)) * 1000,
            "plans.execute_ms": stats.median(tr.durations("plans.execute", t_start)) * 1000,
            "plans.jobs_per_query": sum(len(j) for j in mine) / n,
            "plans.tasks_per_query": sum(r["tasks"] for j in mine for r in j) / n,
            "plans.rows_scanned_per_returned":
                sum(r["input_records"] for j in mine for r in j) / max(1, returned),
            "functions.compile_ms": stats.median(tr.durations("functions.compile", t_start)) * 1000,
            "functions.compile_calls": tr.count("functions.compile", t_start) / n,
        })
        selfs = stats.self_times(
            (sid, parent, s, e) for sid, parent, _n, s, e, _t in tr.spans if s >= t_start
        )
        by_layer: dict[str, float] = {}
        for sid, _p, name, s, _e, _t in tr.spans:
            if s >= t_start:
                by_layer[name] = by_layer.get(name, 0.0) + selfs[sid]
        out.report.append(
            "self time per query: "
            + ", ".join(f"{k} {v / n * 1000:.3f} ms" for k, v in sorted(by_layer.items()))
        )


def _metric_specs() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    return {
        "end_to_end": {m["name"]: m["unit"] for m in spec["end_to_end"]},
        "per_layer": {m["name"]: m["unit"] for m in spec["per_layer"]},
    }


def _program_present() -> bool:
    return all(
        os.path.exists(os.path.join(ROOT, p))
        for p in ("__spark_entry__.py", "bench.py", "kafkastreamsinteractivequeries_spark", "tests/oracle.py")
    )


def run_one(args) -> int:
    if not _program_present():
        print(f"perfbench: the program is not in {ROOT}", file=sys.stderr)
        return 2
    specs = _metric_specs()
    # a terminated run still stops its JVM and removes its scratch space
    signal.signal(signal.SIGTERM, lambda _sig, _frame: sys.exit(143))
    work = os.path.join(ROOT, ".perfbench_work", f"run-{os.getpid()}-{time.time_ns()}")
    os.makedirs(work)
    try:
        harness.prepare_env(work)
        from perfbench.trace import Tracer

        module = __import__(f"perfbench.{args.workload}", fromlist=["run"])
        sampler = harness.MemorySampler()
        tracer = Tracer(bool(args.trace))
        ctx = Context(args.seed, float(args.seconds), tracer, work, args)
        try:
            out = module.run(ctx)
        finally:
            peak_mb = sampler.close()
        out.end_to_end["setup_s"] = stats.median(ctx.setup_times)
        out.end_to_end["peak_pss_mb"] = peak_mb
        out.per_layer["session.start_s"] = ctx.session_start_s
        out.report.insert(0, f"workload {args.workload} seed {args.seed} trace {args.trace}")
        out.report.append(
            "setup_s is the median of " + ", ".join(f"{t:.3f}" for t in ctx.setup_times)
            + " (steal removed)"
        )
        out.report.append(
            "phases: " + ", ".join(f"{k} {v:.1f} s" for k, v in ctx.phases.items())
        )
        out.report.append(
            "peak PSS by process: "
            + ", ".join(f"{c} {kb / 1024:.0f} MB" for c, kb in sampler.peak_parts)
        )
        kind = "per_layer" if args.trace else "end_to_end"
        values = out.per_layer if args.trace else out.end_to_end
        missing = [m for m in specs["end_to_end"] if m not in out.end_to_end]
        if missing:
            raise RuntimeError(f"workload did not measure {missing}")
        for line in out.report:
            print(f"# {line}")
        for what in out.failures:
            print(f"# FAILED {what}")
        if out.failed > len(out.failures):
            print(f"# ... and {out.failed - len(out.failures)} more failures")
        for name, unit in specs["end_to_end"].items():
            print(f"# {name} = {out.end_to_end[name]:.6g} {unit}")
        if args.trace:
            for name, unit in specs["per_layer"].items():
                print(f"# {name} = {out.per_layer.get(name, 0.0):.6g} {unit}")
        result = {
            "correct": out.failed == 0,
            "attempted": out.attempted,
            "failed": out.failed,
            "metrics": {
                name: {"value": float(values.get(name, 0.0)), "unit": unit}
                for name, unit in specs[kind].items()
            },
        }
        print(json.dumps(result), flush=True)
        return 0
    finally:
        harness.shutdown_jvm()  # a run that failed part-way leaves its JVM up
        shutil.rmtree(work, ignore_errors=True)
        parent = os.path.dirname(work)
        if os.path.isdir(parent) and not os.listdir(parent):
            os.rmdir(parent)


def run_all(args) -> int:
    """Every workload untraced then traced, one process each; prints both
    sets of figures and the traced-over-untraced overhead."""
    if not _program_present():
        print(f"perfbench: the program is not in {ROOT}", file=sys.stderr)
        return 2
    combined = {"correct": True, "attempted": 0, "failed": 0, "metrics": {}}
    for wl in WORKLOADS:
        op_p50 = {}
        for trace in (0, 1):
            cmd = [sys.executable, os.path.abspath(__file__), "--workload", wl,
                   "--seed", str(args.seed), "--seconds", str(args.seconds), "--trace", str(trace)]
            proc = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=900)
            lines = proc.stdout.strip().splitlines()
            for line in lines[:-1]:
                print(f"# [{wl} trace={trace}] {line[2:]}")
                if line.startswith("# op_p50_ms = "):
                    op_p50[trace] = float(line.split()[3])
            if proc.returncode != 0 or not lines:
                print(proc.stderr[-4000:], file=sys.stderr)
                return proc.returncode or 1
            got = json.loads(lines[-1])
            combined["correct"] &= got["correct"]
            combined["attempted"] += got["attempted"]
            combined["failed"] += got["failed"]
            for name, m in got["metrics"].items():
                combined["metrics"][f"{wl}.{name}"] = m
        overhead = op_p50[1] / op_p50[0] - 1.0
        print(f"# [{wl}] tracing overhead on op_p50_ms: {overhead * 100:+.1f}% "
              f"({op_p50[0]:.4g} ms untraced, {op_p50[1]:.4g} ms traced)")
    print(json.dumps(combined), flush=True)
    return 0


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS + ("all",))
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--keys", default=None,
                    help="batch_headline only: comma-separated driver keys instead of the default set")
    ap.add_argument("--data-dir", default=None,
                    help="batch_headline only: read these driver tables instead of generating them")
    args = ap.parse_args(argv)
    return run_all(args) if args.workload == "all" else run_one(args)


if __name__ == "__main__":
    sys.exit(main())
