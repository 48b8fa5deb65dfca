"""One benchmark run: a fresh Spark session, one workload, one seed.

Started by run.py as its own process (and process session), which kills
whatever this leaves behind. Writes its result as JSON to ``--out``.

Untraced run (``--trace 0``): set-up, then one timed pass on a fresh input
set (the session's first call: ``batch_s``), then, for the checkpointed
ingest, resumes of that pass (``resume_s``), then more passes while the
window (``--seconds``) is open, then the checks.
Traced run (``--trace 1``): set-up, an untraced first pass, then untraced,
traced and untraced passes (the tracing overhead is the traced one minus the
mean of the other two), then the per-layer ladder and the kernel figures.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import sys
import threading
import time
import traceback

import numpy as np

import procs
import tracing
import workloads

#: an operation still running after this long is cancelled and counted failed
OP_TIMEOUT_S = 60.0
#: input sets generated during set-up; setup_s takes the median of their times
SETUP_SETS = 3
#: resumes per untraced run of a checkpointed workload; resume_s is their median
RESUMES = 3


def start_session(run_dir: str, cpus: int, event_dir: str | None):
    """bench.py's Spark confs, plus local, temp and warehouse dirs kept
    inside the run directory (and the event log when tracing)."""
    from pyspark.sql import SparkSession

    tmp = os.path.join(run_dir, "tmp")
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .config("spark.sql.shuffle.partitions", str(max(8, cpus)))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.local.dir", os.path.join(run_dir, "local"))
        .config("spark.sql.warehouse.dir", os.path.join(run_dir, "warehouse"))
        .config("spark.driver.extraJavaOptions", f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData -Xmn512m")
        .appName(f"perfbench-{cpus}")
    )
    if event_dir is not None:
        builder = (builder.config("spark.eventLog.enabled", "true")
                   .config("spark.eventLog.dir", "file://" + event_dir)
                   .config("spark.eventLog.compress", "false"))
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def warm_workers(spark, cpus: int) -> None:
    """Full-width Python-worker warm-up: one engine UDF task per core, so
    every worker has started and imported the engine."""
    from pyspark.sql import functions as F

    from s2_geometry_library_java_spark.operators import tiling

    pts = spark.range(0, 512 * cpus, 1, cpus).select(
        (F.col("id") % 160 - 80).cast("double").alias("lat"),
        (F.col("id") % 360 - 180).cast("double").alias("lng"))
    workloads._noop(tiling.tile_points(pts))


class Runner:
    """Counts attempted and failed operations and times them; with a tracer,
    each call also becomes a span with its own Spark job group."""

    def __init__(self, spark, wl, tracer=None):
        self.spark, self.wl, self.tracer = spark, wl, tracer
        self.attempted = 0
        self.failures: list[dict] = []
        self.op_s: dict[str, dict[str, float]] = {}

    def _call(self, op, fn):
        self.attempted += 1
        self._done.append(op)
        timer = threading.Timer(OP_TIMEOUT_S, self.spark.sparkContext.cancelAllJobs)
        timer.start()
        t = time.perf_counter()
        try:
            if self.tracer is None:
                return fn()
            with self.tracer.span(op, group=op):
                return fn()
        finally:
            timer.cancel()
            self.op_s.setdefault(self._tag, {})[op] = time.perf_counter() - t

    def run(self, tag: str, fn, ops):
        """Run one pass (``fn(call)``) of ``ops``; returns (result or None, seconds)."""
        self._done, self._tag = [], tag
        t = time.perf_counter()
        try:
            res = fn(self._call)
        except Exception as e:  # a failed operation is a measured outcome
            res = None
            self.failures.append({"pass": tag, "op": self._done[-1] if self._done else "?",
                                  "cause": "".join(traceback.format_exception_only(e)).strip()[-400:]})
            for op in ops[len(self._done):]:
                self.attempted += 1
                self.failures.append({"pass": tag, "op": op, "cause": "not run: an earlier operation failed"})
        return res, time.perf_counter() - t

    def check(self, tag, inp, res) -> None:
        if res is None:
            return
        for op, msgs in self.wl.check(self.spark, inp, res).items():
            if msgs:
                self.failures.append({"pass": tag, "op": op, "cause": "; ".join(msgs)[:400]})

    def self_test(self, inp, res) -> list[str]:
        """Every check must flag a deliberately corrupted result."""
        found = self.wl.check(self.spark, inp, self.wl.corrupt(res))
        return [op for op, msgs in found.items() if not msgs]


def cpu_ticks() -> list[int]:
    """Aggregate /proc/stat CPU counters (user ... steal)."""
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:9]]


def steal_share(before: list[int], after: list[int]) -> float:
    """Share of the machine's CPU time the host took (steal) in between."""
    delta = [b - a for a, b in zip(before, after)]
    return delta[7] / max(1, sum(delta))


def run(args) -> dict:
    ticks0 = cpu_ticks()
    cpus = len(os.sched_getaffinity(0))
    wl = workloads.WORKLOADS[args.workload]
    run_dir = os.path.abspath(args.run_dir)
    t0 = time.perf_counter()
    event_dir = None
    if args.trace:
        event_dir = os.path.join(run_dir, "events")
        os.makedirs(event_dir)
    import s2_geometry_library_java_spark  # noqa: F401  (import time is set-up time)

    spark = start_session(run_dir, cpus, event_dir)
    warm_workers(spark, cpus)
    session_s = time.perf_counter() - t0

    inputs, gen_s = [], []

    def input_set(k: int) -> dict:
        while len(inputs) <= k:
            t = time.perf_counter()
            n = len(inputs)
            inputs.append(wl.make_input(np.random.default_rng([args.seed, n]),
                                        os.path.join(run_dir, "in", str(n))))
            gen_s.append(time.perf_counter() - t)
        return inputs[k]

    runner = Runner(spark, wl)
    results, pass_s = [], []
    report: dict = {"cpus": cpus, "params": wl.params}

    def timed_pass(k: int, tracer=None):
        inp = input_set(k)
        runner.tracer = tracer
        if tracer is None:
            res, dt = runner.run(f"pass{k}", lambda call: wl.run_pass(spark, inp, call, f"pass{k}"), wl.ops)
        else:
            with tracer.span(f"pass{k}"):
                res, dt = runner.run(f"pass{k}", lambda call: wl.run_pass(spark, inp, call, f"pass{k}"), wl.ops)
        runner.tracer = None
        results.append((f"pass{k}", inp, res))
        pass_s.append(dt)
        return res, dt

    for k in range(SETUP_SETS):
        input_set(k)
    if not args.trace:
        ticks = cpu_ticks()
        _, batch_s = timed_pass(0)
        report["pass_steal_share"] = steal_share(ticks, cpu_ticks())
        measured = batch_s
        first_inp, first = results[0][1], results[0][2]
        if wl.checkpointed and first is not None:
            resume = []
            for k in range(RESUMES):
                wl.prepare_resume(spark, first)
                res, dt = runner.run(f"resume{k}", lambda call: wl.resume(spark, first_inp, first, call), wl.ops)
                results.append((f"resume{k}", first_inp, res))
                resume.append(dt)
            measured += sum(resume)
            report["resume_s_all"] = resume
            report["workload_metrics"] = {
                "resume_s": {"value": statistics.median(resume), "unit": "s"},
                "bytes_written_per_doc": {"value": workloads.dir_bytes(first["root"]) / wl.rows(first_inp),
                                          "unit": "B/doc"},
            }
        # more passes on fresh input sets while the window is still open;
        # they are reported, batch_s stays the session's first call
        while measured < args.seconds:
            measured += timed_pass(len(pass_s))[1]
        metrics = {"batch_s": batch_s, "rows_per_s": wl.rows(first_inp) / batch_s}
    else:
        tracer = tracing.Tracer(spark, f"{args.workload}-{args.seed}")
        timed_pass(0)
        # untraced, traced, untraced: the traced pass is compared with the
        # mean of its neighbours, which cancels a steady warm-up drift
        _, before_s = timed_pass(1)
        _, traced_s = timed_pass(2, tracer)
        _, after_s = timed_pass(3)
        with tracer.span("ladder"):
            lad = wl.ladder(spark, lambda: input_set(len(inputs)), tracer)
        metrics = layer_metrics(wl, lad, tracer, traced_s, (before_s + after_s) / 2, input_set(2),
                                results[2][2], cpus)
        if wl.checkpointed and results[2][2] is not None:
            inp, res = input_set(2), results[2][2]
            wl.prepare_resume(spark, res)
            resumed, metrics["pipeline.resume_s"] = runner.run(
                "resume", lambda call: wl.resume(spark, inp, res, call), wl.ops)
            results.append(("resume", inp, resumed))
        if "lsh_pairs" in lad:
            report["lsh_pairs"] = lad["lsh_pairs"]
    for tag, inp, res in results:
        runner.check(tag, inp, res)
    done = [(inp, res) for _, inp, res in results if res is not None]
    blind = runner.self_test(*done[0]) if done else []
    rss = procs.peak_rss_mb(os.getsid(0))
    spark.stop()
    if args.trace:
        metrics.update(event_metrics(event_dir))
        tracer.write(args.spans_out)
    else:
        metrics["setup_s"] = session_s + statistics.median(gen_s)
        metrics["peak_rss_mb"] = sum(rss.values())

    failed = len({(f["pass"], f["op"]) for f in runner.failures})
    report.update({
        "steal_share": steal_share(ticks0, cpu_ticks()),
        "session_s": session_s,
        "input_gen_s": gen_s,
        "pass_s": pass_s,
        "op_s": runner.op_s,
        "window_s": args.seconds,
        "inputs": [inp["sizes"] for inp in inputs],
        "rows_per_input": wl.rows(inputs[0]),
        "failed_frac": {"value": failed / runner.attempted, "unit": "ratio"},
        "failures": runner.failures,
        "self_test_blind_checks": blind,
        "peak_rss_by_process_mb": rss,
    })
    for key in ("n_short", "n_families", "max_family"):
        if key in inputs[0]:
            report[key] = [inp[key] for inp in inputs]
    return {
        "correct": not runner.failures and not blind,
        "attempted": runner.attempted,
        "failed": failed,
        "metrics": metrics,
        "report": report,
    }


def layer_metrics(wl, lad, tracer, traced_s, base_s, traced_inp, traced_res, cpus) -> dict:
    """Per-layer figures from the ladder, the traced pass and the kernels."""
    m = dict(lad["metrics"])
    m.update(tracing.kernel_metrics(*lad["kernel"]))
    if "encode_rows" in lad:
        # share of the encode UDF's core-seconds not spent in the kernel
        kernel_core_s = lad["encode_rows"] / m["kernel.encode_rows_per_s"]
        m["functions.arrow_share"] = 1.0 - kernel_core_s / (lad["encode_s"] * cpus)
    for name, s in lad["self_s"].items():
        if name.startswith(("operators.", "spark.")):
            m[f"{name}.s"] = s
    if wl.checkpointed:
        stages = {op: tracer.seconds(op) for op in wl.ops}
        for op, s in stages.items():
            m[f"{op}.s"] = s
        # the checkpointed stages' time beyond the same plan run to a noop sink
        m["pipeline.commit_overhead_s"] = sum(stages.values()) - lad["chain_s"]
        m["pipeline.bytes_per_doc"] = workloads.dir_bytes(traced_res["root"]) / wl.rows(traced_inp)
    m["trace.batch_s"] = traced_s
    m["trace.overhead_s"] = traced_s - base_s
    m["trace.ladder_s"] = lad["chain_s"]
    for group, c in tracer.counts.items():
        if group.startswith("operators."):
            for key, v in c.items():
                m[f"{group}.{key}"] = v
    return m


def event_metrics(event_dir) -> dict:
    m = {}
    for group, vals in tracing.event_log_metrics(event_dir).items():
        if group.startswith("operators."):
            for key, v in vals.items():
                m[f"{group}.{key}"] = v
    return m


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__)
    ap.add_argument("--workload", required=True, choices=sorted(workloads.WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), required=True)
    ap.add_argument("--run-dir", required=True)
    ap.add_argument("--out", required=True)
    ap.add_argument("--spans-out", required=True)
    args = ap.parse_args(argv)
    result = run(args)
    with open(args.out, "w") as f:
        json.dump(result, f, default=float)
    return 0


if __name__ == "__main__":
    sys.exit(main())
