"""Benchmark entry point: one run of one workload.

    python3 perfbench/run.py --workload spatial_job --seed 1 --seconds 12 --trace 0

Prints progress on stderr and, as the last line of stdout, one JSON
object: {"correct", "attempted", "failed", "metrics"}. With --trace 0 the
metrics are the end-to-end ones of BENCHMARK.json; with --trace 1 the
per-layer ones. See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
CHECKOUT = os.path.dirname(HERE)


T0 = time.perf_counter()


def log(*a) -> None:
    print(f"[{time.perf_counter() - T0:6.1f}s]", *a, file=sys.stderr, flush=True)


def bench_spec() -> dict:
    with open(os.path.join(CHECKOUT, "BENCHMARK.json")) as f:
        return json.load(f)


class Runner:
    """Counts attempted/failed jobs and keeps the timed samples."""

    def __init__(self, wl, spark):
        self.wl, self.spark = wl, spark
        self.attempted = self.failed = 0

    def attempt(self, fn, output=lambda res: res):
        """Run one job and check ``output(result)``. Returns (seconds,
        result), or (None, None) when the job raised or its output was
        wrong."""
        self.attempted += 1
        try:
            t0 = time.perf_counter()
            res = fn()
            dt = time.perf_counter() - t0
            problems = self.wl.check(self.spark, output(res))
            log(f"[{self.wl.name}] job {dt:.2f}s, check {time.perf_counter() - t0 - dt:.2f}s")
        except Exception:
            log(traceback.format_exc())
            self.failed += 1
            return None, None
        if problems:
            log(f"[{self.wl.name}] output check failed: {problems}")
            self.failed += 1
            return None, None
        return dt, res

    def timed_loop(self, fn, seconds: float, output=lambda res: res) -> list:
        """Jobs back to back for ``seconds`` (at least one): the
        (seconds, result) of each job that passed."""
        samples, t_end = [], time.perf_counter() + seconds
        while True:
            dt, res = self.attempt(fn, output)
            if dt is not None:
                samples.append((dt, res))
            if time.perf_counter() >= t_end:
                return samples


def run(args) -> dict:
    import host
    import workloads

    rd = host.RunDir(CHECKOUT, args.workload, args.seed,
                     workloads.WORKLOADS[args.workload].heap)
    rd.fit_env()
    try:
        return _run(args, rd, host)
    finally:
        rd.remove()


def _run(args, rd, host) -> dict:
    from o2g_spark.session import get_spark

    import spans as S
    import workloads

    cores = host.nproc()
    steal0 = host.steal_s()
    cpu_before = host.cpu_control_s()

    t0 = time.perf_counter()
    spark = get_spark("perfbench", extra_conf=rd.spark_conf(trace=False))
    session_s = time.perf_counter() - t0
    pid = host.jvm_pid(spark)
    wl = workloads.WORKLOADS[args.workload](args.seed, rd, cores)

    t = time.perf_counter()
    wl.make_inputs(spark)
    gen_s = time.perf_counter() - t

    runner = Runner(wl, spark)
    t = time.perf_counter()
    for _ in range(wl.warmup):
        runner.attempt(lambda: wl.job(spark))
    warmup_s = time.perf_counter() - t
    setup_s = session_s + gen_s + warmup_s
    log(f"[{wl.name}] setup {setup_s:.2f}s: session {session_s:.2f}s, "
        f"inputs {gen_s:.2f}s, warm-up {warmup_s:.2f}s")

    seconds = args.seconds / 2 if args.trace else args.seconds
    samples = runner.timed_loop(lambda: wl.job(spark), seconds)
    job_s = [dt for dt, _ in samples]
    rows_per_s = wl.size / statistics.median(job_s) if job_s else 0.0
    log(f"[{wl.name}] {len(job_s)} timed jobs {[round(x, 3) for x in job_s]} "
        f"-> {rows_per_s:.1f} rows/s")

    layer = {}
    if args.trace:
        layer = traced_phase(args, rd, S, wl, runner, seconds)
        spark = runner.spark
    peak_rss_mb = host.vm_hwm_mb(pid)
    host.stop_jvm(spark)
    cpu_after = host.cpu_control_s()
    steal = host.steal_s() - steal0

    failed_ratio = runner.failed / max(1, runner.attempted)
    if args.trace:
        layer.update({
            "session.start_s": session_s,
            wl.gen_metric: gen_s,
            "host.cpu_control_s": cpu_before,
            "host.cpu_control_after_s": cpu_after,
            "host.steal_s": steal,
            "host.tmp_free_gb": rd.tmp_free_gb(),
            "failed_ratio": failed_ratio,
            "run.timed_jobs": float(len(job_s)),
            "trace.untraced_rows_per_s": rows_per_s,
        })
        traced = layer.get("trace.rows_per_s", 0.0)
        layer["trace.overhead_frac"] = 1.0 - traced / rows_per_s if rows_per_s else 0.0
        metrics = {m["name"]: {"value": float(layer.get(m["name"], 0.0)), "unit": m["unit"]}
                   for m in bench_spec()["per_layer"]}
    else:
        metrics = {
            "rows_per_s": {"value": rows_per_s, "unit": "rows/s"},
            "setup_s": {"value": setup_s, "unit": "s"},
            "peak_rss_mb": {"value": peak_rss_mb, "unit": "MiB"},
            "pass_ratio": {"value": 1.0 - failed_ratio, "unit": "ratio"},
        }
    log(f"[{wl.name}] host.cpu_control_s before {cpu_before} after {cpu_after}, "
        f"host.steal_s {steal:.2f}, "
        f"peak RSS {peak_rss_mb:.0f} MiB, failed {runner.failed}/{runner.attempted}")
    return {
        "correct": runner.failed == 0,
        "attempted": runner.attempted,
        "failed": runner.failed,
        "metrics": metrics,
    }


def traced_phase(args, rd, S, wl, runner, seconds) -> dict:
    """Restart the Spark context (same JVM, so JIT warmth carries over)
    with the event log on, run spanned jobs, fold the log per span."""
    import eventlog
    from o2g_spark.session import get_spark

    runner.spark.stop()
    spark = get_spark("perfbench", extra_conf=rd.spark_conf(trace=True))
    runner.spark = spark
    wl.make_inputs(spark)
    tracer = S.Tracer(f"{wl.name}-{args.seed}", spark)
    # the new context starts new Python workers: one traced job warms
    # them and is left out of the layer metrics
    traced = lambda: wl.traced_job(spark, tracer)  # noqa: E731
    first = lambda res: res[0]  # noqa: E731  (output, root span id, raw metrics)
    runner.attempt(traced, first)
    samples = runner.timed_loop(traced, seconds, first)
    spark.stop()  # closes the event log file
    folded = eventlog.fold(rd.event_log())
    per_job = []
    for _, (_, root, raw) in samples:
        m = dict(raw)
        m.update(wl.layers(tracer.spans, root, folded, tracer.group))
        m["trace.rows_per_s"] = wl.size / S.wall(tracer.spans[root])
        per_job.append(m)
    os.makedirs(os.path.join(CHECKOUT, ".perfbench_out"), exist_ok=True)
    out = os.path.join(CHECKOUT, ".perfbench_out", f"trace-{wl.name}-{args.seed}.json")
    with open(out, "w") as f:
        json.dump({"spans": tracer.spans, "jobs": per_job,
                   "groups": {g: {k: v for k, v in t.items() if not k.startswith("stage_")}
                              for g, t in folded.items()}}, f, indent=1)
    log(f"[{wl.name}] trace written to {out}")
    keys = sorted({k for m in per_job for k in m})
    return {k: statistics.median([m.get(k, 0.0) for m in per_job]) for k in keys}


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    sys.path[:0] = [HERE, CHECKOUT]
    try:
        import o2g_spark  # noqa: F401
        import bench  # noqa: F401
        import workloads
    except (ImportError, OSError) as e:
        log(f"perfbench: the engine is not in {CHECKOUT}: {e}")
        return 2
    if args.workload not in workloads.WORKLOADS:
        log(f"perfbench: unknown workload {args.workload!r}; "
            f"choose from {sorted(workloads.WORKLOADS)}")
        return 2
    result = run(args)
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
