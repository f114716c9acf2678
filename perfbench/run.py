"""Benchmark entry point.

    python3 perfbench/run.py --workload ladder_batch --seed 1 --seconds 10 --trace 0

Run from the repository root.  Prints a conditions record, then as its
last line one JSON object: ``correct``, ``attempted``, ``failed`` and
``metrics`` (the end-to-end metrics with ``--trace 0``, the per-layer
metrics with ``--trace 1``).  Everything it writes goes under
``.perfbench_work/`` in the current directory and is removed on exit.
"""

from __future__ import annotations

import argparse
import json
import os
import shlex
import shutil
import sys
import time

ROOT = os.getcwd()
HERE = os.path.dirname(os.path.abspath(__file__))
CONFIG = os.path.join(ROOT, "BENCHMARK.json")


def _metric_specs() -> tuple[dict, dict]:
    with open(CONFIG, encoding="utf-8") as fh:
        cfg = json.load(fh)
    return (
        {m["name"]: m["unit"] for m in cfg["end_to_end"]},
        {m["name"]: m["unit"] for m in cfg["per_layer"]},
    )


def _prepare_env(work: str, trace: bool) -> None:
    """Keep every file Spark, the JVM and Python write inside ``work``, and
    make the package importable by the driver and the Python workers."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    os.environ["SPARK_DRIVER_MEM"] = "2g"
    # spark-submit starts a launcher JVM before the driver's: keep its
    # perf-data and temp files out of the system /tmp as well
    os.environ["SPARK_LAUNCHER_OPTS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    if ROOT not in sys.path:
        sys.path.insert(0, ROOT)
    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
    }
    if trace:
        log_dir = os.path.join(work, "eventlog")
        os.makedirs(log_dir, exist_ok=True)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + log_dir,
            "spark.eventLog.compress": "false",
            # one file per application, not a directory of rolled files
            "spark.eventLog.rolling.enabled": "false",
        })
    args = ["--driver-java-options", f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"]
    for k, v in conf.items():
        args += ["--conf", f"{k}={v}"]
    os.environ["PYSPARK_SUBMIT_ARGS"] = shlex.join(args + ["pyspark-shell"])


def _stop_spark(spark) -> None:
    """Stop the session, then the JVM it launched, and wait for it."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except Exception:  # noqa: BLE001 — escalate to a kill, then wait again
            proc.kill()
            proc.wait(timeout=30)


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    e2e_units, layer_units = _metric_specs()
    sys.path.insert(0, os.path.dirname(HERE))
    from perfbench import harness, workloads

    if args.workload not in workloads.SPECS:
        ap.error(f"unknown workload {args.workload!r}")
    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        _prepare_env(work, bool(args.trace))
        # fail fast, before the JVM starts, when the engine is not here
        import hybrid_sanctions_search_engine_spark  # noqa: F401

        steal0 = harness.cpu_times()
        tracer = harness.Tracer(enabled=bool(args.trace))
        with harness.RssSampler() as rss:
            from hybrid_sanctions_search_engine_spark.session import get_spark

            nproc = len(os.sched_getaffinity(0))
            t0 = time.monotonic()
            spark = get_spark("perfbench", cores=nproc)
            spark.sparkContext.setLogLevel("ERROR")
            start_s = time.monotonic() - t0
            try:
                out = _run(spark, workloads, args, work, tracer)
            finally:
                t0 = time.monotonic()
                _stop_spark(spark)
                stop_s = time.monotonic() - t0
        steal1 = harness.cpu_times()
        out.conditions.update(
            workload=args.workload, seed=args.seed, nproc=nproc,
            spark_start_s=round(start_s, 3), spark_stop_s=round(stop_s, 3),
            steal_pct=round(harness.steal_pct(steal0, steal1), 3),
            call_ms={cls: [round(x) for x in ms] for cls, ms in out.calls.items()},
            build_s=[round(x, 2) for x in out.samples["index_io.build_s"]],
            open_s=[round(x, 2) for x in out.samples["index_io.load_cache_s"]],
            # highest percentile with ten calls beyond it, where a class has them
            tails={
                cls: harness.tail_percentile(ms)
                for cls, ms in out.calls.items() if harness.tail_percentile(ms)
            },
        )
        if args.trace:
            metrics = _layer_metrics(out, tracer, work, harness)
            units = layer_units
        else:
            metrics = _e2e_metrics(out, rss.peak_mb, harness)
            units = e2e_units
    finally:
        shutil.rmtree(work, ignore_errors=True)

    failed = out.failed + out.wrong
    print(json.dumps({"conditions": out.conditions}), flush=True)
    print(
        "error_rate %.4f (%d failed or wrong of %d attempted)"
        % (failed / max(out.attempted, 1), failed, out.attempted),
        flush=True,
    )
    print(json.dumps({
        "correct": failed == 0,
        "attempted": out.attempted,
        "failed": failed,
        "metrics": {
            name: {"value": float(metrics.get(name, 0.0)), "unit": unit}
            for name, unit in units.items()
        },
    }), flush=True)
    return 0


def _run(spark, workloads, args, work, tracer):
    t0 = time.monotonic()
    w = workloads.Workload(
        spark, workloads.SPECS[args.workload], args.seed, work, tracer
    )
    phases = w.out.conditions.setdefault("phase_s", {})
    phases["inputs"] = round(time.monotonic() - t0, 3)

    def phase(name, fn, *a):
        t0 = time.monotonic()
        res = fn(*a)
        phases[name] = round(time.monotonic() - t0, 3)
        return res

    try:
        # set-up: the build + plan-open cycle is repeated and counts by its
        # median (the first cycle also pays the JVM's warm-up); the vector
        # index is built once and counts once
        cycles = phase("setups", w.set_up)
        v = w.out.values
        v["setup_s"] = (
            workloads.median(cycles)
            + v.get("encoder.embed_s", 0.0) + v.get("similarity.ivf_build_s", 0.0)
        )
        w.check_properties()
        phase("warm_up", w.warm_up)
        phase("serve", w.serve, args.seconds)
        phase("checks", w.check_results)
        if args.trace:
            phase("probes", w.probe_layers)
            phase("write_cycle", w.ingest_and_compact)
    finally:
        w.close()
    return w.out


def _e2e_metrics(out, peak_mb: float, harness) -> dict:
    v = out.values
    if not out.calls.get("escalated"):
        raise RuntimeError("no timed call escalated")
    return {
        "escalated_p50_ms": harness.median(out.calls["escalated"]),
        "setup_s": v["setup_s"],
        "index_bytes_per_posting": v["index_io.bytes"] / v["index_io.postings"],
        "peak_rss_mb": peak_mb,
    }


def _layer_metrics(out, tracer, work: str, harness) -> dict:
    m: dict[str, float] = {}
    for name, vals in out.samples.items():
        m[name] = harness.median(vals)
    m.update(out.values)
    spans = tracer.spans
    jobs, tasks = harness.read_event_log(os.path.join(work, "eventlog"))
    counters = harness.spark_counters(spans, jobs, tasks)
    selft = harness.self_times(spans)
    by_name: dict[str, list] = {}
    for s in spans:
        by_name.setdefault(s.name, []).append(s)
    for name, group in by_name.items():
        for field in ("jobs", "tasks", "exec_run_ms", "shuffle_bytes",
                      "task_failures", "driver_gap_ms"):
            m[f"{name}.{field}"] = harness.median(
                [getattr(counters[s.span_id], field) for s in group]
            )
        m[f"{name}.self_ms"] = harness.median([selft[s.span_id] for s in group])
    on, off = out.samples.get("trace.traced_call_ms"), out.samples.get("trace.untraced_call_ms")
    if on and off:
        m["trace.overhead_pct"] = 100.0 * (harness.median(on) / harness.median(off) - 1.0)
    m["trace.spans"] = len(spans)
    m["trace.jobs_attributed"] = len(harness.attribute_jobs(spans, jobs))
    m["trace.jobs_total"] = len(jobs)
    return m


if __name__ == "__main__":
    sys.exit(main())
