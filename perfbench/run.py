"""Benchmark entry point: one closed-loop client on ``local[nproc]``.

    python3 perfbench/run.py --workload warehouse --seed 1 --seconds 5 --trace 0

Prints one line per measured quantity (name, value, unit), then as the
last line one JSON object: ``correct``, ``attempted``, ``failed`` and
``metrics``. With ``--trace 0`` the metrics are the end-to-end ones of
BENCHMARK.json; with ``--trace 1`` the per-layer ones, and the spans are
written to ``.perfbench_out/``. Exits 1 if any correctness check failed.
See perfbench/LAYERS.md for what each workload and metric is for.
"""

from __future__ import annotations

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import contextlib  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import signal  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
MODEL_SCHEMAS = ("stg", "int", "snapshots", "mart")


def _environment(workdir: str) -> None:
    """Shared-machine settings, fixed before Spark starts: all cores this
    process may use, a JVM heap below physical memory, and every
    temporary file (Spark local dirs, temp files) inside this run's own
    directory. Python workers import the package through PYTHONPATH."""
    cpus = len(os.sched_getaffinity(0))
    phys_mb = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") // 2**20
    tmp = os.path.join(workdir, "tmp")
    os.makedirs(tmp)
    os.environ.update(
        {
            "SPARK_GRAFT_CPUS": str(cpus),
            "SPARK_GRAFT_DRIVER_MEM": f"{min(2048, phys_mb // 2)}m",
            "SPARK_LOCAL_DIRS": os.path.join(workdir, "local"),
            "TMPDIR": tmp,
            "PYTHONPATH": os.pathsep.join(p for p in (ROOT, os.environ.get("PYTHONPATH")) if p),
            "JAVA_TOOL_OPTIONS": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        }
    )


def _stop(spark) -> None:
    """Stop Spark, then the gateway JVM, and wait until it has exited,
    also when stopping fails (the JVM exits when its stdin closes)."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    try:
        spark.stop()
        if gateway is not None:
            gateway.shutdown()
    finally:
        if proc is not None:
            proc.stdin.close()
            try:
                proc.wait(timeout=120)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()


def _quantile(xs: list[float], q: float) -> float:
    return statistics.quantiles(xs, n=100, method="inclusive")[int(q * 100) - 1] if len(xs) > 1 else xs[0]


def end_to_end(samples: dict, op: str, mem_mb: float) -> dict[str, tuple[float, str]]:
    # set-up and operations are gated in CPU seconds; see LAYERS.md
    return {
        "setup_s": (samples["setup_cpu_s"][0], "s"),
        "op_cpu_p50_s": (statistics.median(samples[f"{op}_cpu_s"]), "s"),
        "retained_mb": (mem_mb, "MiB"),
    }


def per_layer(pipe_models, spans, spark_tot: dict, wall: float, cpus: int,
              get_spark_s: float, overhead_s: float, run) -> dict[str, tuple[float, str]]:
    def tot(name: str, key: str | None = None) -> float:
        sel = [x for x in spans if x.name == name]
        return sum((x.end - x.start) if key is None else x.counts.get(key, 0) for x in sel)

    m: dict[str, tuple[float, str]] = {"session.get_spark_s": (get_spark_s, "s")}
    m["sources.ingest_csv_s"] = (tot("sources.ingest_csv"), "s")
    m["sources.ingest_jobs"] = (tot("sources.ingest_csv", "jobs"), "count")
    m["sources.read_s"] = (tot("sources.read"), "s")
    m["sources.read_jobs"] = (tot("sources.read", "jobs"), "count")
    by_schema = dict.fromkeys(MODEL_SCHEMAS, 0.0)
    for name, schema in pipe_models:
        sp = f"models.{name}"
        m[f"{sp}.s"] = (tot(sp), "s")
        m[f"{sp}.jobs"] = (tot(sp, "jobs"), "count")
        m[f"{sp}.bytes_written"] = (tot(sp, "bytes_written"), "B")
        m[f"{sp}.shuffle_bytes"] = (tot(sp, "shuffle_write"), "B")
        by_schema[schema] += tot(sp)
    for schema, v in by_schema.items():
        m[f"models.{schema}.s"] = (v, "s")
    m["warehouse.write_amp"] = (run.wh_bytes / run.raw_bytes if run.wh_bytes else 0.0, "ratio")
    m["plans.testing.construct_s"] = (tot("plans.testing.construct"), "s")
    m["plans.testing.eval_s"] = (tot("plans.testing.eval"), "s")
    m["plans.testing.jobs"] = (tot("plans.testing", "jobs"), "count")
    m["suite.construct_s"] = (tot("suite.construct"), "s")
    m["suite.exec_s"] = (tot("suite.exec"), "s")
    m["suite.construct_jobs"] = (tot("suite.construct", "jobs"), "count")
    m["suite.exec_jobs"] = (tot("suite.exec", "jobs"), "count")
    m["spark.jobs"] = (spark_tot["jobs"], "count")
    m["spark.stages"] = (spark_tot["stages"], "count")
    m["spark.tasks"] = (spark_tot["tasks"], "count")
    m["spark.shuffle_write_bytes"] = (spark_tot["shuffle_write"], "B")
    m["spark.shuffle_read_bytes"] = (spark_tot["shuffle_read"], "B")
    m["spark.spill_bytes"] = (spark_tot["spill"], "B")
    m["spark.executor_run_s"] = (spark_tot["task_ms"] / 1000.0, "s")
    m["spark.gc_s"] = (spark_tot["gc_ms"] / 1000.0, "s")
    m["spark.busy_ratio"] = (spark_tot["task_ms"] / 1000.0 / (wall * cpus), "ratio")
    m["spark.persisted_rdds_max"] = (run.tracer.persisted_max, "count")
    m["trace.overhead_s"] = (overhead_s, "s")
    return m


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=("warehouse", "suite_operators"))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--accounts", type=int, default=200, help="warehouse base feed size")
    ap.add_argument("--inject-fault", choices=("mart_row",), default=None,
                    help="corrupt one mart row after each batch build (self-test)")
    args = ap.parse_args(argv)
    # a terminated run still stops Spark and removes its directory
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    workdir = os.path.join(ROOT, ".perfbench_runs", f"{args.workload}-{os.getpid()}")
    shutil.rmtree(workdir, ignore_errors=True)
    os.makedirs(workdir)
    spark = None
    try:
        _environment(workdir)
        sys.path.insert(0, ROOT)
        import workloads
        from probes import SparkCounters, Tracer, proc_mb, retained_mb, source_read_spans

        from duckdb_dbt_finance_warehouse_spark.session import default_parallelism, get_spark

        t0 = time.perf_counter()
        spark = get_spark(
            "perfbench",
            extra_conf={"spark.ui.retainedJobs": "1000000", "spark.ui.retainedStages": "1000000"},
        )
        get_spark_s = time.perf_counter() - t0
        counters = SparkCounters(spark) if args.trace else None
        run = workloads.Run(spark, Tracer(counters), workdir, args.seed, args.seconds,
                            args.accounts, args.inject_fault)
        setup, measure, op = workloads.WORKLOADS[args.workload]
        with source_read_spans(run.tracer) if counters else contextlib.nullcontext():
            state = setup(run)
            run.sample("setup_wall_s", time.perf_counter() - T_START)
            run.sample("setup_cpu_s", run.cpu_s())

            first_span = len(run.tracer.spans)
            if counters:
                last_stage, c0 = counters.last_stage_id(), counters.read()
            t_measure = time.perf_counter()
            measure(run, state)
            wall = time.perf_counter() - t_measure
            last_span = len(run.tracer.spans)
        if counters:
            c1 = counters.read()
            spark_tot = {k: c1[k] - c0[k] for k in c0} | counters.stage_totals(last_stage)
            # as many operations again with tracing off; the overhead is
            # the difference of the two medians
            traced = run.samples[f"{op}_s"]
            run.tracer.counters, timed = None, run.samples
            run.samples = {}
            measure(run, state, len(traced))
            overhead_s = statistics.median(traced) - statistics.median(run.samples[f"{op}_s"])
            run.tracer.counters, run.samples = counters, timed

        jvm_pid = int(spark._jvm.java.lang.ProcessHandle.current().pid())
        run.peak_rss_mb = proc_mb(os.getpid(), "VmHWM") + proc_mb(jvm_pid, "VmHWM")
        mem_mb = retained_mb(spark)
        if args.trace:
            pipe = state.get("pipe") or workloads.build_pipeline()
            models = [(n, pipe.models[n].schema) for n in pipe.topo_order()]
            metrics = per_layer(models, run.tracer.spans[first_span:last_span], spark_tot, wall,
                                default_parallelism(), get_spark_s, overhead_s, run)
            out = os.path.join(ROOT, ".perfbench_out")
            os.makedirs(out, exist_ok=True)
            path = os.path.join(out, f"trace_{args.workload}_seed{args.seed}.json")
            run.tracer.dump(path)
            _report_self_times(run.tracer, first_span, last_span, path)
        else:
            metrics = end_to_end(run.samples, op, mem_mb)
        _report(run, metrics)
    finally:
        if spark is not None:
            _stop(spark)
        shutil.rmtree(workdir, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(workdir))
        except OSError:  # another run's directory is still there
            pass

    for f in run.failures:
        print(f"FAILED {f}")
    print(json.dumps({
        "correct": run.failed == 0,
        "attempted": run.attempted,
        "failed": run.failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))
    return 0 if run.failed == 0 else 1


def _report(run, metrics: dict) -> None:
    """Human-readable lines: the workload's own named quantities with
    sample counts, then the reported metrics."""
    for name, xs in sorted(run.samples.items()):
        line = f"{name}: p50 {statistics.median(xs):.4f} s, n={len(xs)}"
        if len(xs) <= 10:
            line += " (" + " ".join(f"{x:.3f}" for x in xs) + ")"
        if len(xs) >= 50:  # p80 leaves at least ten samples beyond it
            line += f", p80 {_quantile(xs, 0.8):.4f} s"
        print(line)
    if run.raw_bytes and run.wh_bytes:
        print(f"write_amp: {run.wh_bytes / run.raw_bytes:.2f} warehouse bytes per raw CSV byte")
    print(f"peak_rss: {run.peak_rss_mb:.1f} MiB (VmHWM, Python process + JVM)")
    print(f"error_rate: {run.failed}/{run.attempted}")
    for k, (v, u) in metrics.items():
        print(f"metric {k} = {v:.6g} {u}")


def _report_self_times(tracer, first_span: int, last_span: int, path: str) -> None:
    """Which spans account for the set-up and the timed wall time, by
    self time."""
    print(f"spans written to {os.path.relpath(path, ROOT)}")
    for what, a, b in (("set-up", 0, first_span), ("timed", first_span, last_span)):
        print(f"top self times, {what}:")
        selft = tracer.self_times(a, b)
        for name, v in sorted(selft.items(), key=lambda kv: -kv[1])[:12]:
            print(f"  {v:9.3f} s  {name}")


if __name__ == "__main__":
    sys.exit(main())
