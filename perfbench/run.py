"""Run one benchmark workload and print its metrics as one JSON line.

    python3 perfbench/run.py --workload etl_queries --seed 1 --seconds 20 --trace 0

Run it from the root of a checkout: it imports ``mc_ns_data_pipeline_spark``
from there and exits with code 2 when the package is missing. Every file
the run makes (Spark local dirs, warehouse, derby home, checkpoints, the
Spark log) lives in a private directory under ``.perfbench_run/`` that is
removed when the run ends. The worker bytecode cache is built once into
``.bench_build/`` and reused by later runs.

The last line of standard output is ``{"correct", "attempted", "failed",
"metrics"}``: with ``--trace 0`` the end-to-end metrics, with ``--trace 1``
the per-layer metrics from spans around each layer's public functions.
The line before it carries the workload's own figures and the machine
context. See perfbench/README.md for what each workload and metric means.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time
import traceback

T_START = time.perf_counter()
ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

#: (module, function, span name, layer) traced in a --trace 1 run.
TRACED = [
    ("pipelines.fetch", "merge_lot_data", "pipelines.merge_lot_data",
     "pipelines"),
    ("pipelines.load", "load_exchange", "pipelines.load_exchange",
     "pipelines"),
    ("sinks.files", "write_per_lot", "sinks.files.write_per_lot",
     "sinks.files"),
    ("sinks.upsert", "merge_upsert", "sinks.upsert.merge_upsert",
     "sinks.upsert"),
    ("sinks.upsert", "replace_by_key", "sinks.upsert.replace_by_key",
     "sinks.upsert"),
    ("sinks.versioned", "append_snapshot", "versioned.append_snapshot",
     "sinks.versioned"),
    ("sinks.versioned", "merge_snapshot_mor",
     "versioned.merge_snapshot_mor", "sinks.versioned"),
    ("sinks.versioned", "delete_keys_mor", "versioned.delete_keys_mor",
     "sinks.versioned"),
    ("sinks.versioned", "optimize_table", "versioned.optimize_table",
     "sinks.versioned"),
    ("sinks.versioned", "compact_snapshot", "versioned.compact_snapshot",
     "sinks.versioned"),
    ("sinks.versioned", "read_current", "versioned.read_current",
     "sinks.versioned"),
    ("sinks.matview", "refresh_aggregate_view",
     "matview.refresh_aggregate_view", "sinks.matview"),
    ("streaming.incremental", "run_stream_apply_changes",
     "streaming.run_stream_apply_changes", "streaming"),
    ("streaming.incremental", "apply_change_batch",
     "streaming.apply_change_batch", "streaming"),
    ("catalog", "load_table", "catalog.load_table", "catalog"),
]
LAYERS = ("sources", "pipelines", "sinks.files", "sinks.upsert",
          "sinks.versioned", "sinks.matview", "streaming", "plans",
          "catalog")

#: driver JVM heap (local mode: the one JVM runs every task)
DRIVER_MEM = "2g"

END_TO_END = {"setup_s": "s", "write_mean_s": "s", "read_p50_s": "s",
              "ops_per_s": "1/s", "rss_p50_mb": "MB"}


def _unit(name: str) -> str:
    if name.endswith("_s"):
        return "s"
    if name.endswith(("_ratio", "_share", "per_user_byte", "_amp",
                      "per_row_returned")):
        return "ratio"
    if "bytes" in name:
        return "bytes"
    return "count"


def per_layer_names() -> list[str]:
    """Every per-layer metric a --trace 1 run prints, in order."""
    from perfbench.workloads import SUITE

    names = ["session.get_spark_s", "session.warmup_s",
             "session.python_spawns",
             "sources.fetch_s", "sources.pages", "sources.records",
             "sources.fetch.spark_tasks",
             "pipelines.merge_lot_data_s", "pipelines.exchange_rows",
             "pipelines.load_exchange_s",
             "pipelines.load_exchange.spark_jobs",
             "sinks.files.write_per_lot_s", "sinks.files.files_written",
             "sinks.files.bytes_written",
             "sinks.upsert.merge_upsert_s", "sinks.upsert.replace_by_key_s",
             "sinks.upsert.bytes_written_per_user_byte"]
    for verb in ("append", "merge_mor", "delete_mor", "read_point",
                 "read_range"):
        names.append(f"versioned.{verb}_s")
        names.append(f"versioned.{verb}.spark_jobs")
    names += ["versioned.optimize_s", "versioned.files_kept_ratio",
              "versioned.rows_examined_per_row_returned",
              "versioned.bytes_written_per_commit", "versioned.live_files",
              "versioned.delete_files_live", "versioned.commit_conflicts",
              "matview.refresh_s", "matview.increment_share",
              "streaming.drain_s", "streaming.batch_apply_s",
              "streaming.lifecycle_s", "streaming.batches_per_drain",
              "streaming.events_per_batch", "streaming.drain.spark_jobs",
              "plans.build_s"]
    for q in SUITE:
        names += [f"plans.{q}_s", f"plans.{q}.spark_jobs"]
    for layer in LAYERS:
        names += [f"{layer}.self_share", f"{layer}.spark_jobs_per_op",
                  f"{layer}.spark_tasks_per_op"]
    names += ["trace.write_mean_s", "trace.read_p50_s",
              "trace.bookkeeping_share"]
    return names


def _parse(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def _isolate(run_dir: str) -> dict[str, str]:
    """Point every temporary location at ``run_dir``; returns Spark confs."""
    import tempfile

    tmp = os.path.join(run_dir, "tmp")
    for d in ("tmp", "local", "warehouse", "derby"):
        os.makedirs(os.path.join(run_dir, d))
    cpus = str(os.cpu_count() or 1)
    # The worker bytecode cache is a build product that users build once
    # per machine. Its default home is under ~/.cache; the benchmark keeps
    # it in the checkout's build directory instead, so a run writes only
    # inside its checkout and later runs still reuse it.
    build = os.path.join(ROOT, ".bench_build")
    os.environ.update({
        "TMPDIR": tmp,
        "SPARK_LOCAL_DIRS": os.path.join(run_dir, "local"),
        "SPARK_GRAFT_CPUS": cpus,
        "SPARK_GRAFT_PYC_CACHE": os.path.join(build, "perfbench-pyc"),
        "SPARK_GRAFT_DRIVER_MEM": DRIVER_MEM,
        # executor Python workers import perfbench.lotgen by name
        "PYTHONPATH": os.pathsep.join(
            [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(
                os.pathsep) if p]),
    })
    tempfile.tempdir = tmp
    log4j = os.path.join(run_dir, "log4j2.properties")
    with open(log4j, "w") as fh:
        fh.write(
            "rootLogger.level = warn\n"
            "rootLogger.appenderRef.file.ref = file\n"
            "appender.file.type = File\n"
            "appender.file.name = file\n"
            f"appender.file.fileName = {run_dir}/spark.log\n"
            "appender.file.layout.type = PatternLayout\n"
            "appender.file.layout.pattern = %d{HH:mm:ss} %p %c{1}: %m%n\n")
    java_opts = (f"-Dlog4j2.configurationFile=file:{log4j} "
                 f"-Dderby.system.home={run_dir}/derby "
                 f"-Djava.io.tmpdir={tmp} "
                 "-XX:-UsePerfData "  # no hsperfdata file in /tmp
                 # The heap is committed and touched in full at start, so
                 # RSS does not swing with how far GC let it grow.
                 f"-Xms{DRIVER_MEM} -XX:+AlwaysPreTouch "
                 # A run is a short-lived job. With the default tiered
                 # JIT, the C2 compiler threads took about a third of the
                 # CPU of the timed region, and latencies followed how
                 # much CPU the host left over for them.
                 "-XX:TieredStopAtLevel=1")
    return {
        "spark.driver.extraJavaOptions": java_opts,
        "spark.sql.warehouse.dir": os.path.join(run_dir, "warehouse"),
        "spark.sql.shuffle.partitions": cpus,
        "spark.ui.showConsoleProgress": "false",
    }


def _cpu_ticks() -> tuple[int, int]:
    """(steal, total) jiffies of all CPUs: the share of CPU time the host
    gave to other guests shows how loaded the machine was."""
    with open("/proc/stat") as fh:
        vals = [int(x) for x in fh.readline().split()[1:]]
    return vals[7], sum(vals)


def _stop(spark) -> None:
    """Stop Spark and wait for the JVM it launched to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        try:
            proc.stdin.close()  # the launcher exits when its stdin closes
            proc.wait(timeout=60)
        except Exception:  # noqa: BLE001 - a hung JVM must still go
            proc.kill()
            proc.wait(timeout=30)


def _kind_median(ops, kinds) -> float:
    """Median over operation kinds of each kind's median latency. A mix
    of fast and slow kinds has a gap between them; the plain median of
    all samples would sit in that gap and jump with its edge samples."""
    by_kind: dict[str, list[float]] = {}
    for kind, seconds, _ in ops:
        if kind in kinds:
            by_kind.setdefault(kind, []).append(seconds)
    meds = [statistics.median(v) for v in by_kind.values()]
    return statistics.median(meds) if meds else 0.0


def _mean(ops, kinds) -> float:
    """Mean latency of the operations of these kinds. A run times each
    workload's fixed write rotation, so the mean is over the same mix in
    every run. Over eleven ``lake_cdc`` runs it varied about a third less
    from run to run than the median over kinds of each kind's median,
    which rests on the middle two of four kinds."""
    xs = [seconds for kind, seconds, _ in ops if kind in kinds]
    return statistics.fmean(xs) if xs else 0.0


def end_to_end_metrics(wl, ops, setup_s, elapsed, sampler) -> dict:
    return {
        "setup_s": setup_s,
        "write_mean_s": _mean(ops, wl.WRITES),
        "read_p50_s": _kind_median(ops, wl.READS),
        "ops_per_s": len(ops) / elapsed,
        "rss_p50_mb": statistics.median(
            sampler.timed_rss_kb or [sampler.peak_rss_kb]) / 1024,
    }


def layer_metrics(tracer, wl, ops, sampler, get_spark_s, warmup_s,
                  elapsed) -> dict:
    out = dict.fromkeys(per_layer_names(), 0.0)
    out.update(wl.layer_metrics())
    out["session.get_spark_s"] = get_spark_s
    out["session.warmup_s"] = warmup_s
    out["session.python_spawns"] = len(sampler.python_pids)
    n = max(1, len(ops))
    for layer, agg in tracer.by_layer().items():
        out[f"{layer}.self_share"] = agg["self_s"] / elapsed
        out[f"{layer}.spark_jobs_per_op"] = agg["jobs"] / n
        out[f"{layer}.spark_tasks_per_op"] = agg["tasks"] / n
    # the untraced run's write_mean_s/read_p50_s, taken under tracing
    out["trace.write_mean_s"] = _mean(ops, wl.WRITES)
    out["trace.read_p50_s"] = _kind_median(ops, wl.READS)
    out["trace.bookkeeping_share"] = tracer.bookkeeping_s / elapsed
    unknown = set(out) - set(per_layer_names())
    if unknown:
        raise KeyError(f"unlisted per-layer metrics: {sorted(unknown)}")
    return out


def run(args) -> int:
    if not os.path.isdir(os.path.join(ROOT, "mc_ns_data_pipeline_spark")):
        print(f"perfbench: no mc_ns_data_pipeline_spark package under {ROOT}",
              file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    from perfbench.trace import ProcSampler, Tracer
    from perfbench.workloads import WORKLOADS, Ctx

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; one of "
              f"{sorted(WORKLOADS)}", file=sys.stderr)
        return 2
    base = os.path.join(ROOT, ".perfbench_run")
    os.makedirs(base, exist_ok=True)
    run_dir = os.path.join(base, f"{args.workload}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    sampler = ProcSampler()
    ticks0 = _cpu_ticks()
    spark = None
    try:
        confs = _isolate(run_dir)
        sampler.start()
        from mc_ns_data_pipeline_spark.session import get_spark

        t0 = time.perf_counter()
        spark = get_spark(f"perfbench-{args.workload}", extra_conf=confs)
        get_spark_s = time.perf_counter() - t0
        gateway = spark.sparkContext._gateway
        sampler.jvm_pid = getattr(getattr(gateway, "proc", None), "pid", None)

        tracer = None
        if args.trace:
            import importlib

            tracer = Tracer(spark.sparkContext)
            for mod, attr, name, layer in TRACED:
                tracer.patch(importlib.import_module(
                    f"mc_ns_data_pipeline_spark.{mod}"), attr, name, layer)
        ctx = Ctx(spark, os.path.join(run_dir, "work"), args.seed, tracer)
        wl = WORKLOADS[args.workload](ctx)
        t1 = time.perf_counter()
        wl.setup()
        warmup_s = time.perf_counter() - t1
        setup_s = time.perf_counter() - T_START

        ops: list[tuple] = []
        attempted = failed = 0
        if tracer is not None:
            tracer.recording = True
        sampler.timing = True
        cpu0 = sampler.tree_cpu_s()
        t2 = time.perf_counter()
        while time.perf_counter() - t2 < args.seconds:
            try:
                got = wl.step()
            except Exception:  # noqa: BLE001 - counted, reported, not retried
                failed += 1
                attempted += 1
                traceback.print_exc()
                continue
            ops += got
            attempted += len(got)
        elapsed = time.perf_counter() - t2
        cpu_s = sampler.tree_cpu_s() - cpu0
        sampler.timing = False
        if tracer is not None:
            tracer.recording = False

        correct = failed == 0
        try:
            detail = wl.detail(ops)
            wl.gate()
        except Exception:  # noqa: BLE001 - a failed gate is a wrong result
            traceback.print_exc()
            correct = False
            detail = {}
        sampler.sample()

        if tracer is not None:
            metrics = layer_metrics(tracer, wl, ops, sampler, get_spark_s,
                                    warmup_s, elapsed)
            units = {k: _unit(k) for k in metrics}
        else:
            metrics = end_to_end_metrics(wl, ops, setup_s, elapsed, sampler)
            units = END_TO_END
        import pyarrow
        import pyspark

        steal, total = (b - a for a, b in zip(ticks0, _cpu_ticks()))
        detail["context"] = {
            "workload": args.workload, "seed": args.seed,
            "trace": args.trace, "nproc": os.cpu_count(),
            "loadavg": os.getloadavg(), "timed_s": elapsed,
            "cpu_steal_share": steal / max(1, total),
            "timed_cpu_s": cpu_s,
            "ops": len(ops), "peak_rss_mb": sampler.peak_rss_kb / 1024,
            "spark": pyspark.__version__,
            "java": spark.sparkContext._jvm.System.getProperty(
                "java.version"),
            "pyarrow": pyarrow.__version__,
        }
        print(json.dumps(detail))
        print(json.dumps({
            "correct": correct, "attempted": max(1, attempted),
            "failed": failed,
            "metrics": {k: {"value": v, "unit": units[k]}
                        for k, v in metrics.items()},
        }))
        return 0
    finally:
        if spark is not None:
            _stop(spark)
        sampler.stop()
        shutil.rmtree(run_dir, ignore_errors=True)
        try:
            os.rmdir(base)
        except OSError:
            pass  # another run still uses it


if __name__ == "__main__":
    sys.exit(run(_parse(sys.argv[1:])))
