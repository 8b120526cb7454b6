"""Self-test of the benchmark itself, at tiny size in one Spark session.

    python3 perfbench/selftest.py

For each workload: set up, run one step, pass the correctness gate,
emit every end-to-end and per-layer metric named in BENCHMARK.json (the
workload's own layers with non-zero values), then corrupt one result
and check that the gate refuses it. Last, check that ``run.py`` fails
without printing a result where the package is missing. Prints ``ok``
and exits 0 when everything holds.
"""

from __future__ import annotations

import importlib
import json
import os
import shutil
import subprocess
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

#: per-layer metrics each workload must move (the rest may read 0)
OWN = {
    "etl_queries": ("sources.fetch_s", "sources.records",
                    "pipelines.load_exchange_s",
                    "pipelines.load_exchange.spark_jobs",
                    "sinks.files.write_per_lot_s",
                    "sinks.upsert.replace_by_key_s", "plans.build_s",
                    "plans.q06_sales_aggregate_s", "catalog.self_share",
                    "trace.write_mean_s", "trace.read_p50_s"),
    "lake_cdc": ("versioned.append_s", "versioned.merge_mor_s",
                 "versioned.delete_mor_s", "versioned.read_point_s",
                 "versioned.read_range.spark_jobs", "versioned.optimize_s",
                 "versioned.files_kept_ratio", "matview.refresh_s",
                 "streaming.drain_s", "streaming.batch_apply_s",
                 "streaming.drain.spark_jobs", "trace.write_mean_s",
                 "trace.read_p50_s"),
}


def _tiny(name, ctx):
    from perfbench import workloads as W

    if name == "etl_queries":
        wl = W.EtlQueries(ctx)
        wl.etl = W.EtlLots(ctx, n_lots=4, mean_records=40)
        wl.suite = W.AnalyticsSuite(ctx, scale=0.2)
        return wl
    return W.LakeCdc(ctx, rows=2_000, files=2)


def _expect_refused(gate, what: str) -> None:
    try:
        gate()
    except AssertionError:
        return
    raise AssertionError(f"the gate accepted a corrupted {what}")


def _corrupt_and_check(name, wl) -> None:
    if name == "etl_queries":
        _expect_refused(lambda: wl.suite.gate(corrupt="q06_sales_aggregate"),
                        "query result")
        lot_data = os.path.join(wl.etl.wh, "lot_data")
        victim = next(os.path.join(d, f) for d, _, fs in os.walk(lot_data)
                      for f in sorted(fs) if f.endswith(".parquet"))
        os.remove(victim)  # a lost write
        _expect_refused(wl.gate, "warehouse")
    else:
        from mc_ns_data_pipeline_spark.sinks import versioned as V

        stray = wl._df([(10**9, 0, 0, 1, 1.0, "A")])
        V.append_snapshot(stray, wl.table)  # a write the model never made
        _expect_refused(wl.gate, "versioned table")


def _check_workloads(spec: dict) -> None:
    from mc_ns_data_pipeline_spark.session import get_spark
    from perfbench import run
    from perfbench.trace import ProcSampler, Tracer
    from perfbench.workloads import WORKLOADS, Ctx

    end_to_end = {m["name"]: m["unit"] for m in spec["end_to_end"]}
    per_layer = [m["name"] for m in spec["per_layer"]]
    if end_to_end != run.END_TO_END:
        raise AssertionError(f"end_to_end {end_to_end} != {run.END_TO_END}")
    if per_layer != run.per_layer_names():
        raise AssertionError("per_layer names differ from run.py's list")
    if sorted(w["name"] for w in spec["workloads"]) != sorted(WORKLOADS):
        raise AssertionError("workloads differ from workloads.WORKLOADS")
    units = {m["name"]: m["unit"] for m in spec["per_layer"]}
    if any(units[n] != run._unit(n) for n in per_layer):
        raise AssertionError("per_layer units differ from run.py's")

    run_dir = os.path.join(ROOT, ".perfbench_run", f"selftest-{os.getpid()}")
    os.makedirs(run_dir)
    sampler = ProcSampler()
    spark = None
    try:
        spark = get_spark("perfbench-selftest", extra_conf=run._isolate(run_dir))
        sampler.jvm_pid = getattr(getattr(spark.sparkContext._gateway,
                                          "proc", None), "pid", None)
        sampler.start()
        tracer = Tracer(spark.sparkContext)
        for mod, attr, span, layer in run.TRACED:
            tracer.patch(importlib.import_module(
                f"mc_ns_data_pipeline_spark.{mod}"), attr, span, layer)
        for name in WORKLOADS:
            ctx = Ctx(spark, os.path.join(run_dir, name), 1, tracer)
            wl = _tiny(name, ctx)
            wl.setup()
            tracer.spans.clear()
            tracer.recording = sampler.timing = True
            t0 = time.perf_counter()
            ops = wl.step()
            elapsed = time.perf_counter() - t0
            tracer.recording = sampler.timing = False
            wl.gate()
            e2e = run.end_to_end_metrics(wl, ops, 1.0, elapsed, sampler)
            if set(e2e) != set(end_to_end) or min(e2e.values()) <= 0:
                raise AssertionError(f"{name}: end-to-end metrics {e2e}")
            layers = run.layer_metrics(tracer, wl, ops, sampler, 1.0, 1.0,
                                       elapsed)
            if list(layers) != per_layer:
                raise AssertionError(f"{name}: per-layer names differ")
            zero = [m for m in OWN[name] if not layers[m]]
            if zero:
                raise AssertionError(f"{name}: no value for {zero}")
            _corrupt_and_check(name, wl)
            print(f"{name}: {len(ops)} ops, gate passes and refuses a "
                  f"corrupted result", flush=True)
    finally:
        if spark is not None:
            run._stop(spark)
        sampler.stop()
        shutil.rmtree(run_dir, ignore_errors=True)


def _check_bare_checkout() -> None:
    """Without the package, run.py exits non-zero and prints no result."""
    bare = os.path.join(ROOT, ".perfbench_run", f"bare-{os.getpid()}")
    try:
        shutil.copytree(os.path.join(ROOT, "perfbench"),
                        os.path.join(bare, "perfbench"),
                        ignore=shutil.ignore_patterns("__pycache__"))
        shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), bare)
        p = subprocess.run(
            [sys.executable, "perfbench/run.py", "--workload", "lake_cdc",
             "--seed", "1", "--seconds", "1", "--trace", "0"],
            cwd=bare, capture_output=True, text=True, timeout=180)
        if p.returncode == 0 or p.stdout.strip():
            raise AssertionError(f"bare checkout: exit {p.returncode}, "
                                 f"stdout {p.stdout!r}")
    finally:
        shutil.rmtree(bare, ignore_errors=True)


def main() -> int:
    sys.path.insert(0, ROOT)
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    _check_workloads(spec)
    _check_bare_checkout()
    base = os.path.join(ROOT, ".perfbench_run")
    if os.path.isdir(base) and not os.listdir(base):
        os.rmdir(base)
    print("ok")
    return 0


if __name__ == "__main__":
    sys.exit(main())
