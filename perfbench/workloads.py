"""The benchmark's workloads: seeded, single-client, closed loops.

Each workload builds its inputs from the seed in ``setup`` (outside the
timed region, with the warm-up the workload documents), then
``step`` runs one round of operations and returns ``(kind, seconds,
rows)`` per operation, and ``gate`` checks the outputs against an
independent model. ``layer_metrics`` turns the traced spans into the
per-layer figures; ``detail`` gives the workload's own figures, which
are printed beside the result but not gated.
"""

from __future__ import annotations

import os
import random
import statistics
import time

import numpy as np

from perfbench import lotgen


def _median(xs, default=0.0):
    xs = list(xs)
    return statistics.median(xs) if xs else default


def _files(root: str) -> dict[str, int]:
    """Every data file under ``root`` with its size."""
    out = {}
    for d, _, names in os.walk(root):
        for n in names:
            if not n.endswith(".crc"):
                p = os.path.join(d, n)
                try:
                    out[p] = os.path.getsize(p)
                except OSError:
                    pass  # removed while walking (a concurrent rename)
    return out


def _new_bytes(before: dict[str, int], after: dict[str, int]) -> int:
    return sum(s for p, s in after.items() if before.get(p) != s)


class Ctx:
    """What every workload gets: the session, its own directory, the
    seed, and the tracer (``None`` in an untraced run)."""

    def __init__(self, spark, root: str, seed: int, tracer=None):
        self.spark = spark
        self.root = root
        self.seed = seed
        self.tracer = tracer

    def span(self, name: str, layer: str):
        from contextlib import nullcontext

        if self.tracer is None:
            return nullcontext()
        return self.tracer.span(name, layer)

    def calls(self, name):
        return self.tracer.calls(name) if self.tracer else []


# ------------------------------------------------------------------ lot ETL

class EtlLots:
    """Lot ETL as the reference runs it: one lot per batch, fetch →
    merge → per-lot CSV → warehouse load. New lots are first loads;
    a seeded 30 % of batches re-fetch an already loaded lot (skewed
    toward recent lots) with revised values. Every load is the
    incremental mode (upsert ``lots``, per-lot replace of ``lot_data``).

    Lot sizes, the revision share and the recency skew are assumed: no
    source in the repo gives them (see perfbench/README.md)."""

    def __init__(self, ctx: Ctx, n_lots: int = 60, mean_records: int = 2000):
        self.ctx = ctx
        self.src = lotgen.LotSource(ctx.seed, n_lots, mean_records)
        self.rng = random.Random(ctx.seed)
        self.wh = os.path.join(ctx.root, "warehouse")
        self.exchange = os.path.join(ctx.root, "exchange")
        self.loaded: dict[str, int] = {}
        self.order: list[str] = []
        self.batches = 0
        self.timed: list[dict] = []  # per-batch figures of step() batches

    def setup(self) -> None:
        """Load the first lot, then load its delivered files again, so
        both the first-load and the per-lot replace paths are warm."""
        lot = self.src.lots[0]
        self._batch(lot, 0)
        self.loaded[lot] = 0
        self.order.append(lot)
        self._load(self._delivered(0))

    def _delivered(self, batch: int) -> str:
        return os.path.join(self.exchange, f"b{batch:05d}")

    def _load(self, delivered_dir: str) -> None:
        from mc_ns_data_pipeline_spark.pipelines.load import load_exchange
        from mc_ns_data_pipeline_spark.schemas import LOT_CSV_SCHEMA

        delivered = (self.ctx.spark.read.option("header", True)
                     .option("recursiveFileLookup", True)
                     .schema(LOT_CSV_SCHEMA).csv(delivered_dir))
        load_exchange(self.ctx.spark, delivered, self.wh, incremental=True)

    def _next(self) -> tuple[str, int]:
        fresh = [x for x in self.src.lots if x not in self.loaded]
        if self.order and (not fresh or self.rng.random() < 0.3):
            # recent lots are revised more often than old ones
            i = len(self.order) - 1 - min(
                int(self.rng.expovariate(0.5)), len(self.order) - 1)
            lot = self.order[i]
            return lot, self.loaded[lot] + 1
        return fresh[0], 0

    def _batch(self, lot: str, rev: int) -> dict:
        from mc_ns_data_pipeline_spark.pipelines.fetch import merge_lot_data
        from mc_ns_data_pipeline_spark.schemas import (
            BATCH_RECORDS_SCHEMA,
            DATA_CAPTURES_SCHEMA,
            STRUCTURES_SCHEMA,
        )
        from mc_ns_data_pipeline_spark.sinks.files import write_per_lot
        from mc_ns_data_pipeline_spark.sources.rest import (
            fetch_distributed,
            records_to_df,
        )

        spark = self.ctx.spark
        records = self.src.captures(lot, rev)
        fetcher = lotgen.LotFetcher(records)
        meta, structs = (self.src.meta_records(lot),
                         self.src.structure_records(lot))
        out = self._delivered(self.batches)
        self.batches += 1
        wh_before = _files(self.wh)
        t0 = time.perf_counter()
        with self.ctx.span("sources.fetch", "sources"):
            captures = fetch_distributed(
                spark, len(fetcher.pages), fetcher, DATA_CAPTURES_SCHEMA,
                pages_per_task=1).persist()
            n = captures.count()
            meta_df = records_to_df(spark, meta, BATCH_RECORDS_SCHEMA)
            struct_df = records_to_df(spark, structs, STRUCTURES_SCHEMA)
        try:
            exchange = merge_lot_data(captures, meta_df, struct_df)
            write_per_lot(exchange, out)
            self._load(out)
        finally:
            captures.unpersist()
        dt = time.perf_counter() - t0
        if n != len(records):
            raise AssertionError(f"fetched {n} of {len(records)} captures")
        csv = _files(out)
        user_bytes = sum(csv.values())
        return {"seconds": dt, "records": n, "pages": len(fetcher.pages),
                "rows": len(lotgen.expected_rows(records)),
                "files": len(csv), "bytes": user_bytes,
                "write_ratio": _new_bytes(wh_before, _files(self.wh))
                / max(1, user_bytes)}

    def step(self):
        lot, rev = self._next()
        b = self._batch(lot, rev)
        self.timed.append(b)
        if lot not in self.loaded:
            self.order.append(lot)
        self.loaded[lot] = rev
        return [("batch", b["seconds"], b["rows"])]

    def expected(self) -> tuple[int, str]:
        rows = [(lot,) + r for lot, rev in self.loaded.items()
                for r in lotgen.expected_rows(self.src.captures(lot, rev))]
        return len(rows), lotgen.multiset_hash(rows)

    def warehouse_state(self) -> tuple[int, str, int]:
        spark = self.ctx.spark
        got = [tuple(r) for r in spark.read.parquet(f"{self.wh}/lot_data")
               .select("lot_number", "description", "input_data_value",
                       "performed_by").collect()]
        lots = spark.read.parquet(f"{self.wh}/lots").count()
        return len(got), lotgen.multiset_hash(got), lots

    def gate(self) -> None:
        """The warehouse against the generator; then the last batch's
        delivered files are loaded again, which must leave it as it was
        (incremental loads are idempotent)."""
        n, h = self.expected()
        state = self.warehouse_state()
        if state != (n, h, len(self.loaded)):
            raise AssertionError(
                f"warehouse has (lot_data rows, hash, lots) = {state}; the "
                f"generator implies {(n, h, len(self.loaded))}")
        self._load(self._delivered(self.batches - 1))
        if self.warehouse_state() != state:
            raise AssertionError("re-running an incremental load changed "
                                 "the warehouse")

    def detail(self, ops) -> dict:
        lat = [o[1] for o in ops]
        return {"etl.batch_p50_s": _median(lat),
                "etl.records_per_s": sum(o[2] for o in ops) / max(sum(lat), 1e-9),
                "etl.lots_loaded": len(self.loaded)}

    def layer_metrics(self) -> dict:
        c, t = self.ctx.calls, self.ctx.tracer
        fetch = c("sources.fetch")
        load = c("pipelines.load_exchange")

        def med(key):
            return _median(b[key] for b in self.timed)

        return {
            "sources.fetch_s": _median(s.dur for s in fetch),
            "sources.pages": med("pages"),
            "sources.records": med("records"),
            "sources.fetch.spark_tasks": _median(s.tasks for s in fetch),
            "pipelines.merge_lot_data_s": _median(
                s.dur for s in c("pipelines.merge_lot_data")),
            "pipelines.exchange_rows": med("rows"),
            "pipelines.load_exchange_s": _median(s.dur for s in load),
            "pipelines.load_exchange.spark_jobs": _median(
                t.inclusive_jobs(s) for s in load),
            "sinks.files.write_per_lot_s": _median(
                s.dur for s in c("sinks.files.write_per_lot")),
            "sinks.files.files_written": med("files"),
            "sinks.files.bytes_written": med("bytes"),
            "sinks.upsert.merge_upsert_s": _median(
                s.dur for s in c("sinks.upsert.merge_upsert")),
            "sinks.upsert.replace_by_key_s": _median(
                s.dur for s in c("sinks.upsert.replace_by_key")),
            "sinks.upsert.bytes_written_per_user_byte": med("write_ratio"),
        }


# --------------------------------------------------------- analytics queries

#: The declared query plans the analytics half runs: a scan + filter, a
#: join + aggregate, a window, and an operator (cosine top-k). The other
#: declared queries are left out because a cold pass over them does not
#: fit a run's time budget.
SUITE = ("q01_filter_project", "q06_sales_aggregate", "q08_latest_per_key",
         "x09_ann_cosine_topk")


class AnalyticsSuite:
    """Declared query plans over seeded TPC-H-ish tables into a noop sink.
    ``setup`` runs one untimed pass to warm the plans up; ``gate`` checks
    each plan against its DuckDB oracle."""

    def __init__(self, ctx: Ctx, scale: float = 1.0):
        self.ctx = ctx
        self.scale = scale
        self.sf = os.path.join(ctx.root, "tables")
        self.per_query: dict[str, list[float]] = {q: [] for q in SUITE}

    def setup(self) -> None:
        from perfbench.datagen import write_tables

        write_tables(self.sf, self.ctx.seed, self.scale)
        self.step()
        for samples in self.per_query.values():
            samples.clear()

    def gate(self, corrupt: str | None = None) -> None:
        """Each query against its oracle; ``corrupt`` drops one row of
        that query's result first (the self-test's broken result)."""
        from mc_ns_data_pipeline_spark.plans import ORACLES, QUERIES
        from mc_ns_data_pipeline_spark.testing import compare_with_oracle

        for q in SUITE:
            df = QUERIES[q](self.ctx.spark, self.sf)
            if q == corrupt:
                df = df.limit(max(0, df.count() - 1))
            compare_with_oracle(df, ORACLES[q], self.sf)

    def step(self, queries=SUITE):
        from mc_ns_data_pipeline_spark.plans import QUERIES

        ops = []
        for q in queries:
            t0 = time.perf_counter()
            with self.ctx.span("plans.build", "plans"):
                df = QUERIES[q](self.ctx.spark, self.sf)
            with self.ctx.span(f"plans.{q}", "plans"):
                df.write.format("noop").mode("overwrite").save()
            dt = time.perf_counter() - t0
            self.per_query[q].append(dt)
            ops.append((q, dt, 0))
        return ops

    def detail(self) -> dict:
        med = [_median(v) for v in self.per_query.values() if v]
        if not med:
            return {}
        return {"query.geomean_s": float(np.exp(np.mean(np.log(med)))),
                "query.suite_s": sum(med)}

    def layer_metrics(self) -> dict:
        c, t = self.ctx.calls, self.ctx.tracer
        out = {"plans.build_s": _median(s.dur for s in c("plans.build"))}
        for q in SUITE:
            spans = c(f"plans.{q}")
            out[f"plans.{q}_s"] = _median(s.dur for s in spans)
            out[f"plans.{q}.spark_jobs"] = _median(
                t.inclusive_jobs(s) for s in spans)
        return out


class EtlQueries:
    """Workload ``etl_queries``: lot batches alternate with analytics
    queries (one batch, then half the suite), as a plant's pipeline
    host serves reports between loads. Writes are lot batches (fetch
    start to warehouse commit); reads are queries. No versioned-table
    or streaming code runs, so this is the bypass workload for changes
    there."""

    name = "etl_queries"
    WRITES = {"batch"}
    READS = set(SUITE)

    def __init__(self, ctx: Ctx):
        self.etl = EtlLots(ctx)
        self.suite = AnalyticsSuite(ctx)

    def setup(self) -> None:
        self.etl.setup()
        self.suite.setup()

    def step(self):
        """Two rounds of one lot batch and half the query suite."""
        half = len(SUITE) // 2
        ops = []
        for start in (0, half):
            ops += self.etl.step() + self.suite.step(SUITE[start:start + half])
        return ops

    def gate(self) -> None:
        self.etl.gate()
        self.suite.gate()

    def detail(self, ops) -> dict:
        return {**self.etl.detail([o for o in ops if o[0] == "batch"]),
                **self.suite.detail()}

    def layer_metrics(self) -> dict:
        return {**self.etl.layer_metrics(), **self.suite.layer_metrics()}


# --------------------------------------------------------------- lake_cdc

LAKE_COLS = ("l_id", "l_orderkey", "l_partkey", "l_qty", "l_price",
             "l_returnflag")
LAKE_SCHEMA = ("l_id long, l_orderkey long, l_partkey long, l_qty int, "
               "l_price double, l_returnflag string")
#: bytes of one row as the user hands it over (8 + 8 + 8 + 4 + 8 + 1)
ROW_BYTES = 37


class LakeCdc:
    """Workload ``lake_cdc``: one versioned table with stats on the
    clustered key ``l_id``, a bloom filter on the unclustered
    ``l_partkey``, a materialized aggregate view, and a replica fed from
    the table's change feed. One step is a fixed cycle: each write of
    ``ROTATION`` (three rounds of an append, a merge-on-read upsert, a
    merge-on-read delete and a view refresh) after one read, by turns a
    bloom point lookup and a key-range scan, both skewed toward recent
    keys; then ``optimize_table``; then the replica drains the change
    feed. Every run sees the same mix (three samples of each write kind,
    six of each read kind, fixed batch sizes) and the seed moves only
    keys and values. Set-up runs every table operation kind once
    untimed, so the timed cycle measures warm calls. The replica is not
    warmed: its first drain, as in a job that starts and drains, is timed
    (a warm-up drain cost about as much set-up time as it saved)."""

    name = "lake_cdc"
    ROTATION = ("append", "merge_mor", "delete_mor", "refresh") * 3
    WRITES = set(ROTATION)
    READS = {"read_point", "read_range"}
    RANGE_KEYS = 200
    APPEND_ROWS = 250
    MERGE_KEYS = 100  # existing keys drawn; 10 new keys ride along
    DELETE_KEYS = 50

    def __init__(self, ctx: Ctx, rows: int = 30_000, files: int = 6):
        self.ctx = ctx
        self.n_rows, self.n_files = rows, files
        self.rng = np.random.default_rng(ctx.seed)
        lake = os.path.join(ctx.root, "lake")
        self.table = os.path.join(lake, "lineitem")
        self.view = os.path.join(lake, "by_flag")
        self.replica = os.path.join(lake, "replica")
        self.ckpt = os.path.join(lake, "ckpt")
        self.model: dict[int, tuple] = {}
        self.next_id = 0
        self.conflicts = 0
        self.view_model: list[tuple] = []
        self.commits = 0
        self.pending: list[tuple[float, int]] = []  # (commit end, events)
        self.lags: list[float] = []
        self.drained_events = 0
        self.drain_s = 0.0
        self.batch_times: list[float] = []
        self.batch_events: list[int] = []
        self.drains: list[int] = []  # micro-batches per drain
        self.refresh_modes: list[str] = []
        self.user_bytes = 0
        self.table_bytes_written = 0
        self.read_ratio: list[tuple[int, int]] = []  # (examined, returned)
        self.kept_ratio: list[float] = []

    # -- inputs
    def _rows(self, ids) -> list[tuple]:
        n = len(ids)
        r = self.rng
        qty = r.integers(1, 51, n)
        price = np.round(qty * r.uniform(900, 2100, n), 2)
        return list(zip(map(int, ids), map(int, r.integers(0, 15_000, n)),
                        map(int, r.integers(0, 2_000, n)), map(int, qty),
                        map(float, price),
                        map(str, r.choice(["A", "N", "R"], n))))

    @staticmethod
    def _pandas(rows):
        import pandas as pd

        return pd.DataFrame(rows, columns=list(LAKE_COLS)).astype(
            {"l_qty": "int32"})

    def _df(self, rows):
        return self.ctx.spark.createDataFrame(self._pandas(rows), LAKE_SCHEMA)

    def setup(self) -> None:
        import pyarrow as pa
        import pyarrow.parquet as pq

        from mc_ns_data_pipeline_spark.sinks import versioned as V

        spark = self.ctx.spark
        rows = self._rows(range(self.n_rows))
        self.next_id = self.n_rows
        self.model = {r[0]: r for r in rows}
        seed_file = os.path.join(self.ctx.root, "lake_seed.parquet")
        os.makedirs(self.ctx.root, exist_ok=True)
        pq.write_table(pa.Table.from_pandas(self._pandas(rows),
                                            preserve_index=False), seed_file)
        base = spark.read.parquet(seed_file).repartitionByRange(
            self.n_files, "l_id")
        V.write_snapshot(base, self.table, stats_cols=["l_id"],
                         bloom_cols=["l_partkey"])
        self._op("refresh")  # bootstraps the view
        # One warm-up run of every table operation kind, the reads after a
        # merge-on-read delete, so that the timed cycle measures warm
        # calls rather than the fresh JVM's class loading and JIT. The
        # replica starts from the warmed table, so the first timed drain
        # carries only timed commits.
        for kind in ("append", "merge_mor", "delete_mor", "read_point",
                     "read_range", "refresh", "optimize"):
            self._op(kind)
        V.write_snapshot(V.read_current(spark, self.table), self.replica)
        self.mark = V.current_snapshot(self.table)
        self._reset_figures()

    def _reset_figures(self) -> None:
        """Forget what set-up did, so the figures cover the timed cycles."""
        self.commits = self.drained_events = 0
        self.user_bytes = self.table_bytes_written = 0
        self.drain_s = 0.0
        for xs in (self.pending, self.lags, self.batch_times,
                   self.batch_events, self.drains, self.refresh_modes):
            xs.clear()

    # -- operations
    def _recent_id(self) -> int:
        """A live key, skewed toward recently inserted ones."""
        back = int(self.rng.exponential(self.next_id / 8))
        i = max(0, self.next_id - 1 - back)
        while i not in self.model and i < self.next_id:
            i += 1
        return i if i in self.model else next(iter(self.model))

    def _commit(self, fn, user_rows: int, events: int) -> float:
        """Run one table commit; returns its latency."""
        from mc_ns_data_pipeline_spark.sinks.versioned import (
            CommitConflictError,
        )

        before = _files(self.table)
        t0 = time.perf_counter()
        try:
            fn()
        except CommitConflictError:
            self.conflicts += 1  # counted, then failed like any error
            raise
        end = time.perf_counter()
        self.table_bytes_written += _new_bytes(before, _files(self.table))
        self.user_bytes += user_rows * ROW_BYTES
        self.commits += 1
        self.pending.append((end, events))
        return end - t0

    def _op(self, kind: str) -> tuple[float, int]:
        """Run one operation; returns (latency, rows). The latency covers
        the call into the package, not the benchmark making its inputs."""
        from pyspark.sql import functions as F

        from mc_ns_data_pipeline_spark.sinks import matview as MV
        from mc_ns_data_pipeline_spark.sinks import versioned as V

        spark, ctx = self.ctx.spark, self.ctx
        if kind == "read_point":
            part = self.model[self._recent_id()][2]
            pred = [("l_partkey", "=", part)]
            t0 = time.perf_counter()
            with ctx.span("versioned.read_point", "sinks.versioned"):
                got = V.read_current(spark, self.table,
                                     predicates=pred).collect()
            dt = time.perf_counter() - t0
            want = sum(1 for r in self.model.values() if r[2] == part)
            if len(got) != want:
                raise AssertionError(f"point read {pred}: {len(got)} rows, "
                                     f"the model has {want}")
            self._prune_probe(pred, len(got))
            return dt, len(got)
        if kind == "read_range":
            lo = self._recent_id()
            hi = lo + self.RANGE_KEYS
            pred = [("l_id", ">=", lo), ("l_id", "<", hi)]
            t0 = time.perf_counter()
            with ctx.span("versioned.read_range", "sinks.versioned"):
                got = tuple(V.read_current(spark, self.table,
                                           predicates=pred)
                            .agg(F.count("*"), F.sum("l_qty")).collect()[0])
            dt = time.perf_counter() - t0
            ids = [i for i in range(lo, hi) if i in self.model]
            want = (len(ids), sum(self.model[i][3] for i in ids) or None)
            if got != want:
                raise AssertionError(f"range read {pred}: {got}, "
                                     f"the model has {want}")
            self._prune_probe(pred, got[0])
            return dt, got[0]
        if kind == "append":
            n = self.APPEND_ROWS
            new = self._rows(range(self.next_id, self.next_id + n))
            self.next_id += n
            df = self._df(new)
            dt = self._commit(lambda: V.append_snapshot(df, self.table), n, n)
            self.model.update((r[0], r) for r in new)
            return dt, n
        if kind == "merge_mor":
            ids = {self._recent_id() for _ in range(self.MERGE_KEYS)}
            ids |= set(range(self.next_id, self.next_id + 10))
            self.next_id += 10
            new = self._rows(sorted(ids))
            df = self._df(new)
            matched = sum(1 for i in ids if i in self.model)
            dt = self._commit(
                lambda: V.merge_snapshot_mor(spark, df, self.table, "l_id"),
                len(new), len(new) + matched)
            self.model.update((r[0], r) for r in new)
            return dt, len(new)
        if kind == "delete_mor":
            ids = sorted({self._recent_id()
                          for _ in range(self.DELETE_KEYS)})
            df = self._df([self.model[i] for i in ids]).select("l_id")
            dt = self._commit(
                lambda: V.delete_keys_mor(spark, self.table, "l_id", df),
                len(ids), len(ids))
            for i in ids:
                del self.model[i]
            return dt, len(ids)
        t0 = time.perf_counter()
        if kind == "refresh":
            out = MV.refresh_aggregate_view(spark, self.table, self.view,
                                            ["l_returnflag"], ["l_qty"])
            self.refresh_modes.append(out["mode"])
            self.view_model = self._aggregate(self.model)
        elif kind == "optimize":
            V.optimize_table(spark, self.table, sort_col="l_id",
                             target_file_rows=self.n_rows // self.n_files)
        elif kind == "drain":
            return self._drain()
        else:
            raise ValueError(kind)
        return time.perf_counter() - t0, 0

    def _drain(self) -> tuple[float, int]:
        from mc_ns_data_pipeline_spark.streaming.incremental import (
            run_stream_apply_changes,
        )

        batches: list[float] = []
        t0 = time.perf_counter()
        run_stream_apply_changes(
            self.ctx.spark, self.table, self.replica, self.ckpt, "l_id",
            starting=self.mark,
            on_batch=lambda bid, secs, _df: batches.append(secs))
        end = time.perf_counter()
        events = sum(e for _, e in self.pending)
        self.lags += [end - t for t, _ in self.pending]
        self.pending = []
        self.drain_s += end - t0
        self.drained_events += events
        self.batch_times += batches
        self.drains.append(len(batches))
        if batches:
            self.batch_events.append(events // len(batches))
        return end - t0, events

    def _prune_probe(self, pred, returned: int) -> None:
        """Traced runs only: how many files and rows the read opened. Its
        time is charged to the tracer's bookkeeping."""
        tracer = self.ctx.tracer
        if tracer is None or not tracer.recording:
            return
        import pyarrow.parquet as pq

        from mc_ns_data_pipeline_spark.sinks import versioned as V

        t0 = time.perf_counter()
        snap = V.current_snapshot(self.table)
        rep = V.prune_report(self.table, snap, pred)
        self.kept_ratio.append(len(rep["kept"]) / max(1, rep["total"]))
        kept = {os.path.basename(f) for f in rep["kept"]}
        examined = sum(pq.ParquetFile(f).metadata.num_rows
                       for f in V.snapshot_files(self.table, snap)
                       if os.path.basename(f) in kept)
        self.read_ratio.append((examined, max(1, returned)))
        tracer.bookkeeping_s += time.perf_counter() - t0

    def step(self):
        """One cycle: each write of the rotation after a point or a range
        read, by turns, then ``optimize_table``, then the replica drains."""
        ops = []
        for i, write in enumerate(self.ROTATION):
            for kind in (("read_point", "read_range")[i % 2], write):
                ops.append((kind,) + self._op(kind))
        for kind in ("optimize", "drain"):
            ops.append((kind,) + self._op(kind))
        return ops

    # -- correctness
    @staticmethod
    def _aggregate(model: dict) -> list[tuple]:
        agg: dict[str, list[int]] = {}
        for r in model.values():
            a = agg.setdefault(r[5], [0, 0])
            a[0] += 1
            a[1] += r[3]
        return sorted((f, n, q) for f, (n, q) in agg.items())

    def _frame(self, table: str):
        from mc_ns_data_pipeline_spark.sinks import versioned as V

        pdf = V.read_current(self.ctx.spark, table).select(
            *LAKE_COLS).toPandas()
        return pdf.sort_values("l_id").reset_index(drop=True)

    def gate(self) -> None:
        """Table == op-log model; replica == table (the cycle ended with a
        drain); view == the model's aggregate as of the last refresh."""
        from mc_ns_data_pipeline_spark.sinks import versioned as V

        want = self._pandas(sorted(self.model.values()))
        table = self._frame(self.table)
        if not table.astype(want.dtypes).equals(want):
            raise AssertionError(f"table has {len(table)} rows, the op-log "
                                 f"model {len(want)}; contents differ")
        if self.pending:
            raise AssertionError("commits left undrained")
        if not self._frame(self.replica).equals(table):
            raise AssertionError("replica differs from the table after "
                                 "the last drain")
        view = sorted(tuple(r) for r in V.read_current(
            self.ctx.spark, self.view).select(
                "l_returnflag", "n_rows", "sum_l_qty").collect() if r[1])
        if view != self.view_model:
            raise AssertionError(f"view {view} != model {self.view_model}")

    # -- figures
    def space(self) -> tuple[int, int, int]:
        """(bytes under the table dir, live files, live delete files)."""
        from mc_ns_data_pipeline_spark.sinks import versioned as V

        man = V.read_manifest(self.table, V.current_snapshot(self.table))
        return (sum(_files(self.table).values()), len(man.get("files", [])),
                len(man.get("delete_files") or []))

    def _compact_bytes(self) -> int:
        """Size of the live rows written once as one parquet file."""
        import pyarrow as pa
        import pyarrow.parquet as pq

        path = os.path.join(self.ctx.root, "compact.parquet")
        pq.write_table(pa.Table.from_pandas(
            self._pandas(sorted(self.model.values())), preserve_index=False),
            path)
        size = os.path.getsize(path)
        os.remove(path)
        return size

    def detail(self, ops) -> dict:
        return {
            "lake.commit_p50_s": _median(o[1] for o in ops
                                         if o[0] in self.WRITES),
            "lake.read_p50_s": _median(o[1] for o in ops
                                       if o[0] in self.READS),
            "lake.write_amp": self.table_bytes_written
            / max(1, self.user_bytes),
            "lake.space_amp": self.space()[0] / self._compact_bytes(),
            "cdc.lag_p50_s": _median(self.lags),
            "cdc.events_per_s": self.drained_events / max(self.drain_s, 1e-9),
        }

    def layer_metrics(self) -> dict:
        c, t = self.ctx.calls, self.ctx.tracer
        out = {}
        for verb, span in (("append", "versioned.append_snapshot"),
                           ("merge_mor", "versioned.merge_snapshot_mor"),
                           ("delete_mor", "versioned.delete_keys_mor"),
                           ("read_point", "versioned.read_point"),
                           ("read_range", "versioned.read_range")):
            out[f"versioned.{verb}_s"] = _median(s.dur for s in c(span))
            out[f"versioned.{verb}.spark_jobs"] = _median(
                t.inclusive_jobs(s) for s in c(span))
        _, live, dels = self.space()
        drains = c("streaming.run_stream_apply_changes")
        out.update({
            "versioned.optimize_s": _median(
                s.dur for s in c("versioned.optimize_table")),
            "versioned.files_kept_ratio": _median(self.kept_ratio),
            "versioned.rows_examined_per_row_returned": _median(
                e / r for e, r in self.read_ratio),
            "versioned.bytes_written_per_commit":
                self.table_bytes_written / max(1, self.commits),
            "versioned.live_files": live,
            "versioned.delete_files_live": dels,
            "versioned.commit_conflicts": self.conflicts,
            "matview.refresh_s": _median(
                s.dur for s in c("matview.refresh_aggregate_view")),
            "matview.increment_share": (
                self.refresh_modes.count("increment")
                / max(1, len(self.refresh_modes))),
            "streaming.drain_s": _median(s.dur for s in drains),
            "streaming.batch_apply_s": _median(self.batch_times),
            "streaming.lifecycle_s": (self.drain_s - sum(self.batch_times))
            / max(1, len(self.drains)),
            "streaming.batches_per_drain": _median(self.drains),
            "streaming.events_per_batch": _median(self.batch_events),
            "streaming.drain.spark_jobs": _median(
                t.inclusive_jobs(s) for s in drains),
        })
        return out


WORKLOADS = {w.name: w for w in (EtlQueries, LakeCdc)}
