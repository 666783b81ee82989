"""The three workloads. Each is a closed loop with one client: the next
operation starts only after the previous one, and its output check,
have finished.

A workload provides ``setup`` (inputs and one untimed warm-up pass),
``op`` (one timed operation, traced when the tracer is on), ``check``
(the output check of the op just run, untimed) and ``summary`` (the
end-to-end figures of a pass). ``run_pass`` drives the loop.
"""

from __future__ import annotations

import datetime as dt
import hashlib
import os
import shutil
import statistics
import time

import numpy as np
from pyspark.sql import functions as F

import checks
import r520
from pos_data_insertion_etl_spark.pipeline import jobs, marts
from pos_data_insertion_etl_spark.session import release_block_pool
from pos_data_insertion_etl_spark.sources.zipsource import read_zip_fixed_width
from pos_data_insertion_etl_spark.streaming.jobs import pos_stream_ingest

START_DAY = dt.date(2024, 3, 1)


def _count_files(path: str, suffix: str = "") -> int:
    return sum(
        1
        for _root, _dirs, files in os.walk(path)
        for f in files
        if f.endswith(suffix) and not f.startswith(".")
    )


def p90(values: list[float]) -> float:
    return statistics.quantiles(values, n=10)[-1] if len(values) > 1 else values[0]


class Workload:
    #: the timed loop runs at least this many ops, so per-op counters
    #: can be compared op by op between runs
    min_ops = 1

    def __init__(self, spark, work: str, seed: int, tracer):
        self.spark = spark
        self.work = work
        self.seed = seed
        self.tracer = tracer
        self.layers: dict = {}  # per-op layer figures, filled when traced

    def reset(self) -> None:
        """Between ops, outside the timed window."""
        release_block_pool(self.spark, clear_sql_cache=True)

    def more(self, times: list[float], seconds: float) -> bool:
        return sum(times) < seconds or len(times) < self.min_ops

    def run_pass(self, seconds: float) -> dict:
        """Ops until their summed time reaches ``seconds`` (and at least
        ``min_ops`` ran). Returns op times and failure counts."""
        times, failed = [], 0
        while self.more(times, seconds):
            i = len(times)
            times.append(self.op(i))
            failed += 0 if self.check(i) else 1
            self.reset()
        return {"times": times, "attempted": len(times), "failed": failed}


# --------------------------------------------------------------------------
class DailyFile(Workload):
    """One large single-zip daily file through ``run_daily_ingest``."""

    name = "daily_file"
    stores, txns, lines, dup_every = 200, 300, 5, 7
    warm_ops = 2
    min_ops = 3

    def setup(self) -> None:
        rng = np.random.default_rng([self.seed, 1])
        self.day = r520.make_day(
            rng, START_DAY, self.stores, self.txns, self.lines, self.dup_every
        )
        self.land = os.path.join(self.work, "land")
        os.makedirs(self.land)
        self.zip_path = os.path.join(self.land, f"R520.{START_DAY:%Y%m%d}.zip")
        self.day.write_zip(self.zip_path)
        self.expected = r520.expected_marts(self.day)
        self.rates = r520.repeat_rates([self.day])
        self.out = os.path.join(self.work, "out")
        # warm-up: the first op runs ~2.5x slower than the rest, and the
        # second one still ~10 % slower than the fifth (median of ten runs)
        for i in range(self.warm_ops):
            self.op(i)
            self.reset()

    def _ingest(self) -> dict:
        return jobs.run_daily_ingest(
            self.spark, self.land, f"{START_DAY:%Y%m%d}", out_dir=self.out
        )

    def op(self, i: int) -> float:
        tr = self.tracer
        if not tr.enabled:
            t0 = time.perf_counter()
            self.result = self._ingest()
            return time.perf_counter() - t0
        # Probes before the run: the same read, parse and merge the run
        # does, each materialized on its own so its cost can be split.
        with tr.span("sources.read_zip_fixed_width") as read:
            rec = read_zip_fixed_width(self.spark, self.zip_path)
            got = rec.agg(F.count(F.lit(1)), F.sum(F.length("record"))).first()
            read.attrs["rows"] = got[0]
        with tr.span("operators.fixedwidth.parse_fixed_width") as parse:
            marts.sku_temp(read_zip_fixed_width(self.spark, self.zip_path)).count()
        with tr.span("pipeline.marts.sku_merge") as merge:
            marts.sku_merge(
                marts.sku_temp(read_zip_fixed_width(self.spark, self.zip_path))
            ).count()
        writes = []
        orig = marts.write_day_partitioned

        def traced_write(df, path, *args, **kwargs):
            with tr.span("pipeline.marts.write_day_partitioned",
                         mart=os.path.basename(path)) as sp:
                writes.append(sp)
                return orig(df, path, *args, **kwargs)

        marts.write_day_partitioned = traced_write
        try:
            with tr.span("pipeline.jobs.run_daily_ingest") as run:
                self.result = self._ingest()
        finally:
            marts.write_day_partitioned = orig
        sku_w = [w for w in writes if w.attrs["mart"] == checks.SKU_MART]
        roll = [w for w in writes if w.attrs["mart"] != checks.SKU_MART]
        self.layers.setdefault("ops", []).append({
            "sources.read_s": read.s,
            "sources.read_tasks": read.counters["tasks"],
            "sources.records": got[0],
            "sources.decoded_mb": got[1] / 2**20,
            "operators.fixedwidth.parse_s": parse.s - read.s,
            "pipeline.marts.merge_s": merge.s - parse.s,
            "pipeline.marts.merge_shuffle_bytes": merge.counters["shuffle_write_bytes"],
            "pipeline.marts.write_sku_s": sum(w.s for w in sku_w),
            "pipeline.marts.write_rollups_s":
                max(w.end for w in roll) - min(w.start for w in roll),
            "pipeline.marts.files_written": _count_files(self.out, ".parquet"),
            "pipeline.jobs.run_s": run.s,
            **{f"pipeline.jobs.{k}": v for k, v in run.counters.items()},
        })
        return run.s

    def check(self, i: int) -> bool:
        got = checks.mart_state(self.spark, self.out).get(START_DAY, {})
        bad = checks.diff(self.expected, got, checks.SKU_FIELDS + checks.DERIVED_FIELDS)
        n = int(self.result["metrics"]["total_rows_processed"])
        if n != self.day.n_records:
            bad.append("total_rows_processed")
        self.mismatch = bad
        return not bad

    def reset(self) -> None:
        shutil.rmtree(self.out, ignore_errors=True)
        super().reset()

    def summary(self, p: dict) -> dict:
        t = statistics.median(p["times"])
        return {"op_s_p50": t, "throughput_per_s": self.day.n_records / t}


# --------------------------------------------------------------------------
class LandingStream(Workload):
    """Land one day's zip, run the availableNow stream ingest to
    completion, then the retention cleanup. Every ``redeliver_every``-th
    cycle lands the previous day's file again under a new name."""

    name = "landing_stream"
    stores, txns, lines, dup_every = 40, 120, 5, 7
    keep_days = 4
    redeliver_every = 4
    #: cycle times keep falling over the first ten cycles of a session;
    #: measuring from cycle 10 (counting from 0), any 6 to 9 measured
    #: cycles hold the same two re-deliveries, cycles 11 and 15
    warm_cycles = 10
    min_ops = 6

    def setup(self) -> None:
        """The warm-up cycles start the stream the measured cycles
        continue, so measurement sees a full retention window."""
        self._days: dict[int, r520.DayFile] = {}
        self.dirs = {
            d: os.path.join(self.work, d) for d in ("gen", "land", "out", "ckpt", "archive")
        }
        for d in ("gen", "land"):
            os.makedirs(self.dirs[d])
        self.delivered: list[int] = []  # day index per cycle
        self.rows_before: dict = {}
        for i in range(self.warm_cycles):
            self.op(i)
            self.reset()
        if not self.check(self.warm_cycles - 1):
            raise RuntimeError(f"warm-up: {self.mismatch}")
        self.reset()

    def day_file(self, k: int) -> r520.DayFile:
        if k not in self._days:
            rng = np.random.default_rng([self.seed, 2, k])
            self._days[k] = r520.make_day(
                rng, START_DAY + dt.timedelta(days=k), self.stores, self.txns,
                self.lines, self.dup_every, txn_base=k * 10**6,
            )
        return self._days[k]

    def op(self, i: int) -> float:
        cycle = len(self.delivered)
        redeliver = cycle % self.redeliver_every == self.redeliver_every - 1
        k = self.delivered[-1] if redeliver else (max(self.delivered) + 1 if self.delivered else 0)
        day = self.day_file(k)
        name = f"R520.{day.day:%Y%m%d}" + (f".redelivered{cycle}" if redeliver else "") + ".zip"
        staged = os.path.join(self.dirs["gen"], name)
        day.write_zip(staged)
        self.delivered.append(k)
        self.cycle_day = day
        latest = START_DAY + dt.timedelta(days=max(self.delivered))
        d = self.dirs
        tr = self.tracer
        with tr.span("cycle", own_jobs=False, day=str(day.day), redelivered=redeliver) as cyc:
            t0 = time.perf_counter()
            os.replace(staged, os.path.join(d["land"], name))
            with tr.span("streaming.pos_stream_ingest") as st:
                q = pos_stream_ingest(
                    self.spark, d["land"], d["out"], d["ckpt"], archive_dir=d["archive"]
                )
                tr.bind_stream(st, q)
                q.awaitTermination()
            with tr.span("pipeline.jobs.run_daily_cleanup") as cl:
                cleaned = jobs.run_daily_cleanup(
                    self.spark,
                    os.path.join(d["out"], checks.SKU_MART),
                    keep_days=self.keep_days,
                    target_date=latest,
                )
            elapsed = time.perf_counter() - t0
        if q.exception() is not None:
            raise RuntimeError(f"stream cycle {cycle} failed: {q.exception()}")
        if cyc is not None:
            progress = q.recentProgress

            def dur(*keys: str) -> float:
                return sum(p["durationMs"].get(k, 0) for p in progress for k in keys) / 1e3

            self.layers.setdefault("ops", []).append({
                "cycle_s": cyc.s,
                "streaming.cycle_jobs": st.counters["jobs"] + cl.counters["jobs"],
                "streaming.add_batch_s": dur("addBatch"),
                "streaming.log_commit_s": dur("walCommit", "commitOffsets"),
                "streaming.list_s": dur("latestOffset", "getBatch"),
                "streaming.plan_s": dur("queryPlanning"),
                "streaming.start_stop_s": st.s - dur("triggerExecution"),
                "streaming.exec_cpu_s": st.counters["exec_cpu_s"],
                "streaming.driver_idle_s": st.counters["driver_idle_s"],
                "streaming.sku_mart_files": _count_files(
                    os.path.join(d["out"], checks.SKU_MART), ".parquet"),
                "streaming.checkpoint_files": _count_files(d["ckpt"]),
                "operators.retention.cleanup_s": cl.s,
                "operators.retention.partitions_dropped":
                    len(cleaned["deleted_partitions"]),
            })
        return elapsed

    def check(self, i: int) -> bool:
        state = checks.mart_state(self.spark, self.dirs["out"])
        latest = max(self.delivered)
        delivered = sorted(set(self.delivered))
        kept = [k for k in delivered if k >= latest - self.keep_days]
        bad = []
        sku_days = {d for d, v in state.items() if v["sku_rows"]}
        if sku_days != {START_DAY + dt.timedelta(days=k) for k in kept}:
            bad.append("retained days")
        for k in delivered:
            exp = r520.expected_marts(self.day_file(k))
            got = state.get(START_DAY + dt.timedelta(days=k), {})
            bad += checks.diff(exp, got, checks.DERIVED_FIELDS)
            if k in kept:
                bad += checks.diff(exp, got, checks.SKU_FIELDS)
        day = self.cycle_day.day
        rows = state.get(day, {}).get("sku_rows", 0)
        appended = rows - self.rows_before.get(day, 0)
        self.rows_before = {d: v["sku_rows"] for d, v in state.items()}
        if self.tracer.enabled and self.layers.get("ops"):
            ops = self.layers["ops"]
            ops[-1]["appended"] = appended
            ops[-1]["merged"] = len(r520.keep_first(self.cycle_day))
        self.mismatch = bad
        return not bad

    def summary(self, p: dict) -> dict:
        t = statistics.median(p["times"])
        return {"op_s_p50": t, "throughput_per_s": self.cycle_day.n_records / t}


# --------------------------------------------------------------------------
QUERIES = (
    "q01_pricing_summary",
    "q05_region_nation_revenue",
    "q16_topk_per_group",
    "q38_fixed_width_parse",
    "q40_sessionize",
    "q55_minhash_lsh",
    "q88_connected_components",
    "q182_kmeans_lloyd",
    "q189_setsim_prefix_join",
    "q212_bfs_distances",
    "q274_streamed_curation_replay",
    "q275_bucketed_mart_join",
)


def _phase_ms(df) -> float:
    """Catalyst analysis + optimization + planning time of a run plan."""
    phases = df._jdf.queryExecution().tracker().phases()
    it = phases.iterator()
    total = 0
    while it.hasNext():
        total += it.next()._2().durationMs()
    return float(total)


def _rows_digest(cols, rows) -> str:
    from oracle_harness import canon_rows

    return hashlib.sha256(repr(canon_rows(cols, rows)).encode()).hexdigest()


class QueryMix(Workload):
    """Registry queries plus ``.collect()``, cycling through QUERIES in
    whole passes. The tables are fixed (``table_seed``) so that runs
    differ only in the order, which the seed rotates. The end-to-end
    figures are of the mix: the sum over the queries of each query's
    median time."""

    name = "query_mix"
    sf = 0.02
    table_seed = 42
    #: two measured passes: the first one after the warm-up still runs
    #: about 10 % slower than later ones, and a run then always holds
    #: the same queries the same number of times
    min_ops = 2 * len(QUERIES)

    def setup(self) -> None:
        import tables
        from oracle_harness import duck_connection

        from pos_data_insertion_etl_spark.plans.registry import all_queries

        n = len(QUERIES)
        self.order = [QUERIES[(self.seed + j) % n] for j in range(n)]
        self.sf_dir = os.path.join(self.work, "sf")
        self.table_rows = tables.write_tables(self.table_seed, self.sf, self.sf_dir)
        self.registry = all_queries()
        # the oracle digests; every timed op is checked against them
        con = duck_connection(self.sf_dir)
        self.expected = {}
        for q in QUERIES:
            res = con.execute(self.registry[q].oracle)
            self.expected[q] = _rows_digest([d[0] for d in res.description], res.fetchall())
        con.close()
        for i in range(n):  # warm-up pass, checked like an op
            self.op(i)
            if not self.check(i):
                raise RuntimeError(f"{self.order[i]} does not match its oracle")
            self.reset()

    def op(self, i: int) -> float:
        q = self.order[i % len(QUERIES)]
        fn = self.registry[q].spark
        with self.tracer.span(f"plans.{q}") as sp:
            t0 = time.perf_counter()
            df = fn(self.spark, self.sf_dir)
            self.rows = df.collect()
            elapsed = time.perf_counter() - t0
        self.cols = df.columns
        if sp is not None:
            sp.attrs["rows"] = len(self.rows)
            self.layers.setdefault(q, []).append(
                {"s": sp.s, "catalyst_ms": _phase_ms(df), **sp.counters}
            )
        return elapsed

    def check(self, i: int) -> bool:
        q = self.order[i % len(QUERIES)]
        ok = _rows_digest(self.cols, [tuple(r) for r in self.rows]) == self.expected[q]
        self.mismatch = [] if ok else [q]
        self.rows = None
        return ok

    def more(self, times: list[float], seconds: float) -> bool:
        # whole passes only, so every query has the same weight
        return super().more(times, seconds) or len(times) % len(QUERIES) > 0

    def summary(self, p: dict) -> dict:
        n = len(QUERIES)
        mix_s = sum(statistics.median(p["times"][j::n]) for j in range(n))
        return {"op_s_p50": mix_s, "throughput_per_s": n / mix_s}


WORKLOADS = {
    "daily_file": DailyFile,
    "landing_stream": LandingStream,
    "query_mix": QueryMix,
}
