"""The per-layer metrics of the traced run: name, unit, which direction
is better, and the end-to-end metric (on which workload) each one
should move. ``BENCHMARK.json`` lists the same names, units and
directions; ``NOTES.md`` carries the mapping as a table.

A metric of a layer the workload never calls reads 0 on that workload.
"""

from __future__ import annotations

import statistics

from workloads import QUERIES, p90

DF = "daily_file/throughput_per_s"
LS = "landing_stream/op_s_p50"
QM = "query_mix/throughput_per_s"

METRICS: list[tuple[str, str, str, str]] = [
    ("session.start_s", "s", "lower", "every workload/setup_s"),
    ("sources.read_s", "s", "lower", DF),
    ("sources.read_tasks", "count", "lower", f"{DF} (input-size guard)"),
    ("sources.records", "count", "higher", f"{DF} (input-size guard)"),
    ("sources.decoded_mb", "MB", "higher", f"{DF} (input-size guard)"),
    ("operators.fixedwidth.parse_s", "s", "lower", DF),
    ("pipeline.marts.merge_s", "s", "lower", DF),
    ("pipeline.marts.merge_shuffle_bytes", "bytes", "lower", DF),
    ("pipeline.marts.write_sku_s", "s", "lower", DF),
    ("pipeline.marts.write_rollups_s", "s", "lower", DF),
    ("pipeline.marts.files_written", "count", "lower", DF),
    ("pipeline.jobs.run_s", "s", "lower", DF),
    ("pipeline.jobs.jobs", "count", "lower", DF),
    ("pipeline.jobs.tasks", "count", "lower", DF),
    ("pipeline.jobs.exec_run_s", "s", "lower", DF),
    ("pipeline.jobs.exec_cpu_s", "s", "lower", DF),
    ("pipeline.jobs.gc_s", "s", "lower", DF),
    ("pipeline.jobs.shuffle_write_bytes", "bytes", "lower", DF),
    ("pipeline.jobs.spill_bytes", "bytes", "lower", DF),
    ("pipeline.jobs.driver_idle_s", "s", "lower", DF),
    ("streaming.cycle_jobs", "count", "lower", LS),
    ("streaming.add_batch_s", "s", "lower", LS),
    ("streaming.log_commit_s", "s", "lower", LS),
    ("streaming.list_s", "s", "lower", LS),
    ("streaming.plan_s", "s", "lower", LS),
    ("streaming.start_stop_s", "s", "lower", LS),
    ("streaming.novel_frac", "ratio", "higher", f"{LS} (re-delivery guard)"),
    ("streaming.sku_mart_files", "count", "lower", LS),
    ("streaming.checkpoint_files", "count", "lower", LS),
    ("streaming.exec_cpu_s", "s", "lower", LS),
    ("streaming.driver_idle_s", "s", "lower", LS),
    ("streaming.cycle_s_p90", "s", "lower", f"{LS} (tail, not gated)"),
    ("operators.retention.cleanup_s", "s", "lower", LS),
    ("operators.retention.partitions_dropped", "count", "higher", f"{LS} (retention guard)"),
]
for _q in QUERIES:
    METRICS += [
        (f"plans.{_q}.s", "s", "lower", QM),
        (f"plans.{_q}.jobs", "count", "lower", QM),
        (f"plans.{_q}.tasks", "count", "lower", QM),
        (f"plans.{_q}.shuffle_bytes", "bytes", "lower", QM),
        (f"plans.{_q}.catalyst_ms", "ms", "lower", QM),
    ]
METRICS += [
    ("trace.op_s_p50", "s", "lower", "none: op_s_p50 traced; minus the untraced one = overhead"),
    ("trace.unattributed_jobs", "count", "lower", "none: must be 0"),
]
UNITS = {name: unit for name, unit, _, _ in METRICS}


def _median(ops: list[dict], key: str) -> float:
    return statistics.median(op[key] for op in ops)


def layer_values(wl, run: dict, unattributed: int) -> dict[str, float]:
    """Every per-layer metric for one traced run of ``wl``; ``run`` holds
    its end-to-end figures."""
    v = dict.fromkeys(UNITS, 0.0)
    v["session.start_s"] = run["session_s"]
    ops = wl.layers.get("ops", [])
    first = ops[: wl.min_ops]
    for key in (ops[0].keys() & v.keys()) if ops else ():
        v[key] = _median(ops, key)
    if wl.name == "landing_stream":
        last = first[-1]
        v["streaming.sku_mart_files"] = last["streaming.sku_mart_files"]
        v["streaming.checkpoint_files"] = last["streaming.checkpoint_files"]
        v["operators.retention.partitions_dropped"] = sum(
            op["operators.retention.partitions_dropped"] for op in first
        )
        v["streaming.novel_frac"] = sum(op["appended"] for op in first) / sum(
            op["merged"] for op in first
        )
        v["streaming.cycle_s_p90"] = p90([op["cycle_s"] for op in ops])
    elif wl.name == "query_mix":
        for q in QUERIES:
            runs = wl.layers[q]
            v[f"plans.{q}.s"] = _median(runs, "s")
            v[f"plans.{q}.jobs"] = _median(runs, "jobs")
            v[f"plans.{q}.tasks"] = _median(runs, "tasks")
            v[f"plans.{q}.shuffle_bytes"] = _median(runs, "shuffle_write_bytes")
            v[f"plans.{q}.catalyst_ms"] = _median(runs, "catalyst_ms")
    v["trace.op_s_p50"] = run["op_s_p50"]
    v["trace.unattributed_jobs"] = unattributed
    return v
