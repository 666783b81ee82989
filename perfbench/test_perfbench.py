"""The benchmark's own test: job attribution and exact counters.

Runs every workload traced twice with the same seed and requires

* 0 Spark jobs outside a span in either run;
* identical job, task, file, record and row counts in both runs, per
  metric and per span of the first ``min_ops`` operations.

Counters that do not repeat exactly are printed. The job and task
counts of a stream batch may differ, and with them
``streaming.cycle_jobs``: the batch's three mart writes run
concurrently, and in about one cycle in eight a batch runs one job (and
four tasks) more or fewer than the same batch in another run.

    python3 -m pytest perfbench/test_perfbench.py -q -s

It takes about four minutes (six Spark processes, one after another).
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
SEED = 3
#: count-valued metrics that must repeat exactly between runs
EXACT_SUFFIXES = (
    ".jobs", ".tasks", ".files_written", ".records",
    ".read_tasks", ".partitions_dropped", ".sku_mart_files", ".novel_frac",
)
FIRST_OPS = {"daily_file": 3, "landing_stream": 6, "query_mix": 24}
#: (span, field) pairs that may differ between runs, see above
MAY_DIFFER = {("streaming.pos_stream_ingest", "jobs"), ("streaming.pos_stream_ingest", "tasks")}


def traced_run(workload: str) -> tuple[dict, dict]:
    out = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
         "--seed", str(SEED), "--seconds", "1", "--trace", "1"],
        cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True,
        timeout=300,
    )
    assert out.returncode == 0, out.stdout[-2000:]
    result = json.loads(out.stdout.strip().splitlines()[-1])
    path = os.path.join(ROOT, ".perfbench_out", f"trace-{workload}-seed{SEED}.json")
    with open(path) as fh:
        spans = json.load(fh)
    return result, spans


#: the first span of each operation
OP_START = {"daily_file": "sources.read_zip_fixed_width",
            "landing_stream": "streaming.pos_stream_ingest"}


def span_counts(workload: str, spans: dict, n_ops: int) -> list[tuple]:
    """(name, jobs, tasks, rows) of every job-owning span, in order,
    for the first ``n_ops`` operations."""
    ops = 0
    out = []
    for s in spans["spans"]:
        if not s["counters"]:
            continue
        if s["name"] == OP_START.get(workload) or s["name"].startswith("plans."):
            ops += 1
        if ops > n_ops:
            break
        out.append((s["name"], s["counters"]["jobs"], s["counters"]["tasks"],
                    s["attrs"].get("rows")))
    return out


@pytest.mark.parametrize("workload", sorted(FIRST_OPS))
def test_attribution_and_exact_counts(workload):
    (a, spans_a), (b, spans_b) = traced_run(workload), traced_run(workload)
    for res, spans in ((a, spans_a), (b, spans_b)):
        assert res["correct"] and res["failed"] == 0
        assert res["metrics"]["trace.unattributed_jobs"]["value"] == 0, spans["unattributed"]
        assert spans["unattributed"] == []
    ma, mb = a["metrics"], b["metrics"]
    exact = [k for k in ma if k.endswith(EXACT_SUFFIXES)]
    differ = {k: (ma[k]["value"], mb[k]["value"]) for k in exact
              if ma[k]["value"] != mb[k]["value"]}
    loose = {k: (ma[k]["value"], mb[k]["value"]) for k in ma
             if k not in exact and ma[k]["unit"] not in ("s", "ms", "ratio")
             and ma[k]["value"] != mb[k]["value"]}
    print(f"\n{workload}: counters that do not repeat exactly: {sorted(loose)}")
    assert not differ, differ
    n = FIRST_OPS[workload]
    sa, sb = span_counts(workload, spans_a, n), span_counts(workload, spans_b, n)
    assert [s[0] for s in sa] == [s[0] for s in sb]
    diffs = {
        (x[0], field)
        for x, y in zip(sa, sb)
        for j, field in enumerate(("jobs", "tasks", "rows"), start=1)
        if x[j] != y[j]
    }
    print(f"{workload}: span counters that differ between runs: {sorted(diffs)}")
    assert diffs <= MAY_DIFFER, diffs - MAY_DIFFER
