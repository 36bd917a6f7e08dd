"""Spark event log -> per-job-group totals.

The traced run enables Spark's own event log (uncompressed, not rolled) and
sets the job group to the span id around every public engine call, so each
job's ``spark.jobGroup.id`` names the innermost span that ran it. Streaming
jobs carry the query's run id as their group and the micro-batch id as the
``streaming.sql.batchId`` property. This module sums task metrics per
``(job group, batch id)`` key; the harness folds keys into span trees.
"""

from __future__ import annotations

import json
from collections import Counter, defaultdict

# SQL metric types whose values are times, and their unit in seconds
_TIME_UNITS = {"timing": 1e-3, "nsTiming": 1e-9}


def _python_metrics(node: dict, out: dict[int, tuple[str, str]]) -> None:
    """Collect accumulator ids of every Python-evaluation plan node (the
    pandas UDF boundary, e.g. ArrowEvalPython) in a SparkPlanInfo tree."""
    if "Python" in node.get("nodeName", ""):
        for m in node.get("metrics", []):
            out[m["accumulatorId"]] = (m["name"], m.get("metricType", "sum"))
    for child in node.get("children", []):
        _python_metrics(child, out)


def parse(path: str) -> dict[tuple[str | None, str | None], Counter]:
    """Totals per ``(job group, streaming batch id)``: jobs, tasks, executor
    CPU and GC seconds, shuffle bytes written, spill bytes, input bytes and
    records, and the Python-node metrics (``python_run_s``,
    ``python_bytes_sent``, ``python_rows``)."""
    with open(path) as f:
        events = [json.loads(line) for line in f]
    # plan updates can land after the tasks they describe: ids first
    py_acc: dict[int, tuple[str, str]] = {}
    for e in events:
        if e["Event"].endswith(("SQLExecutionStart", "SQLAdaptiveExecutionUpdate")):
            _python_metrics(e["sparkPlanInfo"], py_acc)
    stage_key: dict[int, tuple] = {}
    agg: dict[tuple, Counter] = defaultdict(Counter)
    for e in events:
        ev = e["Event"]
        if ev == "SparkListenerJobStart":
            props = e.get("Properties") or {}
            key = (props.get("spark.jobGroup.id"), props.get("streaming.sql.batchId"))
            agg[key]["jobs"] += 1
            for sid in e.get("Stage IDs", []):
                stage_key[sid] = key
        elif ev == "SparkListenerTaskEnd":
            c = agg[stage_key.get(e["Stage ID"], (None, None))]
            c["tasks"] += 1
            m = e.get("Task Metrics") or {}
            c["executor_cpu_s"] += m.get("Executor CPU Time", 0) * 1e-9
            c["gc_s"] += m.get("JVM GC Time", 0) * 1e-3
            c["shuffle_write_bytes"] += (m.get("Shuffle Write Metrics") or {}).get(
                "Shuffle Bytes Written", 0)
            c["spill_bytes"] += m.get("Memory Bytes Spilled", 0)
            inp = m.get("Input Metrics") or {}
            c["input_bytes"] += inp.get("Bytes Read", 0)
            c["input_records"] += inp.get("Records Read", 0)
            for acc in (e.get("Task Info") or {}).get("Accumulables", []):
                hit = py_acc.get(acc.get("ID"))
                if hit is None:
                    continue
                name, mtype = hit
                v = float(acc.get("Update") or 0)
                if name == "time to run Python workers":
                    c["python_run_s"] += v * _TIME_UNITS.get(mtype, 1e-3)
                elif name == "data sent to Python workers":
                    c["python_bytes_sent"] += v
                elif name == "number of output rows":
                    c["python_rows"] += v
    return agg
