#!/usr/bin/env python3
"""perfbench — the repository's benchmark.

    python3 perfbench/run.py --workload {trickle_serve,stream_catchup}
                             --seed N --seconds S --trace {0,1} [--size {bench,tiny}]

Run from the root of a checkout. One run: start a Spark session, generate the
workload's inputs from ``--seed``, build its starting table (which also runs
every timed op shape once), then run rounds for ``--seconds``: no op starts
after the deadline, except in the first round (see workloads.py). Every op
result and the final table are checked against ``cdc.oracle.reduce_log``.

``--trace 0`` reports the end-to-end metrics: all eight on the record line,
and on the result line the ones in ``GATED``. ``--trace 1`` first runs the
same command untraced in a child process (for ``trace.overhead_pct``), then
runs with Spark's event log on and a job group per span, adds a standalone
``resolve_lww`` probe, and reports the per-layer metrics; it also writes the
spans, the event log and the per-layer record under ``.bench_out/``.

Standard output: a human-readable table, one ``{"perfbench_record": ...}``
line with sample counts, tail percentiles, warm-up drift, host state and
Spark settings, and last the result line
``{"correct", "attempted", "failed", "metrics"}``. The exit code is 0 only
when every check passed. DESIGN.md maps layers to end-to-end metrics.
"""

from __future__ import annotations

import argparse
import itertools
import json
import os
import shutil
import statistics
import sys
import time
import traceback
from collections import Counter, defaultdict

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [HERE, ROOT]


def parse_args(argv):
    p = argparse.ArgumentParser(prog="perfbench")
    p.add_argument("--workload", required=True,
                   choices=("trickle_serve", "stream_catchup"))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--size", choices=("bench", "tiny"), default="bench")
    return p.parse_args(argv)


# The end-to-end metrics on the result line (BENCHMARK.json's end_to_end):
# the ones that repeat from run to run on a shared host. The four timings
# (events_per_s and the three p50 latencies) go on the record line, with
# sample counts, tails and drift, but a host whose speed moves by a fifth
# within a minute moves them past any bound the gate allows (DESIGN.md).
GATED = ("write_bytes_per_event", "stored_bytes_per_live_row", "jvm_peak_rss_mb", "setup_s")


def _median(xs):
    return statistics.median(xs) if xs else 0.0


def _mean(xs):
    return statistics.mean(xs) if xs else 0.0


def events_per_s(rounds) -> float:
    """Delivered events / wall time of the write-side calls, over all the
    rounds of the window."""
    return sum(r.events for r in rounds) / sum(r.write_s for r in rounds)


def run_window(bench, wl, seconds: float) -> dict:
    """Rounds for ``seconds``: no op starts after the deadline, except in the
    first round, which always runs whole; the round the deadline cuts
    counts its finished ops. The host's steal and load are read around the
    window. A round that raises ends the window and counts as one failed
    op. The JVM's peak RSS is read after the first round, so it covers the
    same work whatever the round count."""
    from harness import WindowClosed, cpu_jiffies, loadavg_1m, steal_pct, vm_hwm_mb

    first = len(wl.rounds)
    jif, la0, t0 = cpu_jiffies(), loadavg_1m(), time.perf_counter()
    bench.deadline = t0 + seconds
    errors, rss = 0, None
    for k in itertools.count():
        bench.round = k
        try:
            wl.round()
        except WindowClosed:
            break
        except Exception:  # a failed op: report it, keep the run alive to say so
            traceback.print_exc()
            errors += 1
            break
        finally:
            bench.round = None
        if rss is None:
            rss = vm_hwm_mb(bench.jvm_pid())
    bench.deadline = None
    return {"rounds": wl.rounds[first:], "wall_s": time.perf_counter() - t0,
            "errors": errors, "jvm_peak_rss_mb": rss,
            "steal_pct": steal_pct(jif, cpu_jiffies()),
            "loadavg_1m_start": la0, "loadavg_1m_end": loadavg_1m()}


def end_to_end(bench, wl, win: dict, setup_s: float) -> dict:
    """The end-to-end metrics of an untraced window, each with its unit and
    sample count; latencies also carry their tail and warm-up drift."""
    from harness import summarize

    rounds = win["rounds"]
    # byte counts from the first round, which always runs whole: every
    # round starts from the same table and applies the same input
    one = rounds[0]
    written = sum(c["bytes"] for c in one.created.values())
    out = {
        "events_per_s": {"value": events_per_s(rounds), "unit": "1/s",
                         "n": sum(r.batches for r in rounds)},
        "write_bytes_per_event": {"value": written / one.events, "unit": "B", "n": 1},
        "stored_bytes_per_live_row": {"value": one.stored_bytes / one.live_rows,
                                      "unit": "B", "n": 1},
        "jvm_peak_rss_mb": {"value": win["jvm_peak_rss_mb"], "unit": "MB", "n": 1},
        "setup_s": {"value": setup_s, "unit": "s", "n": 1},
    }
    for name, xs in (("write_p50_s", [x for r in rounds for x in r.write_lat]),
                     ("point_read_p50_s", bench.ops_of("point_read")),
                     ("scan_read_p50_s", bench.ops_of("scan"))):
        s = summarize(xs)
        out[name] = {"value": s["p50"], "unit": "s", "n": s["n"],
                     "tail": s["tail"], "drift": s["drift"]}
    return out


def span_totals(spans: list[dict], agg: dict) -> dict[str, Counter]:
    """Event-log totals per span, children included. A streaming span also
    owns the jobs of its query (job group = the query's run id)."""
    by_run: dict[str, Counter] = defaultdict(Counter)
    for (group, _batch), c in agg.items():
        by_run[group].update(c)
    kids = defaultdict(list)
    for s in spans:
        if s["parent"]:
            kids[s["parent"]].append(s["id"])
    memo: dict[str, Counter] = {}

    def total(s) -> Counter:
        if s["id"] not in memo:
            c = Counter(by_run.get(s["id"], Counter()))
            if s.get("stream_run_id"):
                c.update(by_run.get(s["stream_run_id"], Counter()))
            for k in kids[s["id"]]:
                c.update(total(by_id[k]))
            memo[s["id"]] = c
        return memo[s["id"]]

    by_id = {s["id"]: s for s in spans}
    return {s["id"]: total(s) for s in spans}


def per_layer(bench, win: dict, agg: dict, lww: dict, session_s: float,
              untraced_eps: float) -> dict:
    """The per-layer metrics of a traced window (see DESIGN.md), from the
    rounds that ran whole; ``trace.overhead_pct`` from all of them, as in
    the untraced run."""
    whole = {k for k, r in enumerate(win["rounds"]) if r.complete}
    rounds = [win["rounds"][k] for k in sorted(whole)]
    n_rounds = len(rounds)
    spans = [s for s in bench.spans if s["round"] in whole]
    totals = span_totals(bench.spans, agg)

    def kind(k):
        return [s for s in spans if s.get("kind") == k]

    def tsum(ss, key):
        return sum(totals[s["id"]][key] for s in ss)

    writes, reads, scans = kind("write"), kind("point_read"), kind("scan")
    roots = [s for s in spans if s["parent"] is None]
    batches = sum(r.batches for r in rounds)

    def made(kinds, field):
        return sum(r.created[k][field] for r in rounds for k in kinds)

    data, meta = ("data", "delta"), ("metadata",)
    merges = [s for s in spans if s["name"] == "tables.snapshot_table.merge"]
    changed = 0
    for r in rounds:
        for m in r.merges:
            changed += (m.get("rows_written", 0) if m.get("merge_mode") == "mor" else
                        sum(m.get(k, 0) for k in ("rows_inserted", "rows_updated",
                                                  "rows_deleted", "rows_tombstoned")))
    progress = [p for r in rounds for p in r.progress]
    # a streaming batch is its foreachBatch call; otherwise the write op
    batch_s = ([p["add_batch_s"] for p in progress]
               or [x for r in rounds for x in r.write_lat])
    returned = sum(s.get("rows", 0) for s in reads)
    traced_eps = events_per_s(win["rounds"])
    m = {
        "session.start_s": ("s", session_s),
        "replayer.batch_s": ("s", _median(batch_s)),
        "replayer.jobs_per_batch": ("count", tsum(writes, "jobs") / batches),
        "replayer.tasks_per_batch": ("count", tsum(writes, "tasks") / batches),
        "lww.resolve_s": ("s", lww["resolve_s"]),
        "lww.shuffle_write_bytes": ("B", lww["shuffle_write_bytes"]),
        "lww.spill_bytes": ("B", lww["spill_bytes"]),
        "lww.winners_per_event": ("ratio", lww["winners_per_event"]),
        "content.python_run_s": ("s", tsum(writes, "python_run_s") / n_rounds),
        "content.python_bytes_sent": ("B", tsum(writes, "python_bytes_sent") / n_rounds),
        "content.python_rows": ("count", tsum(writes, "python_rows") / n_rounds),
        "table.merge_s": ("s", _median([s["seconds"] for s in merges])),
        "table.data_files_written": ("count", made(data, "files") / n_rounds),
        "table.data_bytes_written": ("B", made(data, "bytes") / n_rounds),
        "table.metadata_files_written": ("count", made(meta, "files") / n_rounds),
        "table.metadata_bytes_written": ("B", made(meta, "bytes") / n_rounds),
        "table.rows_rewritten_per_row_changed": ("ratio", made(data, "rows") / max(changed, 1)),
        "table.fold_s": ("s", _median([s["seconds"] for s in kind("fold")])),
        "table.fold_bytes_rewritten": ("B", sum(r.fold_bytes for r in rounds) / n_rounds),
        "table.deltas_pending_at_read": (
            "count", _mean([x for r in rounds for x in r.deltas_at_read])),
        "table.read_keys_s": ("s", _median([s["seconds"] for s in reads])),
        "table.read_keys_input_bytes": ("B", tsum(reads, "input_bytes") / max(len(reads), 1)),
        "table.read_keys_rows_scanned_per_row_returned": (
            "ratio", tsum(reads, "input_records") / max(returned, 1)),
        "table.scan_s": ("s", _median([s["seconds"] for s in scans])),
        "table.scan_input_bytes": ("B", tsum(scans, "input_bytes") / max(len(scans), 1)),
        "stream.trigger_s": ("s", _median([p["trigger_s"] for p in progress])),
        "stream.add_batch_s": ("s", _median([p["add_batch_s"] for p in progress])),
        "stream.overhead_s": ("s", _median([p["trigger_s"] - p["add_batch_s"] for p in progress])),
        "stream.micro_batches": ("count", len(progress) / n_rounds),
        "spark.executor_cpu_s": ("s", tsum(roots, "executor_cpu_s") / n_rounds),
        "spark.gc_s": ("s", tsum(roots, "gc_s") / n_rounds),
        "spark.jobs": ("count", tsum(roots, "jobs") / n_rounds),
        "spark.tasks": ("count", tsum(roots, "tasks") / n_rounds),
        "spark.shuffle_write_bytes": ("B", tsum(roots, "shuffle_write_bytes") / n_rounds),
        "spark.spill_bytes": ("B", tsum(roots, "spill_bytes") / n_rounds),
        "host.steal_pct": ("%", win["steal_pct"]),
        "host.loadavg_1m": ("count", win["loadavg_1m_end"]),
        "trace.overhead_pct": ("%", 100.0 * (untraced_eps - traced_eps) / untraced_eps),
    }
    return {k: {"value": float(v), "unit": u} for k, (u, v) in m.items()}


def lww_probe(bench, wl) -> dict:
    """Standalone ``resolve_lww`` on the workload's batch into a no-op sink,
    three times; the median time, plus shuffle and spill of the last run."""
    from pyspark.sql import functions as F

    from nostr_data_pipeline_spark.cdc.lww import resolve_lww

    data = (wl.lww_input().filter(F.col("op") != "schema_change")
            .withColumn("seq", F.coalesce(F.col("seq"), F.lit(0).cast("long"))))
    times = []
    for _ in range(3):
        stats: dict = {}
        with bench.span("cdc.lww.resolve_lww") as rec:
            resolve_lww(data, ("repo", "path"), "seq", "event_id", stats=stats) \
                .write.format("noop").mode("overwrite").save()
        stats["winners"].unpersist()
        times.append(rec["seconds"])
    return {"resolve_s": statistics.median(times), "span": rec["id"],
            "winners_per_event": stats["n_keys"] / stats["rows_total"]}


def untraced_events_per_s(args) -> float:
    """events_per_s of an untraced run with the same arguments, in a child
    process that ends before this run starts its own session."""
    import subprocess

    cmd = [sys.executable, os.path.abspath(__file__), "--workload", args.workload,
           "--seed", str(args.seed), "--seconds", str(args.seconds), "--trace", "0",
           "--size", args.size]
    out = subprocess.run(cmd, cwd=ROOT, stdout=subprocess.PIPE, text=True, timeout=900)
    if out.returncode != 0:
        raise RuntimeError(f"untraced companion run failed ({out.returncode})")
    line = next(x for x in out.stdout.splitlines() if x.startswith('{"perfbench_record"'))
    return json.loads(line)["perfbench_record"]["end_to_end"]["events_per_s"]["value"]


def run(bench, args) -> dict:
    from workloads import SIZES, WORKLOADS

    size = SIZES[args.size][args.workload]
    untraced_eps = untraced_events_per_s(args) if args.trace else None
    session_s = bench.start_session(event_log=bool(args.trace))
    wl = WORKLOADS[args.workload](bench, size)
    t0 = time.perf_counter()
    wl.prepare()                         # inputs, base table, warm-up
    prepare_s = time.perf_counter() - t0
    setup_s = session_s + prepare_s
    win = run_window(bench, wl, args.seconds)
    rec = {"workload": args.workload, "seed": args.seed, "size": args.size,
           "run_id": bench.run_id, "traced": bool(args.trace), "settings": bench.settings(),
           "setup": {"session_s": session_s, "prepare_s": prepare_s},
           "window": {**{k: v for k, v in win.items() if k != "rounds"},
                      "rounds": len(win["rounds"])},
           "errors": win["errors"]}
    if win["rounds"]:
        rec["events_per_round"] = win["rounds"][0].events
        rec["end_to_end"] = end_to_end(bench, wl, win, setup_s)
    if args.trace and not rec["errors"]:
        lww = lww_probe(bench, wl)
    checked, wrong, final_ok = wl.verify() if not rec["errors"] else (len(wl.checks), 0, False)
    rec["checks"] = {"ops_checked": checked, "ops_wrong": wrong, "final_table_ok": final_ok}
    if args.trace and not rec["errors"]:
        from eventlog import parse

        log = bench.event_log_file()
        bench.spark.stop()               # closes and flushes the event log
        agg = parse(log)
        lww.update({k: sum(c[k] for (g, _b), c in agg.items() if g == lww["span"])
                    for k in ("shuffle_write_bytes", "spill_bytes")})
        rec["per_layer"] = per_layer(bench, win, agg, lww, session_s, untraced_eps)
        out = os.path.join(ROOT, ".bench_out", f"{args.workload}-seed{args.seed}-{bench.run_id}")
        os.makedirs(out, exist_ok=True)
        shutil.copy(log, os.path.join(out, "eventlog.json"))
        with open(os.path.join(out, "spans.jsonl"), "w") as f:
            for s in bench.spans:
                f.write(json.dumps(s, default=str) + "\n")
        with open(os.path.join(out, "per_layer.json"), "w") as f:
            json.dump(rec["per_layer"], f, indent=1, sort_keys=True)
    rec["attempted"] = len(bench.ops) + rec["errors"]
    rec["failed"] = wrong + rec["errors"]
    rec["correct"] = rec["failed"] == 0 and final_ok
    return rec


def report(rec: dict, trace: bool) -> dict:
    """Print every metric as a table and the record line; return the result
    line: the per-layer metrics, or the gated end-to-end ones."""
    metrics = rec.get("per_layer" if trace else "end_to_end", {})
    for name, m in metrics.items():
        extra = ""
        if "n" in m:
            extra = f"  n={m['n']}"
            if m.get("tail"):
                extra += f"  p{m['tail']['p']:g}={m['tail']['value']:.4g}"
            if m.get("drift") is not None:
                extra += f"  drift={m['drift']:+.1%}"
        if not (trace or name in GATED):
            extra += "  (record line only)"
        print(f"{name:48s} {m['value']:>14.6g} {m['unit']:6s}{extra}")
    print(json.dumps({"perfbench_record": rec}, default=str))
    shown = metrics if trace else {k: metrics[k] for k in GATED if k in metrics}
    return {"correct": rec["correct"], "attempted": rec["attempted"], "failed": rec["failed"],
            "metrics": {k: {"value": m["value"], "unit": m["unit"]} for k, m in shown.items()}}


def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, "nostr_data_pipeline_spark")):
        print("perfbench: run from the root of a checkout of the engine", file=sys.stderr)
        return 2
    from harness import Bench

    bench = Bench(ROOT, args.workload, args.seed)
    try:
        rec = run(bench, args)
    finally:
        bench.close()
    result = report(rec, bool(args.trace))
    print(json.dumps(result))
    return 0 if rec["correct"] else 1


if __name__ == "__main__":
    sys.exit(main())
