"""Plumbing shared by the perfbench workloads.

A ``Bench`` owns one benchmark run: its work directory inside the checkout,
the Spark session, the spans and timed ops it records, and the host readings
taken around the timed window. Workloads call ``bench.op(...)`` around each
public engine call they time; nothing here knows a workload.
"""

from __future__ import annotations

import itertools
import os
import shutil
import statistics
import threading
import time
import uuid
from contextlib import contextmanager
from typing import Any, Callable

# Spark settings every run pins, whatever the host offers: at most this many
# task slots (capped by nproc; two leave cores for the Spark driver, JIT, GC
# and Python workers, which halved the run-to-run spread against four on a
# shared 4-core host), a fixed shuffle and default parallelism (so partition
# and file counts never depend on the host), and an explicit driver heap (the
# session factory's default is larger than small hosts; -Xms too, for a
# steadier RSS).
MAX_CORES = 2
SHUFFLE_PARTITIONS = 4
DEFAULT_PARALLELISM = 4
DRIVER_HEAP = "2g"

# candidate tail percentiles; the highest one with >= 10 samples beyond it
# is reported beside each median
_TAIL_CANDIDATES = (99.9, 99.0, 95.0, 90.0)


def summarize(samples: list[float]) -> dict[str, Any]:
    """Median, sample count, tail percentile and warm-up drift of a latency
    series given in the order the ops ran. ``drift`` is the change of the
    second half's median against the first half's: near 0 means warm-up
    had finished before the timed window."""
    n = len(samples)
    out: dict[str, Any] = {"p50": statistics.median(samples) if n else None,
                           "n": n, "tail": None, "drift": None}
    for p in _TAIL_CANDIDATES:
        if n * (1 - p / 100) >= 10:
            q = statistics.quantiles(samples, n=1000, method="inclusive")
            out["tail"] = {"p": p, "value": q[round(p * 10) - 1],
                           "beyond": int(n * (1 - p / 100))}
            break
    if n >= 4:
        h = n // 2
        first, second = statistics.median(samples[:h]), statistics.median(samples[h:])
        out["drift"] = (second - first) / first if first else None
    return out


# ----------------------------------------------------------------- host state
def cpu_jiffies() -> list[int]:
    """Aggregate CPU counters from /proc/stat (user .. steal)."""
    with open("/proc/stat") as f:
        fields = f.readline().split()
    return [int(x) for x in fields[1:9]]


def steal_pct(before: list[int], after: list[int]) -> float:
    d = [b - a for a, b in zip(before, after)]
    total = sum(d)
    return 100.0 * d[7] / total if total else 0.0


def loadavg_1m() -> float:
    with open("/proc/loadavg") as f:
        return float(f.read().split()[0])


def vm_hwm_mb(pid: int) -> float:
    """Peak resident set size of a process, in MiB."""
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError(f"no VmHWM for pid {pid}")


def prefault(*roots: str) -> int:
    """Read every file under ``roots`` (recursively) so the timed window
    starts with its inputs in the page cache. Returns bytes read."""
    n = 0
    buf = bytearray(1 << 20)
    for root in roots:
        for d, _dirs, files in os.walk(root):
            for name in files:
                with open(os.path.join(d, name), "rb", buffering=0) as f:
                    while (k := f.readinto(buf)):
                        n += k
    return n


# ------------------------------------------------------------ table accounting
def _kind(rel: str) -> str | None:
    """What a table file is: data, delta, metadata (manifests and manifest
    shards) or None (checksums, markers, the version pointer)."""
    if rel.endswith(".parquet"):
        if rel.startswith("data-v"):
            return "data"
        if rel.startswith("delta-v"):
            return "delta"
    if rel.endswith(".json") and (rel.startswith("manifest-v") or rel.startswith("shards/")):
        return "metadata"
    return None


def table_files(path: str) -> dict[str, int]:
    """relpath -> size of every data, delta and metadata file of a table."""
    out = {}
    for d, _dirs, files in os.walk(path):
        for name in files:
            full = os.path.join(d, name)
            rel = os.path.relpath(full, path)
            if _kind(rel):
                out[rel] = os.path.getsize(full)
    return out


def parquet_rows(path: str) -> int:
    import pyarrow.parquet as pq

    return pq.ParquetFile(path).metadata.num_rows


def created_files(path: str, before: dict[str, int]) -> dict[str, dict[str, int]]:
    """Files of kind data/delta/metadata present now but not in ``before``:
    {kind: {"files", "bytes", "rows"}} (rows only for parquet kinds)."""
    out = {k: {"files": 0, "bytes": 0, "rows": 0} for k in ("data", "delta", "metadata")}
    for rel, size in table_files(path).items():
        if rel in before:
            continue
        c = out[_kind(rel)]
        c["files"] += 1
        c["bytes"] += size
        if rel.endswith(".parquet"):
            c["rows"] += parquet_rows(os.path.join(path, rel))
    return out


def referenced_bytes(table) -> int:
    """Bytes of the data and delta files the table's current manifest
    references."""
    m = table.manifest()
    files = [f for fs in m["buckets"].values() for f in fs]
    files += [f for fs in (m.get("deltas") or {}).values() for f in fs]
    return sum(os.path.getsize(os.path.join(table.path, f)) for f in files)


# ---------------------------------------------------------------------- bench
class WindowClosed(Exception):
    """Raised by ``Bench.op`` instead of starting an op after the deadline."""


class Bench:
    """One benchmark run: work directory, Spark session, spans and ops."""

    def __init__(self, root: str, workload: str, seed: int):
        self.workload = workload
        self.seed = seed
        self.run_id = uuid.uuid4().hex[:12]
        self.work = os.path.join(root, ".bench_work", f"{workload}-{self.run_id}")
        self.spans: list[dict[str, Any]] = []
        self.ops: list[dict[str, Any]] = []
        self.round: int | None = None     # None while warming up
        self.deadline: float | None = None  # perf_counter() when the window ends
        self.spark = None
        self.last_span: dict[str, Any] = {}
        self._ids = itertools.count()
        self._stack: list[dict[str, Any]] = []
        self._tracing = False             # job groups + event log active
        self.cores = min(MAX_CORES, len(os.sched_getaffinity(0)))

    def path(self, *parts: str) -> str:
        return os.path.join(self.work, *parts)

    # ------------------------------------------------------------- session
    def start_session(self, event_log: bool) -> float:
        """Start the Spark session; every file Spark, the JVM and Python
        write goes under the work directory. Returns seconds."""
        for d in ("tmp", "local", "eventlog", "warehouse"):
            os.makedirs(self.path(d), exist_ok=True)
        os.environ["TMPDIR"] = self.path("tmp")
        os.environ["SPARK_LOCAL_DIRS"] = self.path("local")
        os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_HEAP
        conf = {
            "spark.driver.extraJavaOptions":
                f"-XX:+UseParallelGC -XX:-UsePerfData -Xms{DRIVER_HEAP} "
                f"-Djava.io.tmpdir={self.path('tmp')}",
            "spark.local.dir": self.path("local"),
            "spark.sql.warehouse.dir": self.path("warehouse"),
            "spark.default.parallelism": str(DEFAULT_PARALLELISM),
            "spark.ui.showConsoleProgress": "false",
            "spark.sql.streaming.numRecentProgressUpdates": "1000",
            "spark.eventLog.enabled": "true" if event_log else "false",
        }
        if event_log:
            conf.update({
                "spark.eventLog.dir": self.path("eventlog"),
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
            })
        from nostr_data_pipeline_spark.session import get_spark

        t0 = time.perf_counter()
        self.spark = get_spark(f"perfbench-{self.workload}", cores=self.cores,
                               shuffle_partitions=SHUFFLE_PARTITIONS,
                               extra_conf=conf)
        self._tracing = event_log
        return time.perf_counter() - t0

    def settings(self) -> dict[str, Any]:
        sc = self.spark.sparkContext
        return {"master": sc.master,
                "shuffle_partitions": int(self.spark.conf.get("spark.sql.shuffle.partitions")),
                "default_parallelism": sc.defaultParallelism,
                "driver_heap": sc.getConf().get("spark.driver.memory"),
                "nproc": len(os.sched_getaffinity(0))}

    def jvm_pid(self) -> int:
        return self.spark.sparkContext._gateway.proc.pid

    def event_log_file(self) -> str:
        d = self.path("eventlog")
        app = self.spark.sparkContext.applicationId
        return os.path.join(d, app)

    def close(self) -> None:
        """Stop Spark, end the JVM (and with it the Python workers) and wait
        for it, then remove the work directory."""
        try:
            if self.spark is not None:
                from pyspark import SparkContext

                gw = SparkContext._gateway
                self.spark.stop()
                if gw is not None:
                    proc = gw.proc
                    gw.shutdown()
                    proc.stdin.close()
                    proc.wait(timeout=60)
                    SparkContext._gateway = None
                    SparkContext._jvm = None
        finally:
            shutil.rmtree(self.work, ignore_errors=True)
            parent = os.path.dirname(self.work)
            if os.path.isdir(parent) and not os.listdir(parent):
                os.rmdir(parent)

    # --------------------------------------------------------------- spans
    def _set_group(self, rec: dict[str, Any] | None) -> None:
        sc = self.spark.sparkContext
        if rec is None:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
        else:
            sc.setJobGroup(rec["id"], rec["name"])

    @contextmanager
    def span(self, name: str, **attrs: Any):
        """Record a span around a block. While tracing, jobs the block runs
        on this thread carry the span id as their Spark job group."""
        on_main = threading.current_thread() is threading.main_thread()
        parent = self._stack[-1] if (self._stack and on_main) else None
        rec = {"id": f"{self.run_id}-{next(self._ids)}", "name": name,
               "parent": parent["id"] if parent else None,
               "run_id": self.run_id, "round": self.round, **attrs}
        if on_main:
            self._stack.append(rec)
            if self._tracing:
                self._set_group(rec)
        rec["start"] = time.time()
        t0 = time.perf_counter()
        try:
            yield rec
        finally:
            rec["seconds"] = time.perf_counter() - t0
            rec["end"] = time.time()
            if on_main:
                self._stack.pop()
                if self._tracing:
                    self._set_group(self._stack[-1] if self._stack else None)
            self.spans.append(rec)

    def op(self, kind: str, name: str, fn: Callable[[], Any]) -> Any:
        """Run one timed op of ``kind`` (write, fold, point_read, scan) and
        record its latency; its span is ``last_span`` afterwards. Warm-up
        ops (``round is None``) are spans only. Past the deadline, an op of
        any round but the first is not started: ``WindowClosed`` instead."""
        if self.round and self.deadline is not None and time.perf_counter() >= self.deadline:
            raise WindowClosed
        with self.span(name, kind=kind) as rec:
            out = fn()
        self.last_span = rec
        if self.round is not None:
            self.ops.append({"kind": kind, "s": rec["seconds"]})
        return out

    def wrap_method(self, obj: Any, attr: str, span_name: str,
                    sink: list | None = None) -> None:
        """Time every call of ``obj.attr`` (a public engine method) as a
        span, by shadowing it on the instance; ``sink`` collects the return
        values."""
        fn = getattr(obj, attr)

        def timed(*a, **kw):
            with self.span(span_name):
                out = fn(*a, **kw)
            if sink is not None:
                sink.append(out)
            return out

        setattr(obj, attr, timed)

    def ops_of(self, kind: str) -> list[float]:
        return [o["s"] for o in self.ops if o["kind"] == kind]
