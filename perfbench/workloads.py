"""The perfbench workloads.

Each workload generates its inputs with ``cdc.generator`` from the run's
seed, builds its starting table with the op shapes its rounds time (the
warm-up), and then runs *rounds*: a round is a fixed unit of work that
starts from the same table state and applies the same input, so every batch
boundary and fold point is set by input and count, never by the clock. Only
how many ops of the rounds run depends on time; the first round always runs
whole, and the byte counts come from it.

- ``trickle_serve``: a base table built from a log prefix; the log's tail
  slices are applied one by one in delivery order with the streaming
  recipe's exact ``replay_batch`` call (merge-on-read, vouched broadcast,
  file slices), each followed by point reads skewed toward the keys just
  written and a scan; ``fold_deltas`` runs every ``FOLD_EVERY`` slices.
- ``stream_catchup``: ``StreamingReplayer`` with the CLI's default recipe
  drains a staged backlog of small files (``availableNow``, fixed
  ``max_files_per_trigger``) into a pre-built table with
  ``target_file_rows``, then point reads and scans.

DESIGN.md gives the sizes and the measurements they were chosen from.

Every op result is kept and checked against ``cdc.oracle.reduce_log`` over
the events applied before it, after the timed window.
"""

from __future__ import annotations

import argparse
import contextlib
import io
import json
import os
import shutil
import time
from dataclasses import dataclass, field, replace
from typing import Any

import numpy as np
import pandas as pd

from harness import Bench, created_files, prefault, referenced_bytes, table_files


@dataclass(frozen=True)
class Size:
    n_events: int
    zipf_a: float
    n_files: int
    tail_files: int              # the last files: slices (trickle) or backlog (stream)
    reads: int                   # point reads per slice (trickle) or per round
    scans: int                   # scans per slice (trickle) or per round
    seed_salt: int


SIZES: dict[str, dict[str, Size]] = {
    "bench": {
        "trickle_serve": Size(n_events=160_000, zipf_a=1.1, n_files=8, tail_files=3, reads=2,
                              scans=1, seed_salt=202),
        "stream_catchup": Size(n_events=100_000, zipf_a=0.5, n_files=100, tail_files=2,
                               reads=6, scans=4, seed_salt=303),
    },
}
SIZES["tiny"] = {k: replace(v, n_events=v.n_events // 20) for k, v in SIZES["bench"].items()}

N_REPOS = 1000          # x PATHS_PER_REPO: a 100k-key space
PATHS_PER_REPO = 100
NUM_BUCKETS = 4
KEYS_PER_READ = 4
FOLD_EVERY = 2          # trickle_serve: fold_deltas after every 2nd slice
FILES_PER_TRIGGER = 1   # stream_catchup: max_files_per_trigger
TARGET_FILE_ROWS = 4000  # stream_catchup: the table's target_file_rows

# the tail of trickle_serve carries a type-widening schema change
_TRICKLE_SCHEMA = ((0.40, "size_bytes", "int"), (0.55, "stars", "long"),
                   (0.80, "size_bytes", "long"))


def log_spec(name: str, size: Size, seed: int):
    from nostr_data_pipeline_spark.cdc.generator import LogSpec

    kw = {"schema_changes": _TRICKLE_SCHEMA} if name == "trickle_serve" else {}
    return LogSpec(n_events=size.n_events, n_repos=N_REPOS,
                   paths_per_repo=PATHS_PER_REPO, zipf_a=size.zipf_a,
                   n_files=size.n_files, seed=seed * 1000 + size.seed_salt, **kw)


def trending(spark, table) -> list[tuple]:
    """The CLI ``trending`` command over the table (its stdout parsed)."""
    from nostr_data_pipeline_spark import cli

    out = io.StringIO()
    with contextlib.redirect_stdout(out):
        cli.cmd_trending(spark, argparse.Namespace(
            table=table.path, buckets=table.num_buckets, limit=10))
    rows = [json.loads(line) for line in out.getvalue().splitlines() if line]
    return [(r["repo"], r["files"], r["latest_seq"]) for r in rows]


# --------------------------------------------------------------------- oracle
class Oracle:
    """Expected table states after prefixes of the delivered log files,
    from ``cdc.oracle.reduce_log`` (cached per prefix length)."""

    def __init__(self, files: list[str]):
        self.frames = [pd.read_parquet(f) for f in files]
        self._states: dict[int, pd.DataFrame] = {}

    def state(self, n_files: int) -> pd.DataFrame:
        if n_files not in self._states:
            from nostr_data_pipeline_spark.cdc.oracle import reduce_log

            self._states[n_files] = reduce_log(
                pd.concat(self.frames[:n_files], ignore_index=True))
        return self._states[n_files]

    def rows(self, n_files: int) -> dict[tuple, tuple]:
        """(repo, path) -> (content_sha256, last_seq) of the live rows."""
        s = self.state(n_files)
        return {(r, p): (h, int(q)) for r, p, h, q in
                zip(s["repo"], s["path"], s["content_sha256"], s["last_seq"])}

    def keys(self, lo: int, hi: int) -> list[tuple]:
        """Distinct data keys delivered in files [lo, hi), in first-seen order."""
        df = pd.concat(self.frames[lo:hi], ignore_index=True)
        df = df[df["op"] != "schema_change"]
        return list(dict.fromkeys(zip(df["repo"], df["path"])))


def check_point_read(rows: list[tuple], keys: list[tuple], live: dict[tuple, tuple]) -> bool:
    want = sorted((*k, *live[k]) for k in set(keys) if k in live)
    return sorted(rows) == want


def check_trending(rows: list[tuple], state: pd.DataFrame) -> bool:
    g = state.groupby("repo", sort=False).agg(files=("path", "size"),
                                              latest_seq=("last_seq", "max"))
    g = g.sort_values("latest_seq", ascending=False).head(10)
    want = [(r, int(f), int(s)) for r, f, s in zip(g.index, g["files"], g["latest_seq"])]
    return [(r, int(f), int(s)) for r, f, s in rows] == want


def check_table(spark, table, state: pd.DataFrame) -> bool:
    """Final table vs oracle: same live keys, same content sha256 and last
    seq per row, no duplicate keys."""
    got = table.read(spark).select("repo", "path", "content_sha256", "last_seq").toPandas()
    if got.duplicated(["repo", "path"]).any() or len(got) != len(state):
        return False
    got = got.sort_values(["repo", "path"]).reset_index(drop=True)
    want = state.sort_values(["repo", "path"]).reset_index(drop=True)
    return (list(got["repo"]) == list(want["repo"])
            and list(got["path"]) == list(want["path"])
            and list(got["content_sha256"]) == list(want["content_sha256"])
            and [int(x) for x in got["last_seq"]] == [int(x) for x in want["last_seq"]])


# ------------------------------------------------------------------ workloads
@dataclass
class RoundStats:
    events: int = 0
    write_s: float = 0.0                     # wall of write-side calls, folds included
    write_lat: list[float] = field(default_factory=list)
    created: dict[str, Any] = field(default_factory=dict)
    stored_bytes: int = 0
    live_rows: int = 0
    merges: list[dict] = field(default_factory=list)
    fold_bytes: int = 0
    deltas_at_read: list[int] = field(default_factory=list)
    progress: list[dict] = field(default_factory=list)
    batches: int = 0
    complete: bool = False                   # False: cut by the end of the window


class Workload:
    name = ""

    def __init__(self, bench: Bench, size: Size):
        self.bench = bench
        self.size = size
        self.rounds: list[RoundStats] = []
        # (kind, result, expected-state prefix length, keys) per checked op
        self.checks: list[tuple] = []
        self.final_table = None
        self.final_prefix = 0

    @property
    def spark(self):
        return self.bench.spark

    def generate(self) -> list[str]:
        from nostr_data_pipeline_spark.cdc.generator import write_log

        files = write_log(self.bench.path("inputs", "log"),
                          log_spec(self.name, self.size, self.bench.seed))
        self.oracle = Oracle(files)
        return files

    def _draw_keys(self, rng, recent: list[tuple], pool: list[tuple]) -> list[tuple]:
        """Probe keys: three in four from ``recent``, the rest from ``pool``."""
        out = []
        for _ in range(KEYS_PER_READ):
            src = recent if (recent and rng.random() < 0.75) else pool
            out.append(src[int(rng.integers(len(src)))])
        return out

    def _restore(self, pristine: str, dst: str):
        from nostr_data_pipeline_spark.tables.snapshot_table import SnapshotTable

        shutil.rmtree(dst, ignore_errors=True)
        shutil.copytree(pristine, dst)
        return SnapshotTable.open(dst)

    def _read_ops(self, table, prefix: int, key_sets: list[list[tuple]], scans: int) -> None:
        b = self.bench
        for keys in key_sets:
            rows = b.op("point_read", "tables.snapshot_table.read_keys",
                        lambda k=keys: [
                            (r["repo"], r["path"], r["content_sha256"], r["last_seq"])
                            for r in table.read_keys(self.spark, k).collect()])
            b.last_span["rows"] = len(rows)
            self._check("point_read", rows, prefix, keys)
        for _ in range(scans):
            rows = b.op("scan", "cli.trending",
                        lambda: trending(self.spark, table))
            self._check("scan", rows, prefix, None)

    def _check(self, kind, result, prefix, keys) -> None:
        if self.bench.round is not None:
            self.checks.append((kind, result, prefix, keys))

    def _start_round(self, pristine: str, prefix: int) -> tuple:
        """A fresh live copy of the pristine table, its file listing and the
        round's stats (kept from the start, so a cut round still counts)."""
        table = self._restore(pristine, self.bench.path("tables", "live"))
        self.final_table, self.final_prefix = table, prefix
        st = RoundStats()
        if self.bench.round is not None:
            self.rounds.append(st)
        return table, table_files(table.path), st

    def _finish_round(self, st: RoundStats, table, before: dict[str, int], prefix: int) -> None:
        st.created = created_files(table.path, before)
        st.stored_bytes = referenced_bytes(table)
        st.live_rows = len(self.oracle.state(prefix))
        st.complete = True

    def verify(self) -> tuple[int, int, bool]:
        """(ops checked, ops wrong, final table correct)."""
        bad, live = 0, {}
        for kind, result, prefix, keys in self.checks:
            if kind == "point_read" and prefix not in live:
                live[prefix] = self.oracle.rows(prefix)
            ok = (check_point_read(result, keys, live[prefix])
                  if kind == "point_read" else check_trending(result, self.oracle.state(prefix)))
            bad += not ok
        final_ok = check_table(self.spark, self.final_table,
                               self.oracle.state(self.final_prefix))
        return len(self.checks), bad, final_ok


class TrickleServe(Workload):
    name = "trickle_serve"

    def prepare(self) -> None:
        from nostr_data_pipeline_spark.cdc.replayer import (
            LOG_SCHEMA, TARGET_BASE_SCHEMA, replay_batch)
        from nostr_data_pipeline_spark.tables.snapshot_table import SnapshotTable

        b = self.bench
        files = self.generate()
        self.n_base = len(files) - self.size.tail_files
        base_dir = b.path("inputs", "base")
        os.makedirs(base_dir)
        for f in files[: self.n_base]:
            shutil.move(f, base_dir)
        self.slices = files[self.n_base:]
        self.slice_rows = [len(f) for f in self.oracle.frames[self.n_base:]]
        prefault(base_dir, os.path.dirname(self.slices[0]))
        rng = np.random.default_rng(b.seed)
        pool = self.oracle.keys(0, len(files))
        # point-read keys per tail slice: mostly the keys it writes
        self.key_sets = {j: [self._draw_keys(rng, self.oracle.keys(j, j + 1), pool)
                             for _ in range(self.size.reads)]
                         for j in range(self.n_base, len(files))}
        self.pristine = b.path("tables", "pristine")
        table = SnapshotTable(self.pristine, num_buckets=NUM_BUCKETS)
        table.create(TARGET_BASE_SCHEMA)
        # the base prefix as one batch with the round's recipe, folded, then
        # a round's reads on it: the set-up also runs every op shape once
        df = self.spark.read.schema(LOG_SCHEMA).parquet(base_dir)
        b.op("write", "cdc.replayer.replay_batch", lambda: replay_batch(
            self.spark, table, df, stream_id="base", batch_id=0, merge_mode="mor",
            max_broadcast_keys=None, batch_is_file_slice=True))
        b.op("fold", "tables.snapshot_table.fold_deltas", lambda: table.fold_deltas(self.spark))
        self._read_ops(table, self.n_base, self.key_sets[self.n_base], self.size.scans)

    def round(self) -> None:
        from nostr_data_pipeline_spark.cdc.replayer import LOG_SCHEMA, replay_batch

        b, sz = self.bench, self.size
        table, before, st = self._start_round(self.pristine, self.n_base)
        b.wrap_method(table, "merge", "tables.snapshot_table.merge", st.merges)
        pending = 0
        for j, f in enumerate(self.slices):
            def apply(f=f, j=j):
                df = self.spark.read.schema(LOG_SCHEMA).parquet(f)
                # StreamingReplayer._apply's call for guard dedup + MoR +
                # vouched broadcast on a file-source micro-batch
                return replay_batch(self.spark, table, df, stream_id="trickle",
                                    batch_id=j, merge_mode="mor",
                                    max_broadcast_keys=None, batch_is_file_slice=True)

            m = b.op("write", "cdc.replayer.replay_batch", apply)
            prefix = self.n_base + j + 1
            self.final_prefix = prefix
            st.events += self.slice_rows[j]
            st.batches += 1
            st.write_lat.append(b.last_span["seconds"])
            st.write_s += b.last_span["seconds"]
            pending = m.get("delta_commits_pending", pending)
            st.deltas_at_read += [pending] * sz.reads
            self._read_ops(table, prefix, self.key_sets[prefix - 1], sz.scans)
            if (j + 1) % FOLD_EVERY == 0:
                pre = table_files(table.path)
                b.op("fold", "tables.snapshot_table.fold_deltas",
                     lambda: table.fold_deltas(self.spark))
                st.write_s += b.last_span["seconds"]
                c = created_files(table.path, pre)
                st.fold_bytes += c["data"]["bytes"] + c["delta"]["bytes"]
                pending = 0
        self._finish_round(st, table, before, self.n_base + len(self.slices))

    def lww_input(self):
        from nostr_data_pipeline_spark.cdc.replayer import LOG_SCHEMA

        return self.spark.read.schema(LOG_SCHEMA).parquet(self.slices[0])


class StreamCatchup(Workload):
    name = "stream_catchup"

    def prepare(self) -> None:
        """Stage the base prefix and the backlog, and build the pristine
        base by draining the prefix with the same streaming recipe in one
        trigger, so building it also warms the streaming shell and the
        guarded CoW path; then warm the reads."""
        from nostr_data_pipeline_spark.streaming.replayer import StreamingReplayer
        from nostr_data_pipeline_spark.tables.snapshot_table import SnapshotTable

        sz, b = self.size, self.bench
        files = self.generate()
        self.n_base = len(files) - sz.tail_files
        base_dir, self.backlog = b.path("inputs", "base"), b.path("inputs", "backlog")
        os.makedirs(base_dir)
        os.makedirs(self.backlog)
        for f in files[: self.n_base]:
            shutil.move(f, base_dir)
        # the file source orders new files by modification time: distinct,
        # increasing stamps fix which files each trigger takes
        t = int(time.time()) - 3600
        self.backlog_files = []
        for k, f in enumerate(files[self.n_base:]):
            dst = shutil.move(f, self.backlog)
            os.utime(dst, (t + k, t + k))
            self.backlog_files.append(dst)
        prefault(base_dir, self.backlog)
        self.n_events = sum(len(f) for f in self.oracle.frames[self.n_base:])
        self.pristine = b.path("tables", "pristine")
        table = SnapshotTable(self.pristine, num_buckets=NUM_BUCKETS,
                              target_file_rows=TARGET_FILE_ROWS)
        StreamingReplayer(table, base_dir, b.path("checkpoint-base"),
                          stream_id="base").run_to_completion(self.spark)
        rng = np.random.default_rng(self.bench.seed)
        pool = self.oracle.keys(0, len(files))
        recent = self.oracle.keys(self.n_base, len(files))
        self.key_sets = [self._draw_keys(rng, recent, pool) for _ in range(sz.reads)]
        self._read_ops(table, self.n_base, self.key_sets, sz.scans)

    def round(self) -> None:
        from nostr_data_pipeline_spark.streaming.replayer import StreamingReplayer

        b, sz = self.bench, self.size
        table, before, st = self._start_round(self.pristine, self.n_base)
        ckpt = b.path("checkpoint")
        shutil.rmtree(ckpt, ignore_errors=True)
        b.wrap_method(table, "merge", "tables.snapshot_table.merge", st.merges)
        rep = StreamingReplayer(table, self.backlog, ckpt,
                                max_files_per_trigger=FILES_PER_TRIGGER)

        def drain():
            q = rep.start(self.spark, available_now=True)
            q.awaitTermination()
            if q.exception() is not None:
                raise RuntimeError(str(q.exception()))
            return q

        q = b.op("write", "streaming.replayer.start", drain)
        n = len(self.oracle.frames)
        self.final_prefix = n
        st.events = self.n_events
        st.write_s = b.last_span["seconds"]
        # the query's jobs carry its run id as their Spark job group
        b.last_span["stream_run_id"] = str(q.runId)
        for p in q.recentProgress:
            d = p.durationMs
            if "addBatch" in d:
                st.progress.append({"batch": p.batchId, "rows": p.numInputRows,
                                    "trigger_s": d["triggerExecution"] / 1000,
                                    "add_batch_s": d["addBatch"] / 1000})
        st.write_lat = [p["trigger_s"] for p in st.progress]
        st.batches = len(st.progress)
        self._read_ops(table, n, self.key_sets, sz.scans)
        self._finish_round(st, table, before, n)

    def lww_input(self):
        from nostr_data_pipeline_spark.cdc.replayer import LOG_SCHEMA

        return self.spark.read.schema(LOG_SCHEMA).parquet(
            *self.backlog_files[:FILES_PER_TRIGGER])


WORKLOADS = {w.name: w for w in (TrickleServe, StreamCatchup)}
