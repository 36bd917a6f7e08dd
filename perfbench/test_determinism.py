"""Same seed, same counts: the benchmark's byte, file, job and micro-batch
counts must not depend on the clock.

Run from the root of a checkout::

    python3 -m pytest perfbench -q

Each workload runs twice at the tiny size with one seed, traced (a traced
run also makes its own untraced companion run), so this takes minutes.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [HERE, ROOT]

WORKLOADS = ("trickle_serve", "stream_catchup")


def _traced_run(workload: str, seed: int) -> dict:
    out = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
         "--seed", str(seed), "--seconds", "1", "--trace", "1", "--size", "tiny"],
        cwd=ROOT, stdout=subprocess.PIPE, text=True, timeout=900)
    assert out.returncode == 0, out.stdout[-2000:]
    lines = out.stdout.splitlines()
    assert json.loads(lines[-1])["correct"] is True
    rec = next(line for line in lines if line.startswith('{"perfbench_record"'))
    return json.loads(rec)["perfbench_record"]


@pytest.mark.parametrize("workload", WORKLOADS)
def test_counts_repeat_for_one_seed(workload):
    a, b = _traced_run(workload, 7), _traced_run(workload, 7)

    def e2e(r, k):
        return r["end_to_end"][k]["value"]

    def layer(r, k):
        return r["per_layer"][k]["value"]

    for k in ("table.data_files_written", "table.data_bytes_written",
              "table.metadata_files_written", "replayer.jobs_per_batch",
              "stream.micro_batches"):
        assert layer(a, k) == layer(b, k), k
    assert e2e(a, "stored_bytes_per_live_row") == e2e(b, "stored_bytes_per_live_row")
    # Manifests stamp their commit wall time as a JSON float whose shortest
    # repr is sometimes a digit or two shorter, so bytes written may differ
    # by at most 2 per manifest; everything else in them repeats.
    events = a["events_per_round"]
    assert events == b["events_per_round"]
    slack = 2 * layer(a, "table.metadata_files_written")
    diff = abs(e2e(a, "write_bytes_per_event") - e2e(b, "write_bytes_per_event"))
    assert diff * events <= slack + 1e-6


def test_seed_drives_the_inputs():
    from nostr_data_pipeline_spark.cdc.generator import make_log_frame
    from workloads import SIZES, log_spec

    for name, size in SIZES["tiny"].items():
        a = make_log_frame(log_spec(name, size, 7))
        b = make_log_frame(log_spec(name, size, 7))
        c = make_log_frame(log_spec(name, size, 8))
        assert a.equals(b), name
        assert not a.equals(c), name
