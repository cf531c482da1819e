"""Self-test: the deterministic work counters repeat exactly at one seed.

    python3 -m pytest perfbench/test_counters.py -q

Runs the traced backlog_cow child twice at the same seed and compares the
counters a noisy machine cannot move.  tail_json_mor is left out: its
open-loop feeder and the trigger timing decide how segments group into
batches, so its counters legitimately differ between runs.  Takes about
three minutes on a 4-core machine.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
SEED = 11
COUNTERS = (
    "lake.rows_written",
    "lake.files_written",
    "lake.target_rows_read",
    "streaming.batches",
    "operators.shuffle_records",
    "operators.evolutions",
)


def traced_layers(tmp: str) -> dict:
    work = os.path.join(tmp, "work")
    out = os.path.join(tmp, "result.json")
    env = dict(
        os.environ,
        PYTHONPATH=ROOT,
        TMPDIR=os.path.join(tmp, "tmp"),
        SPARK_GRAFT_LOCAL_DIR=os.path.join(tmp, "spark-local"),
    )
    os.makedirs(env["TMPDIR"], exist_ok=True)
    subprocess.run(
        [
            sys.executable, os.path.join(HERE, "child.py"),
            "--workload", "backlog_cow", "--seed", str(SEED), "--seconds", "12",
            "--trace", "1", "--master", "local[4]", "--role", "main",
            "--work", work, "--out", out,
        ],
        cwd=ROOT, env=env, check=True, timeout=300,
    )
    with open(out) as f:
        return json.load(f)["layer"]


def test_counters_repeat_exactly():
    scratch = os.path.join(ROOT, ".perfbench_work", f"selftest-{os.getpid()}")
    try:
        runs = [traced_layers(os.path.join(scratch, f"run{k}")) for k in range(2)]
    finally:
        shutil.rmtree(scratch, ignore_errors=True)
    first, second = ({c: r[c] for c in COUNTERS} for r in runs)
    assert first["operators.evolutions"] == 0, first
    assert all(v > 0 for k, v in first.items() if k != "operators.evolutions"), first
    assert first == second
