"""Benchmark entry point: one run of one workload, one JSON result line.

    python3 perfbench/run.py --workload backlog_cow --seed 1 --seconds 12 --trace 0

Workloads: ``backlog_cow`` and ``tail_json_mor`` (README.md says what each
exercises and why).  ``--trace 0`` prints the end-to-end metrics;
``--trace 1`` prints the per-layer metrics of a traced run, including the
local[1]-to-local[4] scaling pair on ``backlog_cow``.

This process starts no JVM: each measurement runs in a child process with
its own Spark session (``child.py``), pinned to an explicit master.  All
inputs, tables, checkpoints, shuffle and temp files live under
``.perfbench_work/`` in the checkout and are removed when the run ends;
traced runs keep their spans under ``.perfbench_out/``.

Lines before the last list every metric with its unit and sample count,
and the JIT time and host steal share of the timed region.  The last line
of stdout is the result:
``{"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}``.
The exit code is 0 only when the run completed and every final table and
looked-up key matched the DuckDB oracle.
"""

from __future__ import annotations

import time

T0 = time.time()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import signal  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ("backlog_cow", "tail_json_mor")
RUN_TIMEOUT_S = 175


def spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def run_child(args, work: str, role: str, master: str, trace: int,
              deadline: float) -> dict:
    os.makedirs(work, exist_ok=True)
    out = os.path.join(work, "result.json")
    env = dict(os.environ)
    env.update(
        PYTHONPATH=ROOT,
        PYSPARK_PYTHON=sys.executable,
        TMPDIR=os.path.join(work, "tmp"),
        SPARK_GRAFT_LOCAL_DIR=os.path.join(work, "spark-local"),
        PERFBENCH_T0=repr(T0),
    )
    os.makedirs(env["TMPDIR"], exist_ok=True)
    cmd = [
        sys.executable, os.path.join(HERE, "child.py"),
        "--workload", args.workload, "--seed", str(args.seed),
        "--seconds", str(args.seconds), "--trace", str(trace),
        "--master", master, "--role", role, "--work", work, "--out", out,
    ]
    proc = subprocess.Popen(cmd, cwd=ROOT, env=env, stdout=sys.stderr,
                            start_new_session=True)
    try:
        code = proc.wait(timeout=max(deadline - time.monotonic(), 1))
    except subprocess.TimeoutExpired:
        code = None
    finally:
        # the JVM dies with its driver; reap anything left in the group
        try:
            os.killpg(proc.pid, signal.SIGKILL)
        except ProcessLookupError:
            pass
        proc.wait()
    if code is None:
        raise RuntimeError(f"{role} child timed out")
    if code != 0:
        raise RuntimeError(f"{role} child exited with {code}")
    with open(out) as f:
        return json.load(f)


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    if not os.path.isfile(os.path.join(ROOT, "airbyte_custom_spark", "__init__.py")):
        print("engine package airbyte_custom_spark not found next to perfbench/",
              file=sys.stderr)
        return 2

    deadline = time.monotonic() + RUN_TIMEOUT_S
    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-s{args.seed}-{os.getpid()}")
    try:
        res = run_child(args, os.path.join(work, "main"), "main", "local[4]",
                        args.trace, deadline)
        metrics, samples = {}, res["samples"]
        if args.trace:
            layer = dict(res["layer"])
            if args.workload == "backlog_cow":
                # both halves of the scaling pair in fresh JVMs of their own,
                # with the same drains before the measured one
                rate = {n: run_child(args, os.path.join(work, f"scale{n}"), "scale",
                                     f"local[{n}]", 0, deadline)["scale_ev_per_s"]
                        for n in (4, 1)}
                layer["spark.scaling_eff_1to4"] = rate[4] / (4 * rate[1])
            want = spec()["per_layer"]
            missing = [m["name"] for m in want if m["name"] not in layer]
            if missing:
                raise RuntimeError(f"per-layer metrics not produced: {missing}")
            metrics = {m["name"]: {"value": layer[m["name"]], "unit": m["unit"]}
                       for m in want}
            keep = os.path.join(ROOT, ".perfbench_out")
            os.makedirs(keep, exist_ok=True)
            shutil.copy(os.path.join(work, "main", "spans.json"),
                        os.path.join(keep, f"{args.workload}-s{args.seed}-spans.json"))
        else:
            metrics = {m["name"]: {"value": res["e2e"][m["name"]], "unit": m["unit"]}
                       for m in spec()["end_to_end"]}
        for k, m in metrics.items():
            n = f"  n={samples[k]}" if k in samples else ""
            print(f"{args.workload:14s} {k:34s} {m['value']:.6g} {m['unit']}{n}")
        if not args.trace:
            # measured, but too noisy from run to run on a shared VM to carry
            # a regression bound (README.md, "End-to-end metrics")
            for k, v in res["e2e"].items():
                if k not in metrics:
                    print(f"{args.workload:14s} {k:34s} {v:.6g} {res['units'][k]}"
                          f"  n={samples[k]}  (not bounded)")
        for k, v in res["context"].items():
            if k in metrics:
                continue
            print(f"{args.workload:14s} {k:34s} {v:.6g}  (timed region, context)")
        ops = res["ops"]
        correct = ops["failed"] == 0
        print(json.dumps({"correct": correct, "attempted": ops["attempted"],
                          "failed": ops["failed"], "metrics": metrics}))
        return 0 if correct else 1
    finally:
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main())
