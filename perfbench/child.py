"""One benchmark run of one workload inside one Spark JVM.

Started by ``run.py``; run by hand only for debugging:

    python3 perfbench/child.py --workload backlog_cow --seed 1 \
        --seconds 12 --trace 0 --master 'local[4]' --role main \
        --work .perfbench_work/x --out .perfbench_work/x/result.json

``--role main`` writes the seeded inputs, starts the session, warms up,
measures, checks every final table against the DuckDB oracle and writes
its raw results as JSON.  ``--role scale`` (traced ``backlog_cow`` only)
is one half of the scaling pair in a fresh JVM at whatever ``--master``
says: a cold drain, warm drains of the scaling subset, then one more
drain of it whose events per second it reports.  ``run.py`` starts it
once at local[4] and once at local[1], so both halves have the same
history.
"""

from __future__ import annotations

import time

T_CHILD = time.time()

import argparse  # noqa: E402
import json  # noqa: E402
import math  # noqa: E402
import os  # noqa: E402
import random  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402
import threading  # noqa: E402
import traceback  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
sys.path.insert(0, os.path.dirname(HERE))

import gen  # noqa: E402
import oracle  # noqa: E402
from probes import Probe  # noqa: E402
from tables import (  # noqa: E402
    batch_log, batch_segments, snapshots, visible_times, wait_batch_done, wait_visible,
)
from tracing import Tracer  # noqa: E402

# set-up time counts from the start of run.py, which passes it down
T0 = float(os.environ.get("PERFBENCH_T0", T_CHILD))
SHUFFLE_PARTITIONS = 8
HEAP = "2g"

# Workload sizes; README.md says how they were chosen.
BACKLOG = dict(
    events=256_000, segments=16, per_trigger=8, buckets=8,
    warm_segments=1,  # the cold drain's input
    warm_full=2,  # full-size drains after it, before timing
    drain_s=6.0,  # seconds of --seconds budgeted per timed drain
    lookups=6,
    scale_segments=4,  # the scaling pair drains four segments' worth of events
    scale_warm=2,  # warm drains of them after the cold drain, in each half
)
TAIL = dict(
    base=10_000, seg_events=30, interval_s=3.0, warm_segments=2,
    read_segments=2,  # released after the timed ones, with the reader on
    buckets=8, budget=16, exports=3,
)
# exports assemble this share of conversations (assemble_corpus's own
# deterministic sampling); the table scan still covers every row
EXPORT_SAMPLE = 0.25
LOOKUP_THINK_S = 0.25
UNITS = {
    "setup_s": "s", "apply_ev_per_s": "events/s", "cpu_ms_per_kev": "ms/kevent",
    "freshness_p50_s": "s", "freshness_p90_s": "s", "lookup_p50_s": "s",
    "export_rows_per_s": "rows/s", "retained_heap_mb": "MB",
}
VISIBLE_TIMEOUT_S = 90.0
CONVS_PER_EVENT = 1 / 15


def log(msg: str) -> None:
    """Phase narration on stderr (stdout belongs to run.py)."""
    print(f"[{time.time() - T0:7.2f}s] {msg}", file=sys.stderr, flush=True)


def fmt(xs) -> str:
    return " ".join(f"{x:.2f}" for x in xs)


def percentile(xs: list[float], q: float) -> float:
    """Percentile (q in 0..100), interpolated between the closest ranks."""
    s = sorted(xs)
    pos = (len(s) - 1) * q / 100.0
    lo = math.floor(pos)
    hi = min(lo + 1, len(s) - 1)
    return s[lo] + (s[hi] - s[lo]) * (pos - lo)


class Run:
    """State of one child run: session, work dirs, tracer, counters."""

    def __init__(self, args):
        self.args = args
        self.wl = args.workload
        self.seed = args.seed
        self.work = os.path.abspath(args.work)
        self.tracer = Tracer(self.wl, enabled=bool(args.trace))
        self.ops = {"attempted": 0, "failed": 0}
        self.lookup_lat: list[float] = []
        self.lookup_keys: set[tuple] = set()
        self.lookup_files: list[int] = []
        self.layer: dict = {}
        self.spark = None
        self.probe = None
        self.cores = int(args.master[args.master.index("[") + 1 : -1])
        self._ops_lock = threading.Lock()

    def path(self, *p: str) -> str:
        return os.path.join(self.work, *p)

    def count(self, n: int = 1) -> None:
        with self._ops_lock:
            self.ops["attempted"] += n

    def fail(self, what: str) -> None:
        """Count a failed operation; call from an ``except`` block."""
        with self._ops_lock:
            self.ops["failed"] += 1
        print(f"{what} failed:\n{traceback.format_exc()}", file=sys.stderr, flush=True)

    def start_session(self) -> None:
        from airbyte_custom_spark.session import get_spark

        tmp = self.path("tmp")
        os.makedirs(tmp, exist_ok=True)
        os.environ["SPARK_DRIVER_MEMORY"] = HEAP  # get_spark's heap ceiling
        conf = {
            "spark.ui.showConsoleProgress": "false",
            # the heap starts at its maximum, so collector pacing does not
            # depend on when the heap grew
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -Xms{HEAP}",
            "spark.sql.warehouse.dir": self.path("warehouse"),
        }
        if self.args.trace:
            os.makedirs(self.path("eventlog"), exist_ok=True)
            conf.update({
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": "file://" + self.path("eventlog"),
                "spark.eventLog.compress": "false",
            })
        t = time.monotonic()
        self.spark = get_spark(
            app_name=f"perfbench-{self.wl}", master=self.args.master,
            shuffle_partitions=SHUFFLE_PARTITIONS, extra_conf=conf,
        )
        self.layer["session.start_s"] = time.monotonic() - t
        self.tracer.bind(self.spark)
        self.probe = Probe(self.spark)
        log(f"session {self.args.master} up")

    def install_wrappers(self) -> None:
        """Traced runs only: spans around the calls the engine makes on
        its own, patched where the engine looks them up."""
        from airbyte_custom_spark.lake.table import LakeTable
        from airbyte_custom_spark.operators import schema_evo

        self.tracer.wrap_method(LakeTable, "merge", "lake")
        self.tracer.wrap_method(LakeTable, "compact_deltas", "lake")
        for name in ("discover_payload_keys", "decode_discovery_tags",
                     "infer_payload_schema", "evolve_table_for"):
            self.tracer.wrap_method(schema_evo, name, "operators")

    # ------------------------------------------------------- engine calls

    def drain(self, tbl: str, seg: str, ckpt: str) -> tuple[object, float]:
        """One bounded drain into the table at ``tbl``; returns the job and
        its start (epoch seconds)."""
        from airbyte_custom_spark.config import IngestConfig
        from airbyte_custom_spark.streaming.pipeline import CdcIngestJob

        job = CdcIngestJob(
            self.spark, tbl, seg, ckpt,
            IngestConfig(max_files_per_trigger=BACKLOG["per_trigger"]),
        )
        self.count()
        t0 = time.time()
        with self.tracer.span("streaming", "run_available_now", ambient=True):
            job.run_available_now(timeout_sec=170)
        return job, t0

    def export(self, tbl: str) -> float:
        """Corpus export of the table into a noop sink; returns seconds."""
        from airbyte_custom_spark.functions.corpus import assemble_corpus
        from airbyte_custom_spark.lake.table import LakeTable

        self.count()
        t = time.monotonic()
        with self.tracer.span("functions", "assemble_corpus"):
            (assemble_corpus(LakeTable.load(self.spark, tbl).read(),
                             sample_rate=EXPORT_SAMPLE)
             .write.format("noop").mode("overwrite").save())
        return time.monotonic() - t

    def lookup(self, tbl: str, keys: list[tuple]):
        from airbyte_custom_spark.lake.table import LakeTable

        with self.tracer.span("lake", "lookup"):
            df = LakeTable.load(self.spark, tbl).lookup(keys, columns=("conv_id", "turn_idx"))
            rows = df.collect()
            if self.tracer.enabled:
                self.lookup_files.append(len(df.inputFiles()))
        return rows

    def timed_lookup(self, tbl: str, keys: list[tuple]) -> tuple[float, float] | None:
        """One counted lookup; returns its (start, seconds), or None when
        it failed."""
        self.count()
        t = time.time()
        try:
            self.lookup(tbl, keys)
        except Exception:  # noqa: BLE001 - a failed lookup is counted
            self.fail("lookup")
            return None
        self.lookup_keys.update(keys)
        return t, time.time() - t

    def key_stream(self, n_convs: int):
        """Seeded 3-key lookup batches, the same sequence for a given seed."""
        rng = random.Random(self.seed * 7919 + 17)
        while True:
            yield [(f"conv-{rng.randrange(n_convs)}", rng.randrange(gen.MAX_TURNS))
                   for _ in range(3)]

    def check(self, tbl: str, sources: list[tuple[str, str]]) -> int:
        """Final table and every looked-up key against the DuckDB replay;
        raises on any disagreement.  Returns the table's row count."""
        from airbyte_custom_spark.lake.table import LakeTable

        with self.tracer.span("bench", "verify"):
            table = LakeTable.load(self.spark, tbl)
            cols = list(table.payload_columns)
            keys = sorted(self.lookup_keys)
            rows, errors = oracle.check_table(
                table.read().select(*cols).toArrow(),
                table.lookup(keys, columns=("conv_id", "turn_idx")).select(*cols).toArrow(),
                sources, cols, keys,
            )
        if errors:
            raise AssertionError(f"{self.wl}: " + "; ".join(errors))
        log(f"oracle agrees: {rows} rows, {len(keys)} looked-up keys")
        return rows


def write_inputs(run: Run, events, n_segments: int, name: str) -> tuple[list[str], dict[int, int]]:
    segs = gen.split_segments(events, n_segments)
    paths = gen.write_segments(segs, run.path(name), time.time() - 10 * n_segments)
    seg_max = {i: s.column("lsn")[-1].as_py() for i, s in enumerate(segs)}
    return paths, seg_max


def link_subset(paths: list[str], dst: str) -> str:
    os.makedirs(dst)
    for p in paths:
        os.link(p, os.path.join(dst, os.path.basename(p)))
    return dst


def create_cow(run: Run, path: str) -> None:
    from airbyte_custom_spark.lake.table import LakeTable
    from airbyte_custom_spark.schema import TRANSCRIPT_SCHEMA

    with run.tracer.span("lake", "create"):
        LakeTable.create(run.spark, path, TRANSCRIPT_SCHEMA, num_buckets=BACKLOG["buckets"])


# ----------------------------------------------------------------- workloads


def run_backlog(run: Run) -> dict:
    """backlog_cow: drain a pre-written typed backlog into fresh CoW
    tables, warm first; then lookups alone on the last table."""
    p = BACKLOG
    n_convs = int(p["events"] * CONVS_PER_EVENT)
    if run.args.role == "scale":
        return scale_half(run, n_convs)
    t = time.monotonic()
    events = gen.events(run.seed, p["events"], n_convs)
    paths, seg_max = write_inputs(run, events, p["segments"], "seg")
    seg = run.path("seg")
    warm = link_subset(paths[: p["warm_segments"]], run.path("warm-seg"))
    n_events = events.num_rows
    del events
    run.layer["bench.gen_s"] = time.monotonic() - t
    log(f"{n_events} events written in {p['segments']} segments")

    run.start_session()
    run.install_wrappers()
    # warm-up: a small cold drain and lookups, then full-size drains
    with run.tracer.span("bench", "warmup"):
        create_cow(run, run.path("warm-tbl"))
        run.drain(run.path("warm-tbl"), warm, run.path("warm-ckpt"))
        keys = run.key_stream(n_convs)
        for _ in range(2):
            run.lookup(run.path("warm-tbl"), next(keys))
        log("cold drain and lookups done")
        for k in range(p["warm_full"]):
            tbl = run.path(f"warm-tbl{k}")
            create_cow(run, tbl)
            t = time.monotonic()
            run.drain(tbl, seg, run.path(f"warm-ckpt{k}"))
            log(f"warm-up drain {k}: {time.monotonic() - t:.2f} s")
    run.ops = {"attempted": 0, "failed": 0}
    run.lookup_keys.clear()
    run.lookup_files.clear()

    t_setup = time.time() - T0
    w0 = time.time()
    p0 = run.probe.read()
    n_drains = max(2, int(run.args.seconds // p["drain_s"]))
    drains, fresh, batches, drain_cpu = [], [], [], []
    for k in range(n_drains):
        tbl, ckpt = run.path(f"tbl{k}"), run.path(f"ckpt{k}")
        create_cow(run, tbl)
        a = run.probe.read()
        job, t0 = run.drain(tbl, seg, ckpt)
        b = run.probe.read()
        vis = visible_times(snapshots(tbl), seg_max)
        if len(vis) != len(seg_max):
            raise AssertionError(f"{len(seg_max) - len(vis)} segments never became visible")
        fresh += [v - t0 for v in vis.values()]
        bl = batch_log(ckpt)
        batches += bl
        run.count(len(bl))
        drain_cpu.append(b["cpu_s"] - a["cpu_s"])
        drains.append(dict(tbl=tbl, ckpt=ckpt, start=t0, batches=bl))
        log(f"drain {k}: {max(vis.values()) - t0:.2f} s, cpu {drain_cpu[-1]:.2f} s, "
            f"batches {fmt(x['seconds'] for x in bl)}")
    p1 = run.probe.read()
    last = drains[-1]["tbl"]
    keys = run.key_stream(n_convs)
    for _ in range(p["lookups"]):
        r = run.timed_lookup(last, next(keys))
        if r:
            run.lookup_lat.append(r[1])
    p2 = run.probe.read()
    w1 = time.time()
    log(f"lookups {fmt(run.lookup_lat)}")

    run.check(last, [(oracle.TYPED, os.path.join(seg, "*.parquet"))])
    applied = sum(b["events"] for b in batches)
    res = result(run, t_setup, batches, Probe.delta(p0, p1), applied, fresh,
                 window=Probe.delta(p0, p2))
    res["segments"] = p["segments"]
    if run.tracer.enabled:
        res["layer_src"] = dict(window=(w0, w1), drains=drains, events=applied)
    return res


def scale_half(run: Run, n_convs: int) -> dict:
    """One half of the scaling pair, in a JVM of its own: a cold drain of
    one segment, ``scale_warm`` drains of the scaling subset, then one
    more whose events per second of the job's own batches it returns.
    Each half makes the same drains; only ``--master`` differs."""
    p = BACKLOG
    n = p["events"] * p["scale_segments"] // p["segments"]
    paths, _ = write_inputs(run, gen.events(run.seed, n, n_convs), p["scale_segments"], "seg")
    cold = link_subset(paths[:1], run.path("cold-seg"))
    run.start_session()
    for k, seg in enumerate([cold] + [run.path("seg")] * (p["scale_warm"] + 1)):
        tbl, ckpt = run.path(f"tbl{k}"), run.path(f"ckpt{k}")
        create_cow(run, tbl)
        t = time.monotonic()
        run.drain(tbl, seg, ckpt)
        log(f"scale drain {k} at {run.args.master}: {time.monotonic() - t:.2f} s")
    bl = batch_log(ckpt)
    return {"scale_ev_per_s": sum(b["events"] for b in bl) / sum(b["seconds"] for b in bl)}


def run_tail(run: Run) -> dict:
    """tail_json_mor: an open-loop feeder releases JSON segments on a fixed
    schedule into the source of a back-to-back-triggered JsonCdcIngestJob
    over a merge-on-read table with a base.  The timed segments are applied
    with nothing else running; then one closed-loop reader looks keys up
    beside the tail while a few more segments arrive."""
    from airbyte_custom_spark.config import IngestConfig
    from airbyte_custom_spark.lake.table import LakeTable
    from airbyte_custom_spark.schema import TRANSCRIPT_SCHEMA
    from airbyte_custom_spark.streaming.pipeline import JsonCdcIngestJob

    p = TAIL
    n_timed = max(int(run.args.seconds / p["interval_s"]), 4)
    first_timed = p["warm_segments"]
    first_read = first_timed + n_timed
    n_segs = first_read + p["read_segments"]
    new_key_seg = first_timed + n_timed // 3
    n_convs = int(p["base"] * CONVS_PER_EVENT)
    t = time.monotonic()
    base = gen.events(run.seed, p["base"], n_convs)
    os.makedirs(run.path("base"))
    gen.pq.write_table(base, run.path("base", "base.parquet"), compression="zstd")
    tail = gen.events(run.seed + 1_000_003, n_segs * p["seg_events"], n_convs,
                      first_lsn=p["base"] + 1)
    segs = gen.split_segments(tail, n_segs)
    new_key_lsn = segs[new_key_seg].column("lsn")[0].as_py()
    staged = gen.write_segments(
        [gen.json_envelope(s, new_key_lsn) for s in segs], run.path("staging"),
        time.time() - 10 * n_segs,
    )
    seg_max = {i: s.column("lsn")[-1].as_py() for i, s in enumerate(segs)}
    run.layer["bench.gen_s"] = time.monotonic() - t
    log(f"base of {base.num_rows} events, {n_segs} JSON segments written")

    run.start_session()
    run.install_wrappers()
    tbl, ckpt, source = run.path("tbl"), run.path("ckpt"), run.path("source")
    os.makedirs(source)
    with run.tracer.span("bench", "base_build"):
        table = LakeTable.create(run.spark, tbl, TRANSCRIPT_SCHEMA,
                                 num_buckets=p["buckets"], write_mode="mor")
        # a copy-on-write merge into the empty table writes the base files;
        # the tail's merges append deltas on top of them
        table.merge(run.spark.read.parquet(run.path("base")), mode="cow")
    log("base built")

    def release(i: int) -> None:
        dst = os.path.join(source, os.path.basename(staged[i]))
        os.rename(staged[i], dst)
        now = time.time()
        os.utime(dst, (now, now))

    job = JsonCdcIngestJob(run.spark, tbl, source, ckpt,
                           IngestConfig(mor_delta_budget=p["budget"]))
    query = job.start(processing_time="0 seconds")
    stop = threading.Event()
    lookups: list[tuple[float, float]] = []

    def reader():
        keys = run.key_stream(n_convs)
        while not stop.is_set():
            r = run.timed_lookup(tbl, next(keys))
            if r:
                lookups.append(r)
            stop.wait(LOOKUP_THINK_S)

    th = threading.Thread(target=reader, name="reader", daemon=True)
    due: dict[int, float] = {}
    late: list[float] = []
    try:
        with run.tracer.span("streaming", "tail", ambient=True):
            start = time.time() + p["interval_s"]
            for i in range(n_segs):
                due[i] = start + i * p["interval_s"]
                if i == first_timed:
                    # the timed region opens with the first timed release
                    w0 = due[i]
                    pause = w0 - time.time()
                    if pause > 0:
                        time.sleep(pause)
                    t_setup = time.time() - T0
                    p0 = run.probe.read()
                    run.ops = {"attempted": 0, "failed": 0}
                pause = due[i] - time.time()
                if pause > 0:
                    time.sleep(pause)
                release(i)
                late.append(time.time() - due[i])
                if i == first_read - 1:
                    # the apply window closes when the batch that took the
                    # last timed segment has ended; the reader starts after
                    # it, so none of its work is charged to the apply
                    if not wait_batch_done(ckpt, i, time.monotonic() + VISIBLE_TIMEOUT_S):
                        raise AssertionError("tail did not catch up within the timeout")
                    p1 = run.probe.read()
                    w_apply = time.time()
                    th.start()
            if not wait_visible(tbl, seg_max[n_segs - 1], time.monotonic() + VISIBLE_TIMEOUT_S):
                raise AssertionError("tail did not catch up within the timeout")
            w_read = time.time()
            stop.set()
            th.join(timeout=60)
            query.processAllAvailable()
    finally:
        stop.set()
        query.stop()
    if th.is_alive():
        raise RuntimeError("reader thread did not stop")
    if query.exception() is not None:
        raise RuntimeError(str(query.exception()))
    log("tail caught up")

    timed = range(first_timed, first_read)
    vis = visible_times(snapshots(tbl), {i: seg_max[i] for i in timed})
    fresh = [vis[i] - due[i] for i in timed]
    # the timed batches are those that took a timed segment; the log is
    # complete now that the query has stopped
    bseg = batch_segments(ckpt)
    batches = [b for b in batch_log(ckpt) if bseg.get(b["batch_id"], set()) & set(timed)]
    run.count(len(batches))
    run.lookup_lat = [s for t0, s in lookups if w_apply <= t0 and t0 + s <= w_read]
    log(f"timed batches {fmt(b['seconds'] for b in batches)}; "
        f"freshness {fmt(fresh)}")
    # the deltas the tail left are folded before the exports: how many are
    # left depends on when the last batch ran
    with run.tracer.span("lake", "final_compaction"):
        LakeTable.load(run.spark, tbl).compact_deltas()
    run.export(tbl)  # untimed: the first export of this table is cold
    exports = [run.export(tbl) for _ in range(p["exports"])]
    p2 = run.probe.read()
    w1 = time.time()
    log(f"lookups {len(run.lookup_lat)}, p50 {statistics.median(run.lookup_lat):.2f} s; "
        f"exports {fmt(exports)}")
    rows = run.check(tbl, [(oracle.TYPED, run.path("base", "*.parquet")),
                           (oracle.JSON, os.path.join(source, "*.parquet"))])
    # every event released in the timed region is applied inside the window
    released = sum(len(segs[i]) for i in timed)
    res = result(run, t_setup, batches, Probe.delta(p0, p1), released, fresh,
                 window=Probe.delta(p0, p2),
                 export_rate=[rows / s for s in exports])
    res["feeder_late_s_max"] = max(late[first_timed:])
    if run.tracer.enabled:
        res["layer_src"] = dict(
            window=(w0, w1), tail_window=(w0, w_apply), tbl=tbl,
            events=sum(b["events"] for b in batches),
            batch_segments={str(k): sorted(v) for k, v in bseg.items()},
            due={str(k): v for k, v in due.items() if k in timed},
        )
    return res


def result(run: Run, t_setup: float, batches: list[dict], apply: dict, applied: int,
           fresh: list[float], window: dict, export_rate: list[float] = ()) -> dict:
    """Every end-to-end value this workload measured, with its unit and
    sample count, plus the JIT, collector and steal context of the timed
    region.  ``apply`` is the probe delta over the timed apply and
    ``applied`` the events it applied; ``window`` is the probe delta over
    the whole timed region."""
    lat = run.lookup_lat
    if not lat:
        raise AssertionError("no lookup completed")
    if not batches or not applied:
        raise AssertionError("no batch applied events in the timed region")
    e2e = {
        "setup_s": t_setup,
        "apply_ev_per_s": sum(b["events"] for b in batches) / sum(b["seconds"] for b in batches),
        "cpu_ms_per_kev": 1000.0 * apply["cpu_s"] / (applied / 1000.0),
        "freshness_p50_s": percentile(fresh, 50),
        "freshness_p90_s": percentile(fresh, 90),
        "lookup_p50_s": percentile(lat, 50),
        # after the timed region, so its full collections time nothing
        "retained_heap_mb": run.probe.retained_heap_mb(),
    }
    samples = {
        "setup_s": 1, "apply_ev_per_s": len(batches), "cpu_ms_per_kev": applied,
        "freshness_p50_s": len(fresh), "freshness_p90_s": len(fresh),
        "lookup_p50_s": len(lat), "retained_heap_mb": 1,
    }
    if export_rate:
        e2e["export_rows_per_s"] = statistics.median(export_rate)
        samples["export_rows_per_s"] = len(export_rate)
    context = {
        "jvm.jit_s": window["jit_s"], "jvm.gc_s": window["gc_s"],
        "host.steal_frac": window["steal_frac"],
    }
    return {"e2e": e2e, "units": {k: UNITS[k] for k in e2e}, "samples": samples,
            "ops": run.ops, "context": context, "batches": batches}


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=("backlog_cow", "tail_json_mor"))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--master", required=True)
    ap.add_argument("--role", choices=("main", "scale"), default="main")
    ap.add_argument("--work", required=True)
    ap.add_argument("--out", required=True)
    args = ap.parse_args()

    run = Run(args)
    try:
        res = run_tail(run) if args.workload == "tail_json_mor" else run_backlog(run)
        if args.trace and args.role == "main":
            from layers import per_layer

            run.tracer.uninstall()
            run.spark.stop()
            res["layer"] = per_layer(run, res)
    finally:
        run.tracer.uninstall()
        if run.spark is not None:
            run.spark.stop()
    res.pop("layer_src", None)
    with open(args.out, "w") as f:
        json.dump(res, f)
    return 0


if __name__ == "__main__":
    sys.exit(main())
