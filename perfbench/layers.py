"""Per-layer metrics of a traced run: spans, the Spark event log, the
job's own batch log and the table's snapshots, rolled up after the
session stops.  Each metric and the end-to-end metric it should move are
listed in README.md."""

from __future__ import annotations

import statistics

from tables import batch_log, write_counters
from tracing import job_time_inside, rollup_event_log


def _p50(xs) -> float:
    xs = list(xs)
    return statistics.median(xs) if xs else 0.0


def _sum_s(spans) -> float:
    return sum(s["end"] - s["start"] for s in spans)


def per_layer(run, res: dict) -> dict:
    src = res["layer_src"]
    tr = run.tracer
    lo, hi = src["window"]
    spark = rollup_event_log(run.path("eventlog"), run.wl, (lo, hi), run.cores)
    jobs = spark.pop("jobs")
    m = dict(run.layer)
    m.update(spark)
    m["jvm.jit_s"] = res["context"]["jvm.jit_s"]
    m["jvm.gc_s"] = res["context"]["jvm.gc_s"]
    m["host.steal_frac"] = res["context"]["host.steal_frac"]

    def inside(s):
        return lo <= s["start"] <= hi

    # batches: the timed ones, from the job's own log
    batches = res["batches"]
    m["streaming.batches"] = len(batches)
    m["streaming.batch_s_p50"] = _p50(b["seconds"] for b in batches)
    order = sorted(batches, key=lambda b: b["start"])
    m["streaming.gap_s_p50"] = _p50(
        b["start"] - a["end"] for a, b in zip(order, order[1:]) if b["start"] >= a["end"]
        and b["start"] - a["end"] < 5.0
    )

    merges = [s for s in tr.named("lake.merge") if inside(s)]
    merge_label = f"acs:{run.wl}:lake:merge"
    m["lake.merge_s"] = _sum_s(merges)
    m["lake.merge_s_p50"] = _p50(s["end"] - s["start"] for s in merges)
    m["lake.merge_driver_s"] = sum(
        (s["end"] - s["start"]) - job_time_inside(jobs, merge_label, s["start"], s["end"])
        for s in merges
    )
    # the valve's compactions run inside batches, on the streaming thread;
    # the tail's final fold before its exports is not counted
    compacts = [s for s in tr.named("lake.compact_deltas")
                if inside(s) and s["thread"] != "MainThread"]
    m["lake.compact_s"] = _sum_s(compacts)
    in_batches = [s for s in merges + compacts if s["thread"] != "MainThread"]
    m["streaming.self_s"] = max(sum(b["seconds"] for b in batches) - _sum_s(in_batches), 0.0)

    evolves = [s for s in tr.named("operators.evolve_table_for") if inside(s)]
    m["operators.evolutions"] = len(evolves)
    m["operators.evolve_s"] = _sum_s(evolves)
    m["operators.discover_s"] = sum(
        _sum_s(s for s in tr.named(f"operators.{n}") if inside(s))
        for n in ("discover_payload_keys", "decode_discovery_tags", "infer_payload_schema")
    )

    corpus = [s for s in tr.named("functions.assemble_corpus") if inside(s)]
    m["functions.corpus_s"] = _sum_s(corpus)
    lookups = [s for s in tr.named("lake.lookup") if inside(s)]
    n_lookups = max(len(lookups), 1)
    m["lake.lookup_files_scanned"] = _p50(run.lookup_files)
    m["lake.lookup_bytes_read"] = m.pop("lookup_input_bytes") / n_lookups
    m["lake.lookup_jobs"] = m.pop("lookup_jobs") / n_lookups

    if run.wl == "backlog_cow":
        c = {}
        for d in src["drains"]:
            for k, v in write_counters(d["tbl"], (d["start"], hi)).items():
                c[k] = max(c.get(k, 0), v) if k == "delta_max" else c.get(k, 0) + v
        waits = [b["start"] - d["start"] for d in src["drains"] for b in d["batches"]]
        m["streaming.queue_wait_s_p50"] = _p50(waits)
        m["streaming.backlog_max_segments"] = res["segments"]
        m["feeder.late_s_max"] = 0.0
    else:
        c = write_counters(src["tbl"], src["tail_window"])
        bseg = {int(k): set(v) for k, v in src["batch_segments"].items()}
        due = {int(k): v for k, v in src["due"].items()}
        starts = {}
        for b in batch_log(run.path("ckpt")):
            starts[b["batch_id"]] = b["start"]
        waits, most, consumed = [], 0, set()
        for b in sorted(bseg):
            if b not in starts:
                continue
            mine = bseg[b] & set(due)
            waits += [starts[b] - due[i] for i in mine]
            most = max(most, sum(1 for i, t in due.items() if t <= starts[b] and i not in consumed))
            consumed |= mine
        m["streaming.queue_wait_s_p50"] = _p50(waits)
        m["streaming.backlog_max_segments"] = most
        m["feeder.late_s_max"] = res["feeder_late_s_max"]
        m["spark.scaling_eff_1to4"] = 0.0
    m["lake.commits"] = c["commits"]
    m["lake.rows_written"] = c["rows"]
    m["lake.files_written"] = c["files"]
    m["lake.bytes_written"] = c["bytes"]
    m["lake.target_rows_read"] = c["target"]
    m["lake.write_amp"] = c["rows"] / max(src["events"], 1)
    m["lake.compactions"] = c["compactions"]
    m["lake.delta_files_max"] = c["delta_max"]
    tr.dump(run.path("spans.json"))
    return m
