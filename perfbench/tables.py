"""Facts about a run read back from what the engine wrote: the job's own
batch log, the file source's log of which segment went into which batch,
and the table's snapshot descriptors with their commit times."""

from __future__ import annotations

import glob
import json
import os
import time


def batch_log(ckpt: str) -> list[dict]:
    """The job's own per-batch metrics (``<ckpt>/metrics/batches.jsonl``),
    with each batch's start and end in epoch seconds."""
    out = []
    with open(os.path.join(ckpt, "metrics", "batches.jsonl")) as f:
        for line in f:
            b = json.loads(line)
            if not b["skipped"]:
                b["end"] = b["wall_clock"]
                b["start"] = b["end"] - b["seconds"]
                out.append(b)
    return out


def snapshots(tbl: str) -> list[dict]:
    """Every committed snapshot descriptor with its commit (file) time."""
    out = []
    for p in glob.glob(os.path.join(tbl, "*", "snap-v*.json")):
        with open(p) as f:
            s = json.load(f)
        s["_mtime"] = os.stat(p).st_mtime
        out.append(s)
    return sorted(out, key=lambda s: s["version"])


def visible_times(snaps: list[dict], seg_max: dict[int, int]) -> dict[int, float]:
    """Segment → commit time of the first snapshot whose applied LSN high
    watermark covers the segment's last LSN."""
    out: dict[int, float] = {}
    for s in snaps:
        hw = s.get("applied_lsn_high")
        if hw is None:
            continue
        for c, m in seg_max.items():
            if c not in out and m <= hw:
                out[c] = s["_mtime"]
    return out


def batch_segments(ckpt: str) -> dict[int, set[int]]:
    """batch id → segment indexes, from the file source's log."""
    out: dict[int, set[int]] = {}
    for p in glob.glob(os.path.join(ckpt, "sources", "0", "*")):
        if not os.path.basename(p).split(".")[0].isdigit():
            continue
        with open(p) as f:
            for line in f.read().splitlines()[1:]:
                try:
                    e = json.loads(line)
                except ValueError:
                    continue
                name = os.path.basename(e.get("path", ""))
                if name.startswith("seg-"):
                    out.setdefault(e["batchId"], set()).add(int(name[4:9]))
    return out


def wait_visible(tbl: str, lsn: int, deadline: float) -> bool:
    """Poll the committed snapshot until its applied LSN high watermark
    reaches ``lsn``; False on timeout."""
    while time.monotonic() < deadline:
        with open(os.path.join(tbl, "_meta", "VERSION")) as f:
            v = int(f.read().strip())
        with open(os.path.join(tbl, "_meta", f"snap-v{v}.json")) as f:
            hw = json.load(f).get("applied_lsn_high")
        if hw is not None and hw >= lsn:
            return True
        time.sleep(0.01)
    return False


def wait_batch_done(ckpt: str, seg: int, deadline: float) -> bool:
    """Poll until the batch that took segment ``seg`` is in the job's batch
    log, which the job appends once the batch has committed and compacted;
    False on timeout."""
    while time.monotonic() < deadline:
        owner = [b for b, segs in batch_segments(ckpt).items() if seg in segs]
        if owner:
            try:
                if any(b["batch_id"] == owner[0] for b in batch_log(ckpt)):
                    return True
            except ValueError:  # the job is writing the last line
                pass
        time.sleep(0.01)
    return False


def write_counters(tbl: str, window: tuple[float, float]) -> dict:
    """Rows, files and bytes written, target rows re-read, commits and
    compactions of the commits made inside ``window``, from the snapshots
    and their manifest rollups."""
    snaps = snapshots(tbl)
    by_v = {s["version"]: s for s in snaps}
    c = dict(rows=0, files=0, bytes=0, target=0, commits=0, compactions=0, delta_max=0)
    for s in snaps:
        d_files = sum(st[0] for r in s.get("deltas", []) for st in r["by_bucket"].values())
        c["delta_max"] = max(c["delta_max"], d_files)
        if not (window[0] <= s["_mtime"] <= window[1]) or s["version"] == 0:
            continue
        c["commits"] += 1
        op = s["operation"]
        tag = f"manifest-v{s['version']}-"
        new = [r for r in s.get("manifests", []) + s.get("deltas", []) if tag in r["path"]]
        c["rows"] += sum(st[1] for r in new for st in r["by_bucket"].values())
        c["files"] += sum(st[0] for r in new for st in r["by_bucket"].values())
        c["bytes"] += sum(st[2] for r in new for st in r["by_bucket"].values())
        if op == "compact-deltas":
            c["compactions"] += 1
        parent = by_v.get(s["parent"])
        if op in ("merge", "compact-deltas") and parent is not None and new:
            touched = {str(b) for r in new for b in r["live_buckets"]}
            refs = parent.get("manifests", [])
            if op == "compact-deltas":
                refs = refs + parent.get("deltas", [])
            c["target"] += sum(
                st[1] for r in refs for b, st in r["by_bucket"].items() if b in touched
            )
    return c
