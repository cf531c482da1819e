"""Seeded benchmark inputs, written with numpy and pyarrow before any JVM
starts.  No engine code runs here, so an engine change cannot change the
workload, and generation time is the benchmark's own.

Events are transcript turns keyed by ``(conv_id, turn_idx)`` in the
engine's CDC envelope: ``lsn`` is the total order, ``op`` is c/u/d, and a
delete carries only the key and the ``_ab_cdc_*`` metadata.

Text length follows a per-role log-normal distribution, clipped to
[8, 8192] bytes:

    role        share   mean     sigma
    user        0.35    278 B    0.9
    assistant   0.40    858 B    0.8
    tool        0.20    580 B    1.0
    system      0.05    280 B    0.5

The user and assistant means are the average prompt (69.5 tokens) and
response (214.5 tokens) of LMSYS-Chat-1M (Zheng et al., 2023,
arXiv:2309.11998, Table 1) at an assumed 4 bytes per token.  Everything
else here is an assumption, not a measurement of transcripts: the role
shares, the sigmas, the tool and system lengths, the op mix, the hot
conversation and the turns per conversation (README.md, "Inputs").

Text is drawn from a seeded word soup, so it compresses like prose rather
than like random bytes.  A small share of upserts is followed, in the same
segment and at the same ``lsn``, by a delete of the same key: the delete
must win that tie.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

ROLES = ("user", "assistant", "tool", "system")
ROLE_P = (0.35, 0.40, 0.20, 0.05)
TEXT_MEAN = (278, 858, 580, 280)
TEXT_SIGMA = (0.9, 0.8, 1.0, 0.5)
TEXT_MIN, TEXT_MAX = 8, 8192
MAX_TURNS = 24
BASE_EPOCH = 1_700_000_000
P_DELETE, P_INSERT, P_TIE = 0.05, 0.25, 0.002
HOT_FRACTION = 0.02  # events on one hot conversation, conv-0
SOURCE_PARTITIONS = 32
SOUP_BYTES = 1 << 22
TS_FORMAT = "%Y-%m-%dT%H:%M:%S.000000Z"

TYPED_SCHEMA = pa.schema(
    [
        ("lsn", pa.int64(), False),
        ("op", pa.string(), False),
        ("conv_id", pa.string()),
        ("turn_idx", pa.int32()),
        ("role", pa.string()),
        ("text", pa.string()),
        ("tool", pa.string()),
        ("ts", pa.timestamp("us", tz="UTC")),
        ("_ab_cdc_updated_at", pa.timestamp("us", tz="UTC")),
        ("_ab_cdc_deleted_at", pa.timestamp("us", tz="UTC")),
        ("source_partition", pa.int32()),
    ]
)
JSON_SCHEMA = pa.schema(
    [
        ("lsn", pa.int64(), False),
        ("op", pa.string(), False),
        ("payload", pa.string()),
        ("_ab_cdc_updated_at", pa.timestamp("us", tz="UTC")),
        ("_ab_cdc_deleted_at", pa.timestamp("us", tz="UTC")),
        ("source_partition", pa.int32()),
    ]
)


def _soup(rng: np.random.Generator) -> bytes:
    """A few MB of lower-case words separated by spaces."""
    lens = rng.integers(2, 10, size=4096)
    letters = rng.integers(ord("a"), ord("z") + 1, size=int(lens.sum()), dtype=np.uint8)
    words = np.split(letters, np.cumsum(lens)[:-1])
    vocab = [w.tobytes() for w in words]
    # Zipf-like word frequencies, as in prose
    weights = 1.0 / np.arange(1, len(vocab) + 1)
    picks = rng.choice(len(vocab), size=SOUP_BYTES // 5, p=weights / weights.sum())
    return b" ".join(vocab[i] for i in picks)[:SOUP_BYTES]


def _texts(rng: np.random.Generator, role: np.ndarray) -> pa.Array:
    """One text per event, its length drawn from its role's distribution."""
    sig = np.asarray(TEXT_SIGMA, dtype=np.float64)[role]
    # a log-normal's median is its mean divided by exp(sigma^2 / 2)
    med = np.asarray(TEXT_MEAN, dtype=np.float64)[role] * np.exp(-sig * sig / 2)
    lens = np.clip(np.rint(med * np.exp(sig * rng.standard_normal(len(role)))),
                   TEXT_MIN, TEXT_MAX).astype(np.int64)
    soup = _soup(rng)
    starts = rng.integers(0, len(soup) - TEXT_MAX, size=len(role)).tolist()
    offsets = np.zeros(len(role) + 1, dtype=np.int64)
    np.cumsum(lens, out=offsets[1:])
    data = b"".join([soup[s : s + k] for s, k in zip(starts, lens.tolist())])
    return pa.LargeStringArray.from_buffers(
        len(role), pa.py_buffer(offsets), pa.py_buffer(data)
    ).cast(pa.string())


def events(seed: int, n: int, n_convs: int, first_lsn: int = 1) -> pa.Table:
    """``n`` typed change events (plus delete ties) with lsn from
    ``first_lsn``, ordered by lsn."""
    rng = np.random.default_rng(seed)
    lsn = np.arange(first_lsn, first_lsn + n, dtype=np.int64)
    conv = np.where(rng.random(n) < HOT_FRACTION, 0, rng.integers(1, n_convs, size=n))
    turn = rng.integers(0, MAX_TURNS, size=n).astype(np.int32)
    r = rng.random(n)
    op = np.where(r < P_DELETE, 0, np.where(r < P_DELETE + P_INSERT, 1, 2))
    role = rng.choice(len(ROLES), size=n, p=ROLE_P)
    tool_no = rng.integers(0, 7, size=n)
    part = rng.integers(0, SOURCE_PARTITIONS, size=n).astype(np.int32)
    # an upsert followed at the same lsn by a delete of its key
    tie = (op != 0) & (rng.random(n) < P_TIE)
    rows = np.arange(n)
    order = np.concatenate([rows, rows[tie]])
    is_tie_del = np.concatenate([np.zeros(n, bool), np.ones(int(tie.sum()), bool)])
    perm = np.lexsort((is_tie_del, order))
    order, is_tie_del = order[perm], is_tie_del[perm]

    lsn, conv, turn, role, part = lsn[order], conv[order], turn[order], role[order], part[order]
    is_del = (op[order] == 0) | is_tie_del
    op_s = np.array(["d", "c", "u"], dtype=object)[op[order]]
    op_s[is_tie_del] = "d"
    ts = (BASE_EPOCH + lsn) * 1_000_000
    live = ~is_del
    role_s = np.array(ROLES, dtype=object)[role]
    tool_s = np.char.add("tool_", tool_no[order].astype(str)).astype(object)
    ts_type = pa.timestamp("us", tz="UTC")
    text = _texts(rng, role)
    return pa.table(
        {
            "lsn": lsn,
            "op": pa.array(op_s, pa.string()),
            "conv_id": pa.array(np.char.add("conv-", conv.astype(str)), pa.string()),
            "turn_idx": turn,
            "role": pa.array(role_s, pa.string(), mask=is_del),
            "text": pc.if_else(pa.array(live), text, pa.nulls(len(lsn), pa.string())),
            "tool": pa.array(tool_s, pa.string(), mask=is_del | (role != 2)),
            "ts": pa.array(ts, ts_type, mask=is_del),
            "_ab_cdc_updated_at": pa.array(ts, ts_type),
            "_ab_cdc_deleted_at": pa.array(ts, ts_type, mask=live),
            "source_partition": part,
        },
        schema=TYPED_SCHEMA,
    )


def json_envelope(t: pa.Table, new_key_from_lsn: int | None = None) -> pa.Table:
    """Typed events → the raw-JSON envelope: every payload column packed
    into one ``payload`` string with null fields left out, as the
    ``_airbyte_data`` column of the reference's raw table.  Upserts with
    ``lsn >= new_key_from_lsn`` carry one more key, ``tokens`` (an
    integer), that earlier events do not have."""
    cols = {c: t.column(c).to_pylist() for c in
            ("lsn", "op", "conv_id", "turn_idx", "role", "text", "tool", "ts")}
    payload = []
    for i, lsn in enumerate(cols["lsn"]):
        head = f'{{"conv_id":"{cols["conv_id"][i]}","turn_idx":{cols["turn_idx"][i]}'
        if cols["op"][i] == "d" and cols["role"][i] is None:
            payload.append(head + "}")
            continue
        # text is words and spaces; nothing in it needs escaping
        parts = [head, f'"role":"{cols["role"][i]}"', f'"text":"{cols["text"][i]}"']
        if cols["tool"][i] is not None:
            parts.append(f'"tool":"{cols["tool"][i]}"')
        parts.append(f'"ts":"{cols["ts"][i].strftime(TS_FORMAT)}"')
        if new_key_from_lsn is not None and lsn >= new_key_from_lsn:
            parts.append(f'"tokens":{len(cols["text"][i]) // 4 + 1}')
        payload.append(",".join(parts) + "}")
    return pa.table(
        {
            "lsn": t.column("lsn"),
            "op": t.column("op"),
            "payload": pa.array(payload, pa.string()),
            "_ab_cdc_updated_at": t.column("_ab_cdc_updated_at"),
            "_ab_cdc_deleted_at": t.column("_ab_cdc_deleted_at"),
            "source_partition": t.column("source_partition"),
        },
        schema=JSON_SCHEMA,
    )


def split_segments(t: pa.Table, n_segments: int) -> list[pa.Table]:
    """Contiguous lsn ranges of about equal size; a delete tie never
    straddles two segments."""
    lsn = t.column("lsn").to_numpy()
    cuts = [0]
    for k in range(1, n_segments):
        i = k * len(lsn) // n_segments
        while 0 < i < len(lsn) and lsn[i] == lsn[i - 1]:
            i += 1
        cuts.append(i)
    cuts.append(len(lsn))
    return [t.slice(a, b - a) for a, b in zip(cuts, cuts[1:])]


def write_segments(segs: list[pa.Table], out_dir: str, mtime0: float) -> list[str]:
    """One parquet file per segment, ``seg-<i>.parquet``.  Modification
    times rise with the index, so a file source takes them in lsn order."""
    os.makedirs(out_dir, exist_ok=True)
    paths = []
    for i, s in enumerate(segs):
        p = os.path.join(out_dir, f"seg-{i:05d}.parquet")
        pq.write_table(s, p, compression="zstd")
        os.utime(p, (mtime0 + i, mtime0 + i))
        paths.append(p)
    return paths
