"""Independent DuckDB replay of the change events the engine consumed.

The oracle reads the same parquet files the benchmark generated: typed
events as they are, and JSON-envelope events through DuckDB's bundled
``json`` functions.  A payload key that only later events carry
(``tokens``) reads NULL for every event without it.  Per key
``(conv_id, turn_idx)`` the event with the highest ``lsn`` wins, a delete
wins a tie, and a key whose winner is a delete is absent.

Tables are compared as fingerprints, row count plus a sum of per-row
hashes, so the comparison does not depend on row order.  The engine's
rows come out of ``LakeTable.read()`` as Arrow and are hashed by the same
SQL.
"""

from __future__ import annotations

import duckdb

TYPED, JSON = "typed", "json"
_JSON_COLS = {
    "conv_id": "json_extract_string(payload, '$.conv_id')",
    "turn_idx": "CAST(json_extract(payload, '$.turn_idx') AS INTEGER)",
    "role": "json_extract_string(payload, '$.role')",
    "text": "json_extract_string(payload, '$.text')",
    "tool": "json_extract_string(payload, '$.tool')",
    "ts": "CAST(json_extract_string(payload, '$.ts') AS TIMESTAMPTZ)",
    "tokens": "CAST(json_extract(payload, '$.tokens') AS BIGINT)",
}


def _row_hash(cols: list[str]) -> str:
    parts = []
    for c in cols:
        if c == "turn_idx":
            parts.append("CAST(turn_idx AS INTEGER)")
        elif c == "ts":
            parts.append("epoch_us(ts)")
        else:
            parts.append(f"CAST({c} AS VARCHAR)")
    return f"hash({', '.join(parts)})"


def _connect() -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    con.execute("SET TimeZone = 'UTC'")
    return con


def _source_sql(kind: str, glob: str, cols: list[str]) -> str:
    if kind == TYPED:
        exprs = [c if c in _JSON_COLS and c != "tokens" else f"NULL AS {c}" for c in cols]
    else:
        exprs = [f"{_JSON_COLS[c]} AS {c}" for c in cols]
    return (
        f"SELECT lsn, op, _ab_cdc_deleted_at, {', '.join(exprs)} "
        f"FROM read_parquet('{glob}')"
    )


def _replay_sql(sources: list[tuple[str, str]], cols: list[str]) -> str:
    src = " UNION ALL ".join(_source_sql(k, g, cols) for k, g in sources)
    return f"""
    WITH ev AS ({src}),
    ranked AS (
      SELECT *, row_number() OVER (
        PARTITION BY conv_id, turn_idx
        ORDER BY lsn DESC,
                 (op = 'd' OR _ab_cdc_deleted_at IS NOT NULL) DESC) AS rn
      FROM ev)
    SELECT {', '.join(cols)} FROM ranked
    WHERE rn = 1 AND NOT (op = 'd' OR _ab_cdc_deleted_at IS NOT NULL)
    """


def _fingerprint(con, relation: str, cols: list[str]) -> tuple[int, int]:
    n, h = con.execute(
        f"SELECT count(*), coalesce(sum({_row_hash(cols)}::HUGEINT), 0) FROM {relation}"
    ).fetchone()
    return int(n), int(h)


def check_table(table_rows, lookup_rows, sources: list[tuple[str, str]],
                cols: list[str], keys: list[tuple]) -> tuple[int, list[str]]:
    """Compare the engine's final table (``table_rows``) and its answer to
    one lookup of every key looked up during the run (``lookup_rows``),
    both Arrow, with the replay.  Returns the table's row count and a
    list of disagreements, empty when everything agrees."""
    con = _connect()
    try:
        con.execute(f"CREATE TEMP TABLE want AS {_replay_sql(sources, cols)}")
        con.register("got", table_rows)
        con.register("found", lookup_rows)
        errors = []
        got, want = _fingerprint(con, "got", cols), _fingerprint(con, "want", cols)
        if got != want:
            errors.append(f"table fingerprint {got} != oracle {want}")
        con.execute("CREATE TEMP TABLE k (conv_id VARCHAR, turn_idx INTEGER)")
        con.executemany("INSERT INTO k VALUES (?, ?)", [tuple(k) for k in keys])
        want_rows = con.execute(
            f"SELECT {_row_hash(cols)} FROM want SEMI JOIN k USING (conv_id, turn_idx)"
        ).fetchall()
        found = con.execute(f"SELECT {_row_hash(cols)} FROM found").fetchall()
        if sorted(found) != sorted(want_rows):
            errors.append(
                f"lookup of {len(keys)} keys returned {len(found)} rows; "
                f"the oracle has {len(want_rows)}, "
                f"{len(set(found) ^ set(want_rows))} differ"
            )
        return got[0], errors
    finally:
        con.close()
