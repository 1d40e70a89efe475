"""Correctness gate: an LWW reference built outside the engine.

The reference is one DuckDB window over the raw generated change log
(the parquet files the benchmark materialised, never a table): for each
``(conv_id, turn_idx)`` the event with the latest ``(ts, lsn)`` wins, and
a winning delete drops the key. It shares no code with the engine's
resolver, fold or feed.

A table's live rows are exported once with Spark (``current()``) and
both sides are reduced by DuckDB to a row count plus an order-independent
hash: the sum of ``hash(key, payload, ts, _lsn)`` over all rows.
"""

from __future__ import annotations

import os

ROW_COLUMNS = ["conv_id", "turn_idx", "role", "text", "tool", "ts", "_lsn"]


def _digest_sql(relation: str) -> str:
    cols = ", ".join(ROW_COLUMNS)
    return (
        f"SELECT count(*) AS n, "
        f"coalesce(sum(hash({cols})::HUGEINT), 0) AS h FROM {relation}"
    )


def _connect():
    import duckdb

    con = duckdb.connect()
    con.execute("SET threads TO 2")
    con.execute("SET memory_limit = '1GB'")
    return con


def _parquet_list(paths: list[str]) -> str:
    return "[" + ", ".join("'" + p.replace("'", "''") + "'" for p in paths) + "]"


def reference_digest(log_files: list[str]) -> tuple[int, int]:
    """(rows, hash) of the LWW final state of the given change-log
    files."""
    winners = f"""(
        SELECT conv_id, turn_idx, role, text, tool, ts, lsn AS _lsn, op
        FROM read_parquet({_parquet_list(log_files)})
        QUALIFY row_number() OVER (
            PARTITION BY conv_id, turn_idx ORDER BY ts DESC, lsn DESC
        ) = 1
    )"""
    con = _connect()
    try:
        n, h = con.execute(_digest_sql(f"{winners} WHERE op <> 'D'")).fetchone()
    finally:
        con.close()
    return int(n), int(h)


def table_digest(table, export_dir: str) -> tuple[int, int]:
    """(rows, hash) of a table's live rows. ``table`` is any engine
    table (LakeTable, DirTable); ``export_dir`` must not exist."""
    table.refresh().current().select(*ROW_COLUMNS).write.parquet(export_dir)
    files = [
        os.path.join(export_dir, f)
        for f in os.listdir(export_dir)
        if f.endswith(".parquet")
    ]
    if not files:
        return 0, 0
    con = _connect()
    try:
        n, h = con.execute(
            _digest_sql(f"read_parquet({_parquet_list(files)})")
        ).fetchone()
    finally:
        con.close()
    return int(n), int(h)
