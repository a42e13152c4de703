"""Correctness oracles, computed by DuckDB from the raw inputs.

The engine's converged state is written to parquet by Spark and compared
here against an independent recomputation from the raw change-log parquet:
for every key ``(repo, path)`` the last writer under the total order
``(offset, partition_id, commit)`` among the COMMITTED offset ranges.
"""

from __future__ import annotations

import duckdb

WINNER_COLS = ["repo", "path", "last_offset", "last_partition_id", "commit", "op"]
_SQL_COLS = ", ".join(f'"{c}"' for c in WINNER_COLS)


def _ranges_sql(ranges) -> str:
    rows = ", ".join(f"({int(p)}, {int(s)}, {int(e)})" for p, s, e in sorted(ranges))
    return f"SELECT * FROM (VALUES {rows}) r(p, s, e)"


def _committed_events(log_glob: str, ranges) -> str:
    return (
        f"SELECT ev.* FROM read_parquet('{log_glob}') ev "
        f"JOIN ({_ranges_sql(ranges)}) r "
        'ON ev.partition_id = r.p AND ev."offset" BETWEEN r.s AND r.e'
    )


def expected_winners_sql(log_glob: str, ranges) -> str:
    """Per key, the last writer among the committed events (tombstones
    included: a delete that wins is part of the converged state)."""
    return f"""
        SELECT repo, path, "offset" AS last_offset,
               partition_id AS last_partition_id, "commit", op
        FROM ({_committed_events(log_glob, ranges)})
        QUALIFY row_number() OVER (
            PARTITION BY repo, path
            ORDER BY "offset" DESC, partition_id DESC, "commit" DESC) = 1
    """


def winner_mismatches(log_glob: str, ranges, state_glob: str) -> tuple[int, int]:
    """(mismatched rows, expected rows): rows in either the expected winner
    set or the engine's state (``state_glob``: parquet with WINNER_COLS,
    tombstones included) but not in both."""
    if not ranges:
        return 0, 0
    cols = _SQL_COLS
    con = duckdb.connect()
    try:
        con.execute(f"CREATE TEMP VIEW want AS {expected_winners_sql(log_glob, ranges)}")
        con.execute(
            f"CREATE TEMP VIEW got AS SELECT {cols} FROM read_parquet('{state_glob}')"
        )
        bad = con.execute(
            f"SELECT (SELECT count(*) FROM (SELECT {cols} FROM want EXCEPT ALL "
            f"SELECT {cols} FROM got)) + (SELECT count(*) FROM (SELECT {cols} "
            f"FROM got EXCEPT ALL SELECT {cols} FROM want))"
        ).fetchone()[0]
        n = con.execute("SELECT count(*) FROM want").fetchone()[0]
    finally:
        con.close()
    return int(bad), int(n)


def coverage_errors(ranges, n_events: int, n_partitions: int) -> list[str]:
    """What is wrong with ``ranges`` (partition, first offset, last offset)
    as the committed cover of events [0, n_events) of a log that puts event
    ``e`` at partition ``e % n_partitions``, offset ``e // n_partitions``:
    an empty list when every such offset is committed exactly once and
    nothing else is."""
    errors = []
    by_part: dict[int, list[tuple[int, int]]] = {}
    for p, s, e in ranges:
        by_part.setdefault(int(p), []).append((int(s), int(e)))
    for p in sorted(set(by_part) | set(range(n_partitions))):
        want = (n_events - p + n_partitions - 1) // n_partitions if p < n_partitions else 0
        nxt = 0
        for s, e in sorted(by_part.get(p, [])):
            if s != nxt:
                errors.append(f"partition {p}: range [{s}, {e}] after offset {nxt - 1}")
            nxt = max(nxt, e + 1)
        if nxt != want:
            errors.append(f"partition {p}: committed up to offset {nxt - 1}, "
                          f"the log has {want} offsets")
    return errors


def expected_fanout_counts(log_glob: str, ranges) -> dict[str, int]:
    """Visible row counts of the fan-out tables after replaying ``ranges``
    of a log without poison rows: ``source_code`` holds the non-deleted
    key winners, ``file_versions`` the non-deleted (repo, path, commit)
    winners, and ``quarantine`` nothing."""
    if not ranges:
        return {"source_code": 0, "file_versions": 0, "quarantine": 0}
    ev = _committed_events(log_glob, ranges)
    con = duckdb.connect()
    try:
        sc = con.execute(
            f"SELECT count(*) FROM ({expected_winners_sql(log_glob, ranges)}) "
            "WHERE op <> 'delete'"
        ).fetchone()[0]
        fv = con.execute(
            f"SELECT count(*) FROM (SELECT op FROM ({ev}) QUALIFY row_number() "
            "OVER (PARTITION BY repo, path, \"commit\" ORDER BY \"offset\" DESC, "
            "partition_id DESC) = 1) WHERE op <> 'delete'"
        ).fetchone()[0]
    finally:
        con.close()
    return {"source_code": int(sc), "file_versions": int(fv), "quarantine": 0}


def verdict_mismatches(got_glob: str, want_glob: str) -> tuple[int, int]:
    """(mismatched rows, expected rows) between two verdict parquet sets
    with columns (doc_id, off, kept, reason)."""
    cols = "doc_id, off, kept, reason"
    con = duckdb.connect()
    try:
        bad = con.execute(
            f"SELECT (SELECT count(*) FROM (SELECT {cols} FROM read_parquet('{want_glob}') "
            f"EXCEPT ALL SELECT {cols} FROM read_parquet('{got_glob}'))) + "
            f"(SELECT count(*) FROM (SELECT {cols} FROM read_parquet('{got_glob}') "
            f"EXCEPT ALL SELECT {cols} FROM read_parquet('{want_glob}')))"
        ).fetchone()[0]
        n = con.execute(f"SELECT count(*) FROM read_parquet('{want_glob}')").fetchone()[0]
    finally:
        con.close()
    return int(bad), int(n)
