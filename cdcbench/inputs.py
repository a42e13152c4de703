"""Seeded input generation, done by DuckDB outside the engine.

Why not the engine's own ``synthesize_change_events``: writing a log with
it costs a run 16-17 s of cold Spark work on a 4-core host (DuckDB: under
1 s), and a regression check makes 48 runs in a fixed time budget. The
oracle never needs the two generators to agree: it recomputes every
expected result from the parquet files written here.

The change log has the engine's raw event shape (the columns of
``sonic_etl_spark.log.CHANGE_EVENT_COLUMNS`` plus ``event_id``/``base_id``):
a JSON payload with base64 content and hex quantities that the engine must
decode, about a quarter of the values too wide for 64 bits (the codec's
Arrow path), Zipf-skewed repos (a few hot keys), about 5% redeliveries of
a recent event's payload and about 2% deletes. Every column is a function
of (seed, event id), so the same seed gives the same log. Event ``e`` goes
to partition ``e % 8`` at offset ``e // 8``, which keeps every partition's
offsets dense.
"""

from __future__ import annotations

import os
import random

import duckdb

N_PARTITIONS = 8
N_FILES = 8
N_REPOS = 200
PATHS_PER_REPO = 500
CORPUS_CHARS = 8000  # content is a seeded slice (100-499 chars) of a seeded word corpus
LANGS = ["py", "rs", "go", "sql", "js", "c"]
WORDS = [
    "def", "fn", "select", "from", "where", "return", "import", "struct",
    "class", "async", "await", "merge", "into", "table", "offset", "commit",
    "batch", "shuffle", "partition", "broadcast", "decode", "hash", "value",
    "schema", "column", "stream", "replay", "upsert", "lineage", "checkpoint",
]


def _u(seed: int, tag: str, col: str) -> str:
    """Uniform double in [0, 1) from (seed, tag, col)."""
    return f"((hash({seed}, '{tag}', {col}) % 1000000) / 1e6)"


def change_log_sql(seed: int, n_events: int) -> str:
    lag = f"(hash({seed}, 'lag', i) % 50 + 1)::BIGINT"
    rng = random.Random(seed)
    corpus = "'" + " ".join(rng.choice(WORDS) for _ in range(CORPUS_CHARS // 5))[:CORPUS_CHARS] + "'"
    langs = "[" + ", ".join(f"'{w}'" for w in LANGS) + "]"
    return f"""
    WITH ids AS (
        SELECT i AS event_id,
               CASE WHEN {_u(seed, 'dup', 'i')} < 0.05 AND i >= {lag}
                    THEN i - {lag} ELSE i END AS base_id
        FROM range({n_events}) t(i)
    ), logical AS (
        SELECT event_id, base_id,
               least(floor({N_REPOS} * pow({_u(seed, 'repo', 'base_id')}, 3)),
                     {N_REPOS - 1})::BIGINT AS repo_idx,
               (hash({seed}, 'path', base_id) % {PATHS_PER_REPO})::BIGINT AS path_idx,
               {langs}[(hash({seed}, 'lang', base_id) % {len(LANGS)})::BIGINT + 1] AS lang,
               substr({corpus}, 1 + (hash({seed}, 'at', base_id) % {CORPUS_CHARS // 2})::BIGINT,
                      (100 + hash({seed}, 'len', base_id) % 400)::BIGINT) AS content,
               '0x' || lower(hex(hash({seed}, 'v1', base_id)))
                   || CASE WHEN {_u(seed, 'big', 'base_id')} < 0.25
                           THEN lower(hex(hash({seed}, 'v2', base_id))) ELSE '' END
                   AS value_hex,
               '0x' || lower(hex(hash({seed}, 'mode', base_id) % 512)) AS mode_hex
        FROM ids
    )
    SELECT event_id, base_id,
           (event_id % {N_PARTITIONS})::INTEGER AS partition_id,
           (event_id // {N_PARTITIONS})::BIGINT AS "offset",
           'org/repo-' || repo_idx AS repo,
           'src/mod' || (path_idx % 20) || '/file_' || path_idx || '.' || lang AS path,
           substr(sha256('commit:{seed}:' || base_id), 1, 40) AS "commit",
           lang,
           json_object('content_b64', to_base64(encode(content)),
                       'size', '0x' || lower(hex(octet_length(encode(content)))),
                       'value', value_hex, 'mode', mode_hex)::VARCHAR AS content_raw,
           CASE WHEN {_u(seed, 'del', 'event_id')} < 0.02 THEN 'delete'
                ELSE 'upsert' END AS op,
           to_timestamp(1700000000 + event_id * 3) AS ts
    FROM logical
    """


def write_change_log(out_dir: str, seed: int, n_events: int) -> None:
    """Write the log as N_FILES parquet files of consecutive event ids."""
    os.makedirs(out_dir)
    con = duckdb.connect()
    try:
        con.execute("SET TimeZone = 'UTC'")
        con.execute(f"CREATE TEMP TABLE ev AS {change_log_sql(seed, n_events)}")
        per = -(-n_events // N_FILES)
        for k in range(N_FILES):
            con.execute(
                f"COPY (SELECT * FROM ev WHERE event_id >= {k * per} "
                f"AND event_id < {(k + 1) * per} ORDER BY event_id) "
                f"TO '{os.path.join(out_dir, f'part-{k:03d}.parquet')}' (FORMAT parquet)")
    finally:
        con.close()
