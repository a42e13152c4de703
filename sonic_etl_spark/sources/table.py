"""Transactional parquet table — Iceberg-shaped sink fallback (merge-on-read).

The north rule requires idempotent commits keyed by a (partition,
offset-range) manifest, MERGE INTO upserts, and schema-id-aware evolution.
No Iceberg runtime jar ships in this sandbox, so this module implements the
same *contract* on plain parquet (SURVEY.md §7.0/§7.3 hard part 1):

- **Snapshot log**: every commit writes an immutable ``snap-N.json`` plus an
  atomically-replaced ``_latest.json`` pointer (``os.rename`` is atomic on
  POSIX). A crash between data write and pointer flip leaves only orphan
  files; the batch replays idempotently.
- **Merge-on-read buckets**: table data lives in buckets keyed by
  ``hash(repo, path) % n_buckets`` (the merge key, so upserts are co-located
  and hot repos spread across buckets by path). A MERGE *appends* one delta
  file per affected bucket — writes are O(batch), never O(table) — and the
  reader resolves last-writer-wins across a bucket's base+delta files.
  ``compact()`` folds a bucket's files back to one. This is exactly Iceberg's
  merge-on-read (equality deletes + data files, maintenance compaction);
  the earlier copy-on-write formulation rewrote every affected bucket per
  batch, i.e. the whole table per batch under uniform updates — measured
  ~2× the entire pipeline compute at 10M events and fatal at 10^10.
- **Idempotent commit manifest**: each snapshot carries the cumulative set of
  committed (partition_id, offset_start, offset_end) ranges. ``merge``
  refuses ranges already committed — at-least-once delivery upstream becomes
  exactly-once table state (upgrade over the reference's
  append-then-nightly-MERGE convergence, daily_dedupe_mainnet.py:26-81, and
  its ack-after-publish duplicate window, mod.rs:140-164).
- **Schema evolution by field id**: snapshots record ``{id, name, type}`` per
  column; every data file remembers the schema id it was written under, and
  the reader renames/backfills columns by field id — Iceberg's
  add/rename-safe semantics (reference has only hand-reserved proto field
  numbers, schemas/proto/blocks.proto:144-146).

LWW semantics: the merged state for a key is the row with the maximum
``(offset, partition_id, commit)`` among all events ever applied. max is
associative, commutative and idempotent, so replays, overlapping ranges,
duplicate redelivery, and any base/delta file layout all converge to
byte-identical state regardless of batching — the formal version of the
reference's natural-key convergence triple (SURVEY.md §0). Delete tombstones
are ordinary rows (op='delete') filtered at read and retained through
compaction, so a late-arriving lower-order upsert can never resurrect a key.

One core, two facades: :class:`SnapshotLog` owns the log (commit, merge,
compaction, rebucketing, evolution, rollback, expiry) and runs pure
per-table transitions over *table dicts*; :class:`TransactionalParquetTable`
is the log of one table (the snapshot is the table dict) and
``multitable.TransactionalTableSet`` the log of N tables under one pointer.

At 100 TB: buckets become Iceberg partitions (``bucket(N, repo||path)``),
delta files become Iceberg data files with sequence numbers, the snapshot
json becomes the Iceberg metadata tree, the pointer flip becomes a catalog
swap, and ``compact`` becomes rewrite_data_files. Nothing in the engine
above this module would change.
"""

from __future__ import annotations

import json
import os
import shutil
import time
import uuid

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

LATEST = "_latest.json"
SNAP_DIR = "_snapshots"
DATA_DIR = "data"

DEFAULT_KEY_COLS = ["repo", "path"]
DEFAULT_ORDER_COLS = ["last_offset", "last_partition_id", "commit"]


def _bucket_expr(n_buckets: int, bucket_cols: list[str]) -> F.Column:
    """Bucket id = xxhash64 of the bucket columns mod n_buckets. Callers
    pass the snapshot's (possibly renamed) columns so bucketing survives
    schema evolution — the writer and point-lookup reader must agree."""
    cols = [F.col(c) for c in bucket_cols]
    return F.pmod(F.xxhash64(*cols), F.lit(n_buckets)).cast("int")


def _lww_reduce(df: DataFrame, key_cols: list[str], order_cols: list[str]) -> DataFrame:
    """One winning row per key: max_by over the total order (map-side partial
    aggregation; no row_number/full-sort shuffle)."""
    payload = [c for c in df.columns if c not in key_cols]
    return (
        df.groupBy(*key_cols)
        .agg(
            F.max_by(
                F.struct(*payload), F.struct(*[F.col(c) for c in order_cols])
            ).alias("_r")
        )
        .select(*key_cols, "_r.*")
    )


# lossless type promotions (Iceberg evolution rule): widening only — a
# narrowing or int→float would corrupt order/key comparisons on old rows
_TYPE_ALIASES = {"long": "bigint", "integer": "int", "real": "float"}


def _norm_type(t: str) -> str:
    t = t.strip().lower()
    return _TYPE_ALIASES.get(t, t)


_WIDEN_OK = {("int", "bigint"), ("float", "double")}

# column types eligible for per-file zone-map stats (JSON-safe, totally
# ordered; timestamps/strings are excluded to keep manifest stats portable)
_STATS_TYPES = {"int", "bigint", "double", "float", "smallint", "tinyint"}


def collect_parquet_stats(
    spark: SparkSession, out_dir: str, cols: list[str], ids_by_name: dict[str, int]
) -> dict[str, dict[str, list]]:
    """Per-bucket-file min/max over a freshly-written ``_pb``-partitioned
    dir, keyed by field id: {bucket_id: {field_id: [min, max]}}. One
    column-pruned aggregate (O(batch)); shared by the single table and the
    fan-out set."""
    df = spark.read.parquet(out_dir)
    aggs = []
    for c in cols:
        aggs += [F.min(c).alias(f"_lo_{c}"), F.max(c).alias(f"_hi_{c}")]
    rows = df.groupBy("_pb").agg(*aggs).collect()
    return {
        str(r["_pb"]): {
            str(ids_by_name[c]): [r[f"_lo_{c}"], r[f"_hi_{c}"]] for c in cols
        }
        for r in rows
    }


def validate_stats_cols(fields: list[tuple[str, str]], stats_cols: list[str]) -> None:
    """stats_cols must name numeric columns of ``fields`` (zone-map rule)."""
    types = {n: t for n, t in fields}
    for c in stats_cols:
        if c not in types:
            raise KeyError(f"stats_cols: no column {c!r}")
        if _norm_type(types[c]) not in _STATS_TYPES:
            raise ValueError(
                f"stats_cols: {c!r} is {types[c]} — only numeric columns "
                f"carry zone-map stats ({sorted(_STATS_TYPES)})"
            )


class CommitConflict(Exception):
    """Another writer advanced the table between our read and our commit."""


# ---------------------------------------------------------------------------
# Per-table transitions. A *table dict* is {schemas, current_schema_id,
# key_cols, order_cols, bucket_cols?, stats_cols, buckets}: a whole
# single-table snapshot, or one entry of a table set's ``tables`` map. Each
# function below is pure over that dict plus the table's base path and the
# data root it writes into; snapshot bookkeeping lives in SnapshotLog.
# ---------------------------------------------------------------------------
def _schema_by_id(tbl: dict, schema_id: int) -> dict:
    for s in tbl["schemas"]:
        if s["schema_id"] == schema_id:
            return s
    raise KeyError(f"schema_id {schema_id} not found")


def _current_schema(tbl: dict) -> dict:
    return _schema_by_id(tbl, tbl["current_schema_id"])


def _bucket_cols(tbl: dict) -> list[str]:
    """Columns rows are bucketed by: the table's ``bucket_cols`` when it
    declares them (a fan-out table may bucket by a key prefix), else its
    key columns."""
    return tbl.get("bucket_cols") or tbl["key_cols"]


def _new_table(
    fields: list[tuple[str, str]],
    key_cols: list[str],
    order_cols: list[str],
    stats_cols: list[str],
    bucket_cols: list[str] | None = None,
) -> dict:
    """An empty table dict with schema 0 (field ids = column positions)."""
    validate_stats_cols(fields, stats_cols)
    return {
        "schemas": [
            {
                "schema_id": 0,
                "fields": [
                    {"id": i, "name": n, "type": t} for i, (n, t) in enumerate(fields)
                ],
            }
        ],
        "current_schema_id": 0,
        "key_cols": key_cols,
        "order_cols": order_cols,
        **({"bucket_cols": bucket_cols} if bucket_cols else {}),
        "stats_cols": stats_cols,
        "buckets": {},
    }


def _empty_df_for(spark: SparkSession, tbl: dict) -> DataFrame:
    ddl = ", ".join(f"`{f['name']}` {f['type']}" for f in _current_schema(tbl)["fields"])
    return spark.createDataFrame([], ddl)


def read_buckets_projected(
    spark: SparkSession, base_path: str, tbl: dict, bucket_ids: list[str]
) -> DataFrame:
    """Raw (pre-LWW) rows of the given buckets projected to the current
    schema by FIELD ID: every data file remembers the schema it was written
    under; columns are renamed/backfilled by id (Iceberg add/rename-safe
    reads)."""
    cur = _current_schema(tbl)
    cur_names = [f["name"] for f in cur["fields"]]
    by_schema: dict[int, list[str]] = {}
    for b in bucket_ids:
        ent = tbl["buckets"].get(str(b))
        if ent is None:
            continue
        for fent in ent["files"]:
            by_schema.setdefault(fent["schema_id"], []).append(fent["path"])
    parts = []
    for schema_id, rels in by_schema.items():
        raw = spark.read.parquet(*[os.path.join(base_path, r) for r in rels])
        name_at_write = {f["id"]: f["name"] for f in _schema_by_id(tbl, schema_id)["fields"]}
        cols = []
        for f in cur["fields"]:
            old = name_at_write.get(f["id"])
            if old is not None and old in raw.columns:
                cols.append(F.col(old).cast(f["type"]).alias(f["name"]))
            else:
                cols.append(F.lit(None).cast(f["type"]).alias(f["name"]))
        parts.append(raw.select(*cols))
    if not parts:
        return _empty_df_for(spark, tbl)
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out.select(*cur_names)


def _state(
    spark: SparkSession,
    base_path: str,
    tbl: dict,
    bucket_ids: list[str],
    key: dict | None = None,
    include_tombstones: bool = False,
) -> DataFrame:
    """LWW state of the given buckets (merge-on-read): their base+delta
    files under the current schema, optionally filtered to one ``key``,
    reduced to the winning row per key, tombstones dropped unless asked
    for. Never prunes files on zone-map stats: dropping a delta file from
    the reduce could promote a stale winner."""
    df = read_buckets_projected(spark, base_path, tbl, bucket_ids)
    for c, v in (key or {}).items():
        df = df.where(F.col(c) == v)
    df = _lww_reduce(df, tbl["key_cols"], tbl["order_cols"])
    if not include_tombstones and "op" in df.columns:
        # null-safe: a NULL op (producer lacked the column; backfilled by
        # the field-id projection) is NOT a tombstone and must survive
        df = df.filter(~F.col("op").eqNullSafe("delete"))
    return df


def _lookup(
    spark: SparkSession, base_path: str, tbl: dict, n_buckets: int, key: dict
) -> DataFrame:
    """Point read: hash the key's bucket columns to its ONE bucket, read
    only that bucket's files, filter to the full key, LWW-resolve."""
    kc = tbl["key_cols"]
    if sorted(key) != sorted(kc):
        raise KeyError(f"lookup needs exactly the key columns {kc}")
    bcols = _bucket_cols(tbl)
    missing = [c for c in bcols if c not in key]
    if missing:
        raise KeyError(f"key lacks bucket columns {missing}")
    types = {f["name"]: f["type"] for f in _current_schema(tbl)["fields"]}
    ddl = ", ".join(f"`{c}` {types[c]}" for c in bcols)
    one = spark.createDataFrame([tuple(key[c] for c in bcols)], ddl)
    bucket = one.select(_bucket_expr(n_buckets, bcols).alias("b")).first()["b"]
    return _state(spark, base_path, tbl, [str(bucket)], key={c: key[c] for c in kc})


def _changes(
    spark: SparkSession,
    base_path: str,
    from_tbl: dict | None,
    to_tbl: dict,
    reduced: bool,
    where_between: tuple[str, float, float] | None,
) -> DataFrame:
    """Rows in files of ``to_tbl`` that ``from_tbl`` lacks (file-identity
    diff; see TransactionalParquetTable.read_changes for the contract)."""

    def files(tbl: dict) -> set[str]:
        return {f["path"] for ent in tbl["buckets"].values() for f in ent["files"]}

    from_files = files(from_tbl) if from_tbl is not None else set()
    rewritten = from_files - files(to_tbl)
    if rewritten:
        raise ValueError(
            f"incremental read crosses a compaction/expiry boundary "
            f"({len(rewritten)} base files rewritten between snapshots); "
            "re-sync with a full read()"
        )
    fid = None
    if where_between is not None:
        col, lo, hi = where_between
        hit = [f for f in _current_schema(to_tbl)["fields"] if f["name"] == col]
        if not hit:
            raise KeyError(f"where_between: no column {col!r}")
        fid = str(hit[0]["id"])

    def overlaps(fent: dict) -> bool:
        if fid is None:
            return True
        st = fent.get("stats", {}).get(fid)
        if st is None or st[0] is None or st[1] is None:
            return True  # no stats for this column/file: keep
        return st[1] >= lo and st[0] <= hi

    new_buckets = {}
    for b, ent in to_tbl["buckets"].items():
        nf = [f for f in ent["files"] if f["path"] not in from_files and overlaps(f)]
        if nf:
            new_buckets[b] = {"files": nf}
    df = read_buckets_projected(
        spark, base_path, {**to_tbl, "buckets": new_buckets}, list(new_buckets)
    )
    if where_between is not None:
        df = df.where(F.col(col).between(lo, hi))
    if reduced:
        df = _lww_reduce(df, to_tbl["key_cols"], to_tbl["order_cols"])
    return df


def _project_to_current(tbl: dict, updates: DataFrame) -> DataFrame:
    """Schema-id-aware writer projection: route the producer's columns to
    the current schema by field id, accepting historical (pre-rename)
    names and backfilling unknown-to-producer columns (north rule:
    added/renamed columns replayed mid-stream must route correctly)."""
    historical: dict[int, list[str]] = {}
    for sch in sorted(tbl["schemas"], key=lambda s: -s["schema_id"]):
        for f in sch["fields"]:
            historical.setdefault(f["id"], [])
            if f["name"] not in historical[f["id"]]:
                historical[f["id"]].append(f["name"])
    proj = []
    for f in _current_schema(tbl)["fields"]:
        src = next((n for n in historical[f["id"]] if n in updates.columns), None)
        if src is not None:
            proj.append(F.col(src).cast(f["type"]).alias(f["name"]))
        else:
            proj.append(F.lit(None).cast(f["type"]).alias(f["name"]))
    return updates.select(*proj)


def _write_buckets(
    spark: SparkSession,
    base_path: str,
    rel: str,
    tbl: dict,
    df: DataFrame,
    n_buckets: int,
    n_partitions: int,
) -> list[str]:
    """Write ``df`` (already in the current schema) bucket-partitioned under
    ``rel``; returns the bucket ids written. ``_pb`` is the partition
    directory column only — parquet files contain exactly the schema
    columns. ``n_buckets`` and the bucket columns must be the SNAPSHOT's
    (not a constructor's or defaults): reopening a table with a different
    constructor value, or writing after a key-column rename, must not
    rehash rows into foreign bucket ids."""
    out_dir = os.path.join(base_path, rel)
    (
        df.withColumn("_pb", _bucket_expr(n_buckets, _bucket_cols(tbl)))
        .repartition(n_partitions, F.col("_pb"))
        .write.partitionBy("_pb")
        .mode("overwrite")
        .parquet(out_dir)
    )
    return [n.split("=", 1)[1] for n in os.listdir(out_dir) if n.startswith("_pb=")]


def _file_entries(
    spark: SparkSession, base_path: str, rel: str, tbl: dict, written: list[str]
) -> dict[str, dict]:
    """Manifest entry per freshly written bucket file: path, writer schema
    id and — when the table declares ``stats_cols`` — zone-map min/max keyed
    by field id (one column-pruned aggregate over the new files, O(batch))."""
    cols = tbl.get("stats_cols") or []
    stats = {}
    if cols and written:
        ids = {f["name"]: f["id"] for f in _current_schema(tbl)["fields"]}
        stats = collect_parquet_stats(spark, os.path.join(base_path, rel), cols, ids)
    out = {}
    for b in written:
        fent = {"path": os.path.join(rel, f"_pb={b}"), "schema_id": tbl["current_schema_id"]}
        if b in stats:
            fent["stats"] = stats[b]
        out[b] = fent
    return out


def _append_files(tbl: dict, entries: dict[str, dict]) -> dict:
    """``tbl`` with one delta file appended to each written bucket."""
    buckets = {b: dict(ent) for b, ent in tbl["buckets"].items()}
    for b, fent in entries.items():
        ent = buckets.setdefault(b, {"files": []})
        ent["files"] = ent["files"] + [fent]
    return {**tbl, "buckets": buckets}


def _rewrite(
    spark: SparkSession,
    base_path: str,
    rel: str,
    tbl: dict,
    bucket_ids: list[str],
    n_buckets: int,
    n_partitions: int,
) -> tuple[dict, list[str]]:
    """Fold the given buckets' files into one LWW-reduced file per bucket
    (tombstones RETAINED, so a late lower-order upsert still loses);
    other buckets keep their files. Returns (table, bucket ids written)."""
    state = _state(spark, base_path, tbl, bucket_ids, include_tombstones=True)
    written = _write_buckets(spark, base_path, rel, tbl, state, n_buckets, n_partitions)
    entries = _file_entries(spark, base_path, rel, tbl, written)
    folded = set(bucket_ids)
    # a fully-empty bucket stays absent
    buckets = {b: ent for b, ent in tbl["buckets"].items() if b not in folded}
    buckets.update({b: {"files": [fent]} for b, fent in entries.items()})
    return {**tbl, "buckets": buckets}, written


def _compact_table(
    spark: SparkSession,
    base_path: str,
    rel: str,
    tbl: dict,
    n_buckets: int,
    max_files_per_bucket: int,
    force: bool,
) -> tuple[dict, int]:
    """Fold every bucket whose chain exceeds ``max_files_per_bucket`` (all
    of them with ``force``). Returns (table, buckets compacted)."""
    victims = [
        b
        for b, ent in tbl["buckets"].items()
        if force or len(ent["files"]) > max_files_per_bucket
    ]
    if not victims:
        return tbl, 0
    out, written = _rewrite(
        spark, base_path, rel, tbl, victims, n_buckets, len(victims)
    )
    stray = set(written) - set(victims)
    if stray:
        raise RuntimeError(
            f"compaction wrote bucket ids {sorted(stray)} outside the "
            f"victim set {sorted(victims)} — bucket layout corrupted"
        )
    return out, len(victims)


def _evolve_table(
    tbl: dict,
    add: list[tuple[str, str]] | None,
    rename: dict[str, str] | None,
    widen: dict[str, str] | None,
    drop: list[str] | None,
) -> dict:
    """``tbl`` under a new current schema (see
    TransactionalParquetTable.evolve for the field-id rules)."""
    cur = _current_schema(tbl)
    fields = [dict(f) for f in cur["fields"]]
    protected = (
        set(tbl["key_cols"]) | set(tbl["order_cols"]) | set(tbl.get("bucket_cols", []))
    )
    for name in drop or []:
        hit = [f for f in fields if f["name"] == name]
        if not hit:
            raise KeyError(f"drop: no column {name!r}")
        if name in protected:
            raise ValueError(f"drop: {name!r} is a key/order/bucket column")
        fields.remove(hit[0])
    for old, new in (rename or {}).items():
        hit = [f for f in fields if f["name"] == old]
        if not hit:
            raise KeyError(f"rename: no column {old!r}")
        hit[0]["name"] = new
    for name, new_type in (widen or {}).items():
        hit = [f for f in fields if f["name"] == name]
        if not hit:
            raise KeyError(f"widen: no column {name!r}")
        pair = (_norm_type(hit[0]["type"]), _norm_type(new_type))
        if pair not in _WIDEN_OK:
            raise ValueError(
                f"widen: {hit[0]['type']} -> {new_type} is not a "
                f"lossless promotion (allowed: {sorted(_WIDEN_OK)})"
            )
        hit[0]["type"] = new_type
    # fresh ids come from ALL schemas ever committed: after a drop the
    # current max can shrink, and reusing a retired id would resurrect
    # the dropped column's data from old files
    all_ids = [f["id"] for sch in tbl["schemas"] for f in sch["fields"]]
    next_id = max(all_ids, default=-1) + 1
    for name, typ in add or []:
        if any(f["name"] == name for f in fields):
            raise KeyError(f"add: column {name!r} exists")
        fields.append({"id": next_id, "name": name, "type": typ})
        next_id += 1
    new_schema = {"schema_id": cur["schema_id"] + 1, "fields": fields}
    # renames can retitle key/order/bucket columns; keep them in sync by id
    id_by_old = {f["name"]: f["id"] for f in cur["fields"]}
    new_by_id = {f["id"]: f["name"] for f in fields}

    def remap(cols):
        return [new_by_id.get(id_by_old.get(c, -1), c) for c in cols]

    out = {
        **tbl,
        "schemas": tbl["schemas"] + [new_schema],
        "current_schema_id": new_schema["schema_id"],
        "key_cols": remap(tbl["key_cols"]),
        "order_cols": remap(tbl["order_cols"]),
        # stats_cols are droppable (unlike key/order): a dropped stats
        # column must leave the list too, or every later merge would try to
        # collect min/max of a column that no longer resolves. Keep only
        # names whose field id survives in the new schema.
        "stats_cols": [
            new_by_id[id_by_old[c]]
            for c in tbl.get("stats_cols", [])
            if c in id_by_old and id_by_old[c] in new_by_id
        ],
    }
    if "bucket_cols" in tbl:
        out["bucket_cols"] = remap(tbl["bucket_cols"])
    return out


# ---------------------------------------------------------------------------
# Snapshot log
# ---------------------------------------------------------------------------
class SnapshotLog:
    """Snapshot log + idempotent manifest set over one or more tables.

    Every commit writes an immutable ``_snapshots/snap-N.json`` and then
    atomically replaces the ``_latest.json`` pointer; table data of
    snapshot N lives under ``data/snap-N/<table>/``. Subclasses say where a
    snapshot keeps its table dicts (:meth:`_tables`, :meth:`_layout`); the
    commit, merge, compaction, rebucketing, evolution, rollback and
    retention here run the per-table transitions above over those dicts.
    """

    def __init__(self, spark: SparkSession, path: str, n_buckets: int = 32):
        self.spark = spark
        self.path = path
        self.n_buckets = n_buckets
        os.makedirs(os.path.join(path, SNAP_DIR), exist_ok=True)
        os.makedirs(os.path.join(path, DATA_DIR), exist_ok=True)

    # ----------------------------------------------------------------- layout
    def _tables(self, snap: dict) -> dict[str, dict]:
        """Table dicts of ``snap`` keyed by their data subdirectory."""
        raise NotImplementedError

    def _layout(self, tables: dict[str, dict], n_buckets: int) -> dict:
        """Snapshot fields that carry ``tables`` and the bucket count."""
        raise NotImplementedError

    def _batch_metrics(self, metrics: dict, written: dict[str, int], elapsed: float) -> dict:
        """Metrics a merge records: the caller's plus buckets written per
        table and the apply time."""
        raise NotImplementedError

    def _n_buckets(self, snap: dict) -> int:
        # the snapshot's bucket count, NOT the constructor's: a reopened
        # table with a different n_buckets must keep hashing rows into the
        # recorded layout
        return snap.get("n_buckets", self.n_buckets)

    def _rel(self, snapshot_id: int, name: str) -> str:
        # the single table's name is "": its files sit in data/snap-N itself
        return os.path.normpath(os.path.join(DATA_DIR, f"snap-{snapshot_id}", name))

    # -------------------------------------------------------------- snapshots
    def _latest_path(self) -> str:
        return os.path.join(self.path, LATEST)

    def latest(self) -> dict | None:
        p = self._latest_path()
        if not os.path.exists(p):
            return None
        with open(p) as f:
            sid = json.load(f)["snapshot_id"]
        return self.snapshot(sid)

    def snapshot(self, snapshot_id: int) -> dict:
        with open(os.path.join(self.path, SNAP_DIR, f"snap-{snapshot_id}.json")) as f:
            return json.load(f)

    def _snap(self, snapshot_id: int | None = None) -> dict:
        """The given (default: latest) snapshot; the table must exist."""
        snap = self.latest() if snapshot_id is None else self.snapshot(snapshot_id)
        if snap is None:
            raise FileNotFoundError(f"table {self.path} does not exist; create() first")
        return snap

    def history(self) -> list[dict]:
        """Retained snapshots, oldest first — the table's lineage.

        Stops at the expiry horizon: a parent pruned by
        :meth:`expire_snapshots` ends the walk (parent_id stays recorded in
        the oldest retained snapshot as provenance)."""
        out = []
        snap = self.latest()
        while snap is not None:
            out.append(snap)
            pid = snap.get("parent_id")
            try:
                snap = self.snapshot(pid) if pid is not None else None
            except FileNotFoundError:
                snap = None  # expired beyond the retention horizon
        return list(reversed(out))

    def _asof(self, ts: float) -> dict:
        """The latest retained snapshot committed at or before ``ts``."""
        eligible = [s for s in self.history() if s.get("committed_at", 0.0) <= ts]
        if not eligible:
            raise FileNotFoundError(
                f"no retained snapshot at or before ts={ts} "
                f"(retention horizon may have expired it)"
            )
        return eligible[-1]

    def _commit_snapshot(self, snap: dict, expected_parent: int | None) -> None:
        """Write snap json, then atomically flip the pointer (optimistic CC)."""
        cur = self.latest()
        cur_id = cur["snapshot_id"] if cur else None
        if cur_id != expected_parent:
            raise CommitConflict(f"expected parent {expected_parent}, found {cur_id}")
        sp = os.path.join(self.path, SNAP_DIR, f"snap-{snap['snapshot_id']}.json")
        with open(sp, "w") as f:
            json.dump(snap, f)
        tmp = self._latest_path() + f".tmp-{uuid.uuid4().hex}"
        with open(tmp, "w") as f:
            json.dump({"snapshot_id": snap["snapshot_id"]}, f)
            f.flush()
            os.fsync(f.fileno())
        os.rename(tmp, self._latest_path())  # atomic on POSIX

    def _commit(
        self,
        parent: dict | None,
        tables: dict[str, dict],
        metrics: dict,
        manifests: list | None = None,
        n_buckets: int | None = None,
    ) -> dict:
        """Commit the child of ``parent`` (None: the first snapshot) that
        carries ``tables``; manifests and bucket count default to the
        parent's."""
        snap = {
            "snapshot_id": parent["snapshot_id"] + 1 if parent else 1,
            "parent_id": parent["snapshot_id"] if parent else None,
            **self._layout(tables, n_buckets or self._n_buckets(parent)),
            "manifests": parent["manifests"] if manifests is None else manifests,
            "metrics": metrics,
            "committed_at": time.time(),
        }
        self._commit_snapshot(snap, expected_parent=snap["parent_id"])
        return snap

    # -------------------------------------------------------------- manifests
    def committed_ranges(self) -> set[tuple[int, int, int]]:
        """Offset-range entries only (the planner's resumption input).
        Non-range idempotency entries (e.g. ("retry", tag) from
        streaming.fanout.retry_quarantine) live in the same manifest set but
        are filtered here — the planner unpacks (pid, start, end) triples."""
        snap = self.latest()
        if snap is None:
            return set()
        return {tuple(m) for m in snap["manifests"] if len(m) == 3}

    def committed_marks(self) -> set[tuple]:
        """Non-range idempotency entries (len != 3), e.g. retry tags."""
        snap = self.latest()
        if snap is None:
            return set()
        return {tuple(m) for m in snap["manifests"] if len(m) != 3}

    # ------------------------------------------------------------ transitions
    def _merge(
        self,
        parent: dict,
        updates: dict[str, DataFrame],
        manifest_entries: list[tuple],
        metrics: dict | None,
        pre_commit_check,
    ) -> dict:
        """Append one batch to the named tables under one manifest commit:
        write every table's delta files, run ``pre_commit_check`` (raising
        aborts before any stats job: files orphan, no commit), record file
        entries and flip the pointer once. Skips if every manifest entry is
        already committed (the exactly-once guard)."""
        t0 = time.time()
        committed = {tuple(m) for m in parent["manifests"]}
        fresh = [e for e in map(tuple, manifest_entries) if e not in committed]
        if not fresh:
            return {"status": "skipped", "snapshot_id": parent["snapshot_id"]}
        # partial overlap: re-applying the whole batch is still correct
        # (max-merge is idempotent); only the fresh ranges are recorded.
        new_id, n_buckets = parent["snapshot_id"] + 1, self._n_buckets(parent)
        tables = dict(self._tables(parent))
        written = {
            name: _write_buckets(
                self.spark, self.path, self._rel(new_id, name), tables[name],
                _project_to_current(tables[name], df), n_buckets, max(n_buckets, 1),
            )
            for name, df in updates.items()
        }
        if pre_commit_check is not None:
            pre_commit_check()
        for name, bids in written.items():
            entries = _file_entries(
                self.spark, self.path, self._rel(new_id, name), tables[name], bids
            )
            tables[name] = _append_files(tables[name], entries)
        # per-commit lineage + throughput (ST2/ST6: checkpoint carries metrics)
        metrics = self._batch_metrics(
            dict(metrics or {}), {n: len(b) for n, b in written.items()}, time.time() - t0
        )
        self._commit(parent, tables, metrics,
                     manifests=parent["manifests"] + [list(e) for e in fresh])
        return {
            "status": "committed",
            "snapshot_id": new_id,
            "buckets_written": metrics["buckets_written"],
        }

    def compact(self, max_files_per_bucket: int = 8, force: bool = False) -> dict:
        """Fold buckets whose delta chains exceed ``max_files_per_bucket``
        back to one file each (Iceberg rewrite_data_files analog), every
        table of a set under ONE commit.

        LWW-reduces the bucket contents; tombstones are RETAINED so a
        late-replayed lower-order upsert still loses after compaction.
        Bounded read amplification: call every K batches from the replay
        loop, or force=True for full maintenance.
        """
        t0 = time.time()
        parent = self._snap()
        new_id, n_buckets = parent["snapshot_id"] + 1, self._n_buckets(parent)
        tables, compacted = {}, 0
        for name, tbl in self._tables(parent).items():
            tables[name], n = _compact_table(
                self.spark, self.path, self._rel(new_id, name), tbl, n_buckets,
                max_files_per_bucket, force,
            )
            compacted += n
        if not compacted:
            return {"status": "noop", "snapshot_id": parent["snapshot_id"]}
        self._commit(parent, tables, {
            "compaction": {
                "buckets_compacted": compacted,
                "compact_sec": round(time.time() - t0, 3),
            }
        })
        return {"status": "compacted", "snapshot_id": new_id, "buckets_compacted": compacted}

    def rebucket(self, n_buckets: int) -> dict:
        """Partition evolution: rewrite every table into a new bucket count
        under ONE commit (Iceberg partition-spec evolution, done eagerly —
        the bucket function is the merge/lookup routing, so old and new
        layouts cannot coexist within one snapshot, and n_buckets is shared
        by all tables of a set). One LWW-reduced full rewrite (tombstones
        retained, same as compaction); manifests carry over, so replay
        resumption and exactly-once are unaffected; later merges/lookups
        hash into the new layout via the snapshot's n_buckets; zone-map
        stats are recollected. Incremental readers crossing this snapshot
        see the usual compaction-boundary refusal (file identity
        changed)."""
        if n_buckets <= 0:
            raise ValueError(f"rebucket: n_buckets must be positive, got {n_buckets}")
        parent = self._snap()
        old_n = self._n_buckets(parent)
        if old_n == n_buckets:
            return {"status": "noop", "snapshot_id": parent["snapshot_id"]}
        t0 = time.time()
        new_id = parent["snapshot_id"] + 1
        tables = {
            name: _rewrite(
                self.spark, self.path, self._rel(new_id, name), tbl,
                list(tbl["buckets"]), n_buckets, n_buckets,
            )[0]
            for name, tbl in self._tables(parent).items()
        }
        metrics = {
            "rebucket": {
                "from": old_n,
                "to": n_buckets,
                "rebucket_sec": round(time.time() - t0, 3),
            }
        }
        self._commit(parent, tables, metrics, n_buckets=n_buckets)
        return {"status": "rebucketed", "snapshot_id": new_id, "n_buckets": n_buckets}

    def _evolve(self, name: str, label: dict, add, rename, widen, drop) -> dict:
        """Schema-only snapshot: table ``name`` gets a new current schema;
        data files and the other tables are untouched."""
        parent = self._snap()
        tables = dict(self._tables(parent))
        tables[name] = _evolve_table(tables[name], add, rename, widen, drop)
        return self._commit(parent, tables, {
            "evolution": {
                **label,
                "add": add or [],
                "rename": rename or {},
                "widen": widen or {},
                "drop": drop or [],
            }
        })

    def rollback(self, snapshot_id: int) -> dict:
        """Restore every table to a historical snapshot's state by
        committing a NEW snapshot that carries the old file and manifest
        lists (Iceberg rollback semantics: history moves forward, bytes
        move back; cross-table-atomic for a set).

        The rolled-back commits' manifest ranges leave the committed set,
        so a replay resumes exactly from the restored frontier and
        re-applies what was undone — rollback + replay converges to the
        same state hash as never rolling back (pytest-asserted). The target
        must still be retained (within the expiry horizon)."""
        parent = self._snap()
        if snapshot_id == parent["snapshot_id"]:
            return {"status": "noop", "snapshot_id": snapshot_id}
        target = self.snapshot(snapshot_id)  # FileNotFoundError if expired
        snap = self._commit(
            parent, self._tables(target),
            {"rollback": {"restored_snapshot_id": snapshot_id}},
            manifests=target["manifests"], n_buckets=self._n_buckets(target),
        )
        return {
            "status": "rolled_back",
            "snapshot_id": snap["snapshot_id"],
            "restored_snapshot_id": snapshot_id,
        }

    # -------------------------------------------------------------- retention
    def expire_snapshots(self, keep_last: int = 1, min_age_sec: float = 0.0) -> dict:
        """Retention maintenance: Iceberg ``expire_snapshots`` +
        ``remove_orphan_files`` analog. Without it a long replay accumulates
        every historical snapshot JSON and every superseded delta/compaction
        file forever — at 10^10 events that is thousands of dead data roots.
        One call covers every table of a set (they share the log).

        Keeps the ``keep_last`` most recent snapshots (the latest always
        survives) plus any snapshot younger than ``min_age_sec``; deletes
        (a) the expired snapshot JSONs and (b) every on-disk data root no
        retained snapshot references — which also sweeps stale roots from
        crashed/aborted writers once the snapshot counter has passed their
        id. Time travel to a retained snapshot keeps working; reading an
        expired one raises FileNotFoundError.

        Concurrency: an in-flight merge writes ``data/snap-{latest+1}``
        before committing; only roots with snapshot id ≤ the current latest
        are eligible for deletion, so active writers are never swept.
        """
        hist = self.history()
        if not hist:
            raise FileNotFoundError(f"table {self.path} does not exist")
        latest_id = hist[-1]["snapshot_id"]
        keep_last = max(keep_last, 1)
        now = time.time()
        kept = [
            s
            for i, s in enumerate(hist)
            if i >= len(hist) - keep_last
            or now - s.get("committed_at", 0.0) < min_age_sec
        ]
        kept_ids = {s["snapshot_id"] for s in kept}
        expired = [s for s in hist if s["snapshot_id"] not in kept_ids]

        live_roots = {
            f["path"].split(os.sep)[1]  # "data/snap-N[/<table>]/_pb=B" -> snap-N
            for s in kept
            for tbl in self._tables(s).values()
            for ent in tbl["buckets"].values()
            for f in ent["files"]
        }
        data_dir = os.path.join(self.path, DATA_DIR)
        removed_roots, bytes_reclaimed = [], 0
        for root in sorted(os.listdir(data_dir)):
            if not root.startswith("snap-") or root in live_roots:
                continue
            try:
                root_id = int(root.split("-", 1)[1])
            except ValueError:
                continue
            if root_id > latest_id:  # possible in-flight writer
                continue
            full = os.path.join(data_dir, root)
            for dirpath, _dirs, files in os.walk(full):
                bytes_reclaimed += sum(
                    os.path.getsize(os.path.join(dirpath, fn)) for fn in files
                )
            shutil.rmtree(full)
            removed_roots.append(root)

        for s in expired:
            sp = os.path.join(self.path, SNAP_DIR, f"snap-{s['snapshot_id']}.json")
            if os.path.exists(sp):
                os.remove(sp)

        return {
            "snapshots_expired": len(expired),
            "data_roots_removed": len(removed_roots),
            "bytes_reclaimed": bytes_reclaimed,
            "retained": sorted(kept_ids),
        }


class TransactionalParquetTable(SnapshotLog):
    """One merge-on-read table: each snapshot IS its table dict, and data
    lives directly under ``data/snap-N/``."""

    # own class attributes, so per-class wrappers of the maintenance calls
    # (tracers patch ``cls.__dict__``) see them
    compact = SnapshotLog.compact
    expire_snapshots = SnapshotLog.expire_snapshots

    # ------------------------------------------------------------------ layout
    def _tables(self, snap: dict) -> dict[str, dict]:
        return {"": snap}

    def _layout(self, tables: dict[str, dict], n_buckets: int) -> dict:
        tbl = tables[""]
        return {
            "schemas": tbl["schemas"],
            "current_schema_id": tbl["current_schema_id"],
            "n_buckets": n_buckets,
            "key_cols": tbl["key_cols"],
            "order_cols": tbl["order_cols"],
            "stats_cols": tbl.get("stats_cols", []),
            "buckets": tbl["buckets"],
        }

    def _batch_metrics(self, metrics: dict, written: dict[str, int], elapsed: float) -> dict:
        out = {**metrics, "buckets_written": written[""], "apply_sec": round(elapsed, 3)}
        if out.get("rows"):
            out["events_per_sec"] = round(out["rows"] / elapsed, 1)
        return out

    # ------------------------------------------------------------------ create
    def create(
        self,
        fields: list[tuple[str, str]],
        key_cols: list[str] | None = None,
        order_cols: list[str] | None = None,
        stats_cols: list[str] | None = None,
    ) -> dict:
        """Create the table with an empty snapshot. fields = [(name, ddl_type)].

        ``key_cols``/``order_cols`` define the MERGE identity and LWW total
        order; the reader needs them to resolve state across delta files.

        ``stats_cols`` (opt-in, numeric columns only): every data file this
        table writes records per-file min/max for these columns in the
        SNAPSHOT manifest (Iceberg column-stats analog, keyed by FIELD ID so
        renames don't orphan them). Consumers with a range predicate —
        :meth:`read_changes` ``where_between`` — then skip non-overlapping
        files at PLAN time, without listing or opening them. Costs one
        column-pruned aggregate over each freshly-written batch (O(batch),
        never O(table)); leave unset for zero overhead. NOTE: stats prune
        only APPEND-shaped reads (the change feed). State reads (:meth:`read`)
        never file-prune on stats — dropping a delta file from an LWW merge
        could resurrect a stale winner.
        """
        return self.latest() or self._commit(
            None,
            {"": _new_table(fields, key_cols or DEFAULT_KEY_COLS,
                            order_cols or DEFAULT_ORDER_COLS, stats_cols or [])},
            {}, manifests=[], n_buckets=self.n_buckets,
        )

    # ------------------------------------------------------------------- reads
    def read(self, snap: dict | None = None, include_tombstones: bool = False) -> DataFrame:
        """Current converged state: union of base+delta files projected to the
        current schema (field-id aware), LWW-reduced per key (merge-on-read).
        """
        snap = snap or self._snap()
        return _state(self.spark, self.path, snap, list(snap["buckets"]),
                      include_tombstones=include_tombstones)

    def metrics_history(self) -> DataFrame:
        """Per-commit lineage + throughput as a queryable DataFrame (ST2/ST6:
        the checkpoint carries metrics; this surfaces them). One row per
        retained snapshot: ids, commit time, batch metrics recorded by the
        writer (rows, apply_sec, events_per_sec, manifest, compaction...).
        Driver-side O(retained snapshots) — bounded by expire_snapshots."""
        rows = [
            (
                s["snapshot_id"],
                s.get("parent_id"),
                float(s.get("committed_at", 0.0)),
                json.dumps(s.get("metrics", {}), sort_keys=True),
                int(s["metrics"].get("rows", 0) or 0),
                float(s["metrics"].get("apply_sec", 0.0) or 0.0),
                float(s["metrics"].get("events_per_sec", 0.0) or 0.0),
            )
            for s in self.history()
        ]
        return self.spark.createDataFrame(
            rows,
            "snapshot_id bigint, parent_id bigint, committed_at double, "
            "metrics_json string, rows bigint, apply_sec double, "
            "events_per_sec double",
        )

    def lookup(self, **key) -> DataFrame:
        """Point read (the serving path): hash the key to its ONE bucket,
        read only that bucket's base+delta chain — 1/n_buckets of the
        table, further bounded by compaction — filter to the key and
        LWW-resolve. A key fetch on a 100 TB table touches one bucket's
        files, not the table. Pass the key by CURRENT column names:
        ``lookup(repo="r", path="p")`` (post-rename names after evolve).
        """
        snap = self._snap()
        return _lookup(self.spark, self.path, snap, self._n_buckets(snap), key)

    def read_for_keys(self, keys: DataFrame) -> DataFrame:
        """Batch point-read (the incremental-join primitive): LWW state
        restricted to the storage buckets that could hold any key in
        ``keys`` — a frame carrying the table's key columns (extra columns
        ignored). Cost is (touched buckets / n_buckets) of the table: a
        small batch joined against a 100 TB state table reads only the
        buckets the batch's keys hash into, never the table. With
        ``n_buckets`` sized ∝ corpus (rebucket() as it grows), per-batch
        I/O stays ∝ batch, which is what makes incremental maintenance
        (operators/incremental.py) O(new docs).

        The bucket-id collect is O(distinct touched buckets) ≤ n_buckets —
        control-plane, never data rows. Returns the same shape as
        :meth:`read` (tombstones filtered); the caller joins the result
        against its batch on the key columns.
        """
        snap = self._snap()
        missing = [c for c in snap["key_cols"] if c not in keys.columns]
        if missing:
            raise KeyError(
                f"read_for_keys: keys frame lacks key columns {missing}"
            )
        bucket = _bucket_expr(self._n_buckets(snap), _bucket_cols(snap))
        bids = [
            str(r["b"]) for r in keys.select(bucket.alias("b")).distinct().collect()
        ]
        bids = [b for b in bids if b in snap["buckets"]]
        return _state(self.spark, self.path, snap, bids)

    def read_asof(self, ts: float) -> DataFrame:
        """Time travel by wall clock: the converged state as of the latest
        snapshot committed at or before ``ts`` (epoch seconds). Bounded by
        the retention horizon (:meth:`expire_snapshots`); raises if no
        retained snapshot is old enough. Snapshot-id time travel is
        ``read(snapshot(id))`` — this is the timestamp spelling (Iceberg's
        ``as-of-timestamp``)."""
        return self.read(self._asof(ts))

    def read_changes(
        self,
        from_snapshot_id: int | None = None,
        to_snapshot_id: int | None = None,
        reduced: bool = False,
        where_between: tuple[str, float, float] | None = None,
    ) -> DataFrame:
        """Incremental scan (Iceberg incremental-append-read analog): the
        rows APPENDED between two snapshots — the converged table's own
        CDC-out stream for downstream consumers.

        Diffing is by data-file identity, so an incremental consumer's cost
        is O(new data), never O(table). ``from_snapshot_id=None`` reads
        since creation; ``reduced=True`` LWW-reduces the changes to one row
        per key (the latest state among the changed rows — what a
        downstream MERGE wants).

        Compaction/expiry rewrite files without changing state, so an
        incremental read across such a boundary would replay old rows as
        changes; that case is DETECTED (files present at ``from`` missing
        at ``to``) and raises — the consumer re-syncs with a full
        :meth:`read` (the same restriction Iceberg places on its
        incremental append scan).

        ``where_between=(col, lo, hi)`` (inclusive): filter the changes to
        a numeric range AND, when the table carries zone-map stats for
        ``col`` (``create(stats_cols=...)``), skip new files whose
        [min, max] cannot overlap — they never reach Spark's file listing.
        Files without stats for the column are conservatively kept. Sound
        here (the change feed is append-shaped); the LWW state read never
        file-prunes on stats.

        ``reduced=True`` combined with ``where_between`` means **LWW among
        the in-range changes only**: the range filter (row AND file level)
        applies BEFORE the reduce, so a key whose newest change falls
        outside the range reports its newest IN-RANGE change — NOT the
        key's globally-latest state. That is the only semantic consistent
        with zone-map file pruning (a pruned file by definition holds only
        out-of-range rows, so pruning and the row filter agree); consumers
        that need "latest state of keys touched in the range" must reduce
        first themselves: ``read_changes(reduced=True)`` then filter.
        """
        to_snap = self._snap(to_snapshot_id)
        from_snap = None if from_snapshot_id is None else self.snapshot(from_snapshot_id)
        return _changes(self.spark, self.path, from_snap, to_snap, reduced, where_between)

    def is_committed(self, partition_id: int, start: int, end: int) -> bool:
        return (partition_id, start, end) in self.committed_ranges()

    def files_per_bucket(self, snap: dict | None = None) -> dict[str, int]:
        snap = snap or self._snap()
        return {b: len(ent["files"]) for b, ent in snap["buckets"].items()}

    # ------------------------------------------------------------------ writes
    def merge(
        self,
        updates: DataFrame,
        manifest_entries: list[tuple[int, int, int]],
        key_cols: list[str] | None = None,
        order_cols: list[str] | None = None,
        metrics: dict | None = None,
        pre_commit_check=None,
    ) -> dict:
        """MERGE INTO with LWW ordering and an idempotent manifest commit.

        ``updates`` must already be one-row-per-key (in-batch reduced by the
        caller; see operators.merge.reduce_batch). Merge-on-read: appends one
        delta file per affected bucket — O(batch) writes; the reader resolves
        LWW across files. Returns a status dict. Skips (no-op) if every
        manifest entry is already committed — the exactly-once guard (ST3
        upgrade, SURVEY.md §2.8).

        ``pre_commit_check``: optional callable invoked AFTER the data files
        are written but BEFORE the snapshot pointer flips — raising aborts
        the commit, leaving only orphan files (used for observation-based
        fail-the-batch validation that rides the write job for free).
        """
        parent = self._snap()
        # caller-provided key/order overrides must exist under the CURRENT
        # schema: storing a stale (pre-rename) name would poison every later
        # LWW read with an unresolvable column — fail at the write instead
        cur_names = {f["name"] for f in _current_schema(parent)["fields"]}
        stale = [c for c in (key_cols or []) + (order_cols or []) if c not in cur_names]
        if stale:
            raise KeyError(
                f"merge: key/order columns {stale} not in the current schema "
                f"(renamed? pass current names or None to keep the snapshot's)"
            )
        parent = {
            **parent,
            "key_cols": key_cols or parent["key_cols"],
            "order_cols": order_cols or parent["order_cols"],
        }
        return self._merge(parent, {"": updates}, manifest_entries, metrics,
                           pre_commit_check)

    def evolve(
        self,
        add: list[tuple[str, str]] | None = None,
        rename: dict[str, str] | None = None,
        widen: dict[str, str] | None = None,
        drop: list[str] | None = None,
    ) -> dict:
        """Schema-only snapshot: add / rename / widen / drop by field id.

        Existing data files are untouched; the reader maps them to the new
        schema by field id (Iceberg semantics). The reference's analog is
        manual proto field reservation (schemas/proto/blocks.proto:144-146).

        ``widen``: {column: new_type} — only LOSSLESS promotions
        (int→bigint, float→double, Iceberg's rule); old files cast up on
        read via the field-id projection, new files are written wide.
        ``drop``: columns disappear from reads and writes but the field id
        is retired FOREVER — fresh ids come from the max across ALL
        historical schemas, never just the current one, so a later add
        reusing the name can never resurrect the dropped column's bytes
        from old files (Iceberg's no-id-reuse rule). Key/order columns
        cannot be dropped.
        """
        return self._evolve("", {}, add, rename, widen, drop)
