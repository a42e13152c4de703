"""Multi-table fan-out sink: N typed tables under ONE shared manifest commit.

The reference's core dataflow produces several typed tables from one
extraction pass — ``PerBlockRecords`` carries 6 record vectors
(extractor_transformer/src/sonic_config/mod.rs:305-314), each published to
its own named sink (mod.rs:501-574, streampublisher.rs:29-76) — but each
table is acked independently, so a crash mid-publish leaves the tables
mutually inconsistent until the nightly QC DAGs reconcile them
(daily_qc_airflow/row_counts.py:16-22 joins parent↔child counts to find the
drift). This module upgrades that: all fan-out tables commit under ONE
snapshot pointer flip, so every (partition, offset-range) manifest entry is
either applied to ALL tables or NONE — cross-table atomicity by
construction, no reconciliation DAG needed.

The set is the second facade over the one storage core in
:mod:`~sonic_etl_spark.sources.table`: the same snapshot log, merge-on-read
buckets, field-id schemas and idempotent manifest guard as
:class:`~sonic_etl_spark.sources.table.TransactionalParquetTable`, and the
same per-table transitions. Its snapshot json carries a ``tables`` map of
table dicts instead of one table's metadata, and data files live under
``data/snap-N/<table>/_pb=K``.

At 100 TB: each entry of ``tables`` becomes its own Iceberg table and the
shared snapshot becomes a multi-table transaction (Iceberg REST catalog
``commitTransaction`` across tables); the engine-side dataflow — decode once,
project N ways, one atomic commit — is unchanged.
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import DataFrame

from sonic_etl_spark.sources.table import (
    SnapshotLog,
    _changes,
    _lookup,
    _new_table,
    _state,
)


@dataclass
class TableSpec:
    """Schema + merge identity of one fan-out table."""

    fields: list[tuple[str, str]]  # [(name, ddl_type)]
    key_cols: list[str]
    order_cols: list[str]
    # bucket the data by these columns (default: key_cols) so upserts are
    # co-located; quarantine-style append-mostly tables can bucket wider
    bucket_cols: list[str] = field(default_factory=list)
    # opt-in zone-map columns (numeric): per-file min/max in the manifest,
    # consumed by read_changes(where_between=...) — same contract as
    # TransactionalParquetTable.create(stats_cols=...)
    stats_cols: list[str] = field(default_factory=list)


class TransactionalTableSet(SnapshotLog):
    """N merge-on-read tables sharing one snapshot log + manifest set.

    Every write — merge_all, compact, rebucket, evolve, rollback — is ONE
    pointer flip of the shared log, so all tables move together.
    """

    # own class attributes, so per-class wrappers of the maintenance calls
    # (tracers patch ``cls.__dict__``) see them
    compact = SnapshotLog.compact
    expire_snapshots = SnapshotLog.expire_snapshots

    # ------------------------------------------------------------------ layout
    def _tables(self, snap: dict) -> dict[str, dict]:
        return snap["tables"]

    def _layout(self, tables: dict[str, dict], n_buckets: int) -> dict:
        return {"n_buckets": n_buckets, "tables": tables}

    def _batch_metrics(self, metrics: dict, written: dict[str, int], elapsed: float) -> dict:
        return {**metrics, "buckets_written": written, "apply_sec": round(elapsed, 3)}

    def _table(self, name: str, snap: dict | None = None) -> dict:
        snap = snap or self.latest()
        if snap is None or name not in snap["tables"]:
            raise FileNotFoundError(f"table {name} not in set {self.path}")
        return snap["tables"][name]

    # ------------------------------------------------------------------ create
    def create(self, tables: dict[str, TableSpec]) -> dict:
        return self.latest() or self._commit(
            None,
            {
                name: _new_table(spec.fields, spec.key_cols, spec.order_cols,
                                 spec.stats_cols, spec.bucket_cols or spec.key_cols)
                for name, spec in tables.items()
            },
            {}, manifests=[], n_buckets=self.n_buckets,
        )

    # ------------------------------------------------------------------- reads
    def read(
        self,
        name: str,
        include_tombstones: bool = False,
        snap: dict | None = None,
    ) -> DataFrame:
        tbl = self._table(name, snap)
        return _state(self.spark, self.path, tbl, list(tbl["buckets"]),
                      include_tombstones=include_tombstones)

    def read_asof(self, ts: float, name: str) -> DataFrame:
        """Timestamp time travel for one table of the set: the state under
        the latest retained snapshot committed at or before ``ts`` (the
        SHARED log, so a multi-table consumer reading several names at the
        same ts gets a CONSISTENT cross-table cut — the point of the
        single-pointer design). Raises beyond the retention horizon."""
        return self.read(name, snap=self._asof(ts))

    def lookup(self, name: str, **key) -> DataFrame:
        """Point read of one table in the set — the serving path: hash the
        key by the table's BUCKET columns to its single bucket, read only
        that bucket's files, filter to the full key, LWW-resolve,
        tombstone-filter. Requires the key to include every bucket column
        (bucket pruning is impossible otherwise — use read().where)."""
        snap = self._snap()
        tbl = self._table(name, snap)
        return _lookup(self.spark, self.path, tbl, self._n_buckets(snap), key)

    def read_changes(
        self,
        name: str,
        from_snapshot_id: int | None = None,
        to_snapshot_id: int | None = None,
        reduced: bool = False,
        where_between: tuple[str, float, float] | None = None,
    ) -> DataFrame:
        """Incremental scan of ONE table in the set — same contract as
        ``TransactionalParquetTable.read_changes`` (O(new data) for the
        consumer; raises across a compaction/expiry boundary;
        ``where_between`` prunes new files by zone-map stats when the spec
        declared ``stats_cols``). A fan-out consumer tails e.g.
        ``file_versions`` this way without rereading the table."""
        to_tbl = self._table(name, self._snap(to_snapshot_id))
        from_tbl = (
            None if from_snapshot_id is None
            else self._table(name, self.snapshot(from_snapshot_id))
        )
        return _changes(self.spark, self.path, from_tbl, to_tbl, reduced, where_between)

    # ------------------------------------------------------------------ writes
    def merge_all(
        self,
        updates: dict[str, DataFrame],
        manifest_entries: list[tuple[int, int, int]],
        metrics: dict | None = None,
        pre_commit_check=None,
    ) -> dict:
        """Apply one batch to every table atomically under one manifest.

        Each ``updates[name]`` must be one-row-per-key for its table (the
        caller reduces; see streaming.fanout). All tables' delta files are
        written first (crash ⇒ orphan files, no state change), then ONE
        pointer flip records every table's new files AND the manifest entries
        — the cross-table exactly-once guarantee.

        ``pre_commit_check``: called after all writes, before the zone-map
        stats jobs and the pointer flip; raising aborts the whole
        multi-table commit (orphan files only) — the observation-based
        fail-the-batch hook.
        """
        parent = self._snap()
        unknown = set(updates) - set(parent["tables"])
        if unknown:
            raise KeyError(f"unknown tables {sorted(unknown)}")
        return self._merge(parent, updates, manifest_entries, metrics, pre_commit_check)

    def evolve(
        self,
        name: str,
        add: list[tuple[str, str]] | None = None,
        rename: dict[str, str] | None = None,
        widen: dict[str, str] | None = None,
        drop: list[str] | None = None,
    ) -> dict:
        """Schema-only snapshot for ONE table of the set (field-id semantics
        identical to TransactionalParquetTable.evolve, incl. lossless
        ``widen`` and id-retiring ``drop``; bucket columns cannot be
        dropped either): existing files are untouched; readers map them by
        field id. Other tables are unaffected — but the commit is still one
        atomic pointer flip of the shared log.
        """
        self._table(name)
        return self._evolve(name, {"table": name}, add, rename, widen, drop)
