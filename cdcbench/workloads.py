"""The benchmark's workloads, driven through the engine's public API.

Each workload makes its inputs from the seed (inputs.py; the engine only
ever sees the generated log on disk), sets itself up, warms the JVM up on
the first part of its own input, then measures. Correctness is checked after the measured
region, against DuckDB recomputations from the raw inputs (oracle.py).

Why these workloads (the metric → layer → workload map is in README.md):

- ``fanout``: a closed-loop ``replay_fanout()`` of a pre-materialized
  backlog in two large batches into the three-table set: per-event decode,
  LWW reduce and bucket writes into three tables under one commit. The
  traced pass then runs a curate pass (below) on the warm session.
- ``tail``: follows the log head, open loop. Events arrive on a fixed
  wall-clock schedule below capacity, so each poll is a small batch and the
  per-batch constant, the head scan, snapshot commits, compaction and expiry
  dominate. One closed-loop lookup reader shares the table and the
  scheduler.
- ``catchup``: fanout's backlog through ``replay()`` into one table.
- ``curate``: the CDC-out consumer: document batches merged into a table,
  each followed by ``IncrementalCurator.sync()``.

``fanout`` and ``tail`` are the workloads of BENCHMARK.json; README.md says
why ``catchup`` and ``curate`` are not.
"""

from __future__ import annotations

import json
import os
import random
import threading
import time
import urllib.request
from contextlib import nullcontext

import duckdb
import numpy as np
import pyspark.sql.functions as F

from cdcbench import inputs, oracle
from sonic_etl_spark.operators.incremental import IncrementalCurator, curate_full
from sonic_etl_spark.operators.merge import KEY_COLS, ORDER_COLS, SOURCE_CODE_FIELDS
from sonic_etl_spark.sources.multitable import TransactionalTableSet
from sonic_etl_spark.sources.table import TransactionalParquetTable
from sonic_etl_spark.streaming.fanout import FANOUT_SPECS, replay_fanout
from sonic_etl_spark.streaming.monitor import ReplayMonitor
from sonic_etl_spark.streaming.replay import replay

LOG_PARTITIONS = inputs.N_PARTITIONS
# catch-up backlog per second of --seconds: a plan for the run length, not a
# measurement (the run takes as long as the engine needs)
CATCHUP_EVENTS_PER_RUN_SECOND = 600
CATCHUP_BATCHES = 2
TAIL_RATE = 300  # offered events/s, far below the measured capacity
# polls per second of --seconds, a plan for the run length as above; a fixed
# poll count keeps every run's mix of work the same
TAIL_POLLS_PER_RUN_SECOND = 0.25
# every poll after the first commit folds each bucket's two files into one,
# so every measured poll compacts and expires
TAIL_COMPACT_THRESHOLD = 1
TAIL_EXPIRE_KEEP = 4  # a lookup would have to outlive two polls to lose its files
# the arrival schedule starts one typical poll time before the first poll, so
# each poll, the first too, finds a typical batch waiting
TAIL_PRIME_S = 6.0
LOOKUP_PAUSE_S = 2.0
SCRAPE_PERIOD_S = 1.0
N_HOT_KEYS = 8
CURATE_DOCS_PER_SYNC = 200
CURATE_WORDS = 40


def span(tracer, layer: str, name: str):
    return tracer.span(layer, name) if tracer is not None else nullcontext()


class Ops:
    """Counts the operations a run attempts and the ones that fail:
    batches, lookups, syncs, monitor probes and correctness checks."""

    def __init__(self):
        self.attempted: dict[str, int] = {}
        self.failed: dict[str, int] = {}
        self.errors: list[str] = []
        self._lock = threading.Lock()

    def record(self, kind: str, ok: bool, err: str | None = None) -> None:
        with self._lock:
            self.attempted[kind] = self.attempted.get(kind, 0) + 1
            if not ok:
                self.failed[kind] = self.failed.get(kind, 0) + 1
                if err and len(self.errors) < 20:
                    self.errors.append(f"{kind}: {err}")

    def totals(self) -> tuple[int, int]:
        with self._lock:
            return sum(self.attempted.values()), sum(self.failed.values())


class StampMonitor(ReplayMonitor):
    """The loops call ``record_batch`` right after each merge returns:
    stamp that instant as the batch's commit time."""

    def __init__(self):
        super().__init__(port=0)
        self.stamps: list[tuple[float, int, str]] = []

    def record_batch(self, bm: dict) -> None:
        self.stamps.append((time.time(), int(bm.get("rows", 0)), bm.get("status")))
        super().record_batch(bm)


class Loop(threading.Thread):
    """A closed loop beside the writer: one operation outstanding, a fixed
    pause after each; each latency is timed from when the operation was
    due (previous completion + pause)."""

    def __init__(self, name, op, pause, ops: Ops, kind: str):
        super().__init__(name=name, daemon=True)
        self.op, self.pause, self.ops, self.kind = op, pause, ops, kind
        self.latencies: list[float] = []
        self.halt = threading.Event()

    def run(self):
        due, i = time.time(), 0
        while not self.halt.is_set():
            try:
                self.op(i)
                ok, err = True, None
            except Exception as e:  # a failed op is counted, the loop goes on
                ok, err = False, f"{type(e).__name__}: {e}"[:300]
            done = time.time()
            self.ops.record(self.kind, ok, err)
            if ok:
                self.latencies.append(done - due)
            i += 1
            due = done + self.pause
            self.halt.wait(self.pause)

    def stop(self):
        self.halt.set()
        self.join(timeout=120)
        if self.is_alive():
            raise RuntimeError(f"{self.name} did not stop")


class Workload:
    name = ""

    def __init__(self, spark, work: str, seed: int, seconds: int, ops: Ops):
        self.spark, self.work, self.seed, self.seconds, self.ops = spark, work, seed, seconds, ops
        self.log_dir = os.path.join(work, "log")
        self.log_glob = os.path.join(self.log_dir, "*.parquet")
        self.inputs: dict = {}

    # -- helpers shared by the replay workloads
    def _write_log(self, n_events: int) -> None:
        inputs.write_change_log(self.log_dir, self.seed, n_events)
        self.inputs["log_events"] = n_events

    def _hot_keys(self, first_events: int) -> list[tuple[str, str]]:
        """N_HOT_KEYS keys written early in the log, chosen by the seed."""
        con = duckdb.connect()
        try:
            keys = con.execute(
                f"SELECT DISTINCT repo, path FROM read_parquet('{self.log_glob}') "
                f"WHERE event_id < {first_events} ORDER BY repo, path"
            ).fetchall()
        finally:
            con.close()
        return random.Random(self.seed).sample(keys, min(N_HOT_KEYS, len(keys)))

    def _read_log(self):
        return self.spark.read.parquet(self.log_dir)

    def _check_winners(self, state_df, ranges, label: str) -> dict:
        state_dir = os.path.join(self.work, f"state_{label}")
        state_df.select(*oracle.WINNER_COLS).write.parquet(state_dir)
        bad, n = oracle.winner_mismatches(
            self.log_glob, ranges, os.path.join(state_dir, "*.parquet"))
        ok = bad == 0 and n > 0
        self.ops.record("check", ok, f"{label}: {bad} of {n} winners differ")
        return {"check": f"{label}_winners", "ok": ok, "mismatches": bad, "expected_rows": n}

    def _check_coverage(self, ranges, n_events: int) -> dict:
        """The committed ranges are exactly events [0, n_events) of the log,
        with ``n_events`` counted by the benchmark, not by the engine."""
        errors = oracle.coverage_errors(ranges, n_events, LOG_PARTITIONS)
        ok = not errors
        self.ops.record("check", ok, "; ".join(errors[:3]))
        return {"check": "committed_ranges", "ok": ok, "expected_events": n_events,
                "errors": errors[:10]}

    @staticmethod
    def _snapshot_gauges(path: str, latest: dict) -> dict:
        snap_dir = os.path.join(path, "_snapshots")
        tables = latest["tables"].values() if "tables" in latest else [latest]
        return {
            "files_per_bucket_max": max(
                (len(ent["files"]) for t in tables for ent in t["buckets"].values()),
                default=0),
            "snapshot_bytes": os.path.getsize(
                os.path.join(snap_dir, f"snap-{latest['snapshot_id']}.json")),
            "manifests": len(latest["manifests"]),
            "retained_snapshots": sum(
                1 for n in os.listdir(snap_dir) if n.startswith("snap-")),
        }


class Catchup(Workload):
    """Closed-loop replay of a pre-materialized backlog into one table. Set-up
    replays a first batch of the measured batches' shape, as the warm-up;
    the rest of the log is the measured backlog."""

    name = "catchup"
    loop_layer, loop_name = "replay", "replay"

    def _backlog(self) -> int:
        return CATCHUP_EVENTS_PER_RUN_SECOND * self.seconds

    def _chunk(self) -> int:
        per_partition = -(-self._backlog() // LOG_PARTITIONS)
        return -(-per_partition // CATCHUP_BATCHES)

    def _open_target(self, root: str):
        t = TransactionalParquetTable(self.spark, os.path.join(root, "table"))
        t.create(SOURCE_CODE_FIELDS, KEY_COLS, ORDER_COLS)
        return t

    @staticmethod
    def _replay(log, target, **kw):
        return replay(log, target, **kw)

    def _state(self):
        return self.target.read(include_tombstones=True)

    def prepare(self) -> None:
        self._write_log((CATCHUP_BATCHES + 1) * self._chunk() * LOG_PARTITIONS)
        self.inputs.update(backlog_events=self._backlog(), batches=CATCHUP_BATCHES,
                           chunk_per_partition=self._chunk())
        self.target = self._open_target(self.work)

    def warmup(self) -> None:
        """The log's first batch, so the measured batches do not pay JIT
        and codegen warm-up."""
        self._replay(self._read_log(), self.target, chunk_size=self._chunk(), max_batches=1)

    def measure(self, tracer) -> dict:
        mon = StampMonitor()
        log = self._read_log()
        t0 = time.time()
        with span(tracer, self.loop_layer, self.loop_name):
            res = self._replay(log, self.target, chunk_size=self._chunk(), monitor=mon)
        t1 = time.time()
        for _t, _rows, status in mon.stamps:
            self.ops.record("batch", status == "committed", f"batch status {status}")
        # every event of the backlog is there at t0: its freshness is its
        # batch's commit time minus t0
        fresh = np.repeat(np.array([t - t0 for t, _r, _s in mon.stamps]),
                          np.array([rows for _t, rows, _s in mon.stamps], dtype=int))
        return {
            "events": res.rows_seen,
            "wall_s": t1 - t0,
            "freshness_s": fresh,
            "batch_s": np.diff([t0] + [t for t, _r, _s in mon.stamps]),
            "lookup_s": [],
            "batches": len(mon.stamps),
        }

    def check(self) -> list[dict]:
        ranges = self.target.committed_ranges()
        return [
            self._check_coverage(ranges, self.inputs["log_events"]),
            self._check_winners(self._state(), ranges, "source_code"),
        ]

    def gauges(self) -> dict:
        return self._snapshot_gauges(self.target.path, self.target.latest())


class Fanout(Catchup):
    """Catchup's input and batch shape through the three-table fan-out."""

    name = "fanout"
    loop_layer, loop_name = "fanout", "replay_fanout"

    def _open_target(self, root: str):
        t = TransactionalTableSet(self.spark, os.path.join(root, "tableset"))
        t.create(FANOUT_SPECS)
        return t

    @staticmethod
    def _replay(log, target, **kw):
        return replay_fanout(log, target, **kw)

    def _state(self):
        return self.target.read("source_code", include_tombstones=True)

    def check(self) -> list[dict]:
        out = super().check()
        want = oracle.expected_fanout_counts(self.log_glob, self.target.committed_ranges())
        got = {name: self.target.read(name).count() for name in want}
        ok = got == want
        self.ops.record("check", ok, f"table counts {got} != {want}")
        out.append({"check": "fanout_counts", "ok": ok, "got": got, "expected": want})
        return out


class Tail(Catchup):
    """Open-loop head following. Set-up replays the log's first two
    nominal polls into the table (the second compacts and expires), which
    is the warm-up. Then event ``e`` of the rest arrives at ``t0 + (e -
    primed) / rate``; each poll reveals the log up to the arrival head and replays
    it, with compaction and expiry on and a monitor scraped, while one
    lookup reader shares the table. The run makes a fixed number of polls,
    back to back."""

    name = "tail"

    def _polls(self) -> int:
        return max(round(TAIL_POLLS_PER_RUN_SECOND * self.seconds), 2)

    def _primed(self) -> int:
        return int(2 * TAIL_PRIME_S * TAIL_RATE)

    def _replay_to(self, log, head: int, monitor=None):
        return self._replay(
            log.where(F.col("event_id") < head), self.target,
            chunk_size=self.inputs["log_events"], monitor=monitor,
            compact_threshold=TAIL_COMPACT_THRESHOLD, expire_keep=TAIL_EXPIRE_KEEP,
        )

    def prepare(self) -> None:
        # enough for the polls even if they took 10 s each
        self._write_log(self._primed() + int(TAIL_RATE * (TAIL_PRIME_S + 10 * self._polls())))
        self.inputs.update(offered_rate_eps=TAIL_RATE, polls=self._polls(),
                           primed_events=self._primed(),
                           compact_threshold=TAIL_COMPACT_THRESHOLD,
                           expire_keep=TAIL_EXPIRE_KEEP, lookup_pause_s=LOOKUP_PAUSE_S)
        self.target = self._open_target(self.work)
        self.keys = self._hot_keys(self._primed() // 2)

    def warmup(self) -> None:
        log = self._read_log()
        self._replay_to(log, self._primed() // 2)
        self._replay_to(log, self._primed())
        self.target.lookup(repo=self.keys[0][0], path=self.keys[0][1]).collect()
        mon = StampMonitor().start()
        try:
            self._scrape(None, mon.port, 0)
            self._scrape(None, mon.port, 1)
        finally:
            mon.stop()

    def measure(self, tracer) -> dict:
        mon = StampMonitor().start()
        keys = self.keys
        reader = Loop("lookup-reader",
                      lambda i: self._traced_lookup(tracer, keys[i % len(keys)]),
                      LOOKUP_PAUSE_S, self.ops, "lookup")
        scraper = Loop("monitor-scraper", lambda i: self._scrape(tracer, mon.port, i),
                       SCRAPE_PERIOD_S, self.ops, "probe")
        log = self._read_log()
        rate, first, n_events = TAIL_RATE, self._primed(), self.inputs["log_events"]
        polls = []  # (first event, end event, poll start, poll end)
        done_e = first
        reader.start()
        scraper.start()
        try:
            t0 = time.time() - TAIL_PRIME_S  # event e arrives at t0 + (e - first) / rate
            start = time.time()
            while len(polls) < self._polls():
                head = min(n_events, first + int(rate * (time.time() - t0)))
                if head <= done_e:
                    if done_e == n_events:
                        break  # polls took over 10 s each and used up the log
                    time.sleep(0.01)
                    continue
                ps = time.time()
                with span(tracer, self.loop_layer, self.loop_name):
                    self._replay_to(log, head, monitor=mon)
                polls.append((done_e, head, ps, time.time()))
                done_e = head
            t1 = time.time()
        finally:
            reader.stop()
            scraper.stop()
            mon.stop()
        if len(mon.stamps) != len(polls):
            raise RuntimeError(f"{len(polls)} polls made {len(mon.stamps)} batches")
        fresh = []
        for (lo, hi, _ps, _pe), (commit, _rows, status) in zip(polls, mon.stamps):
            self.ops.record("batch", status == "committed", f"batch status {status}")
            fresh.append(commit - (t0 + (np.arange(lo, hi) - first) / rate))
        self.events_committed = done_e
        return {
            "events": done_e - first,
            "wall_s": t1 - start,
            "freshness_s": np.concatenate(fresh) if fresh else np.array([]),
            "batch_s": [pe - ps for _lo, _hi, ps, pe in polls],
            "lookup_s": reader.latencies,
            "batches": len(polls),
        }

    def _traced_lookup(self, tracer, key):
        with span(tracer, "reader", "lookup") as s:
            df = self.target.lookup(repo=key[0], path=key[1])
            df.collect()
        if tracer is not None:
            s.attrs["files_read"] = len(df.inputFiles())

    def _scrape(self, tracer, port: int, i: int) -> None:
        route = "/healthz" if i % 2 == 0 else "/metrics"
        with span(tracer, "monitor", "scrape"):
            with urllib.request.urlopen(f"http://127.0.0.1:{port}{route}", timeout=10) as r:
                json.loads(r.read())

    def check(self) -> list[dict]:
        ranges = self.target.committed_ranges()
        return [
            self._check_coverage(ranges, self.events_committed),
            self._check_winners(self._state(), ranges, "source_code"),
        ]


# ------------------------------------------------------------------ curate
def doc_frame(spark, seed: int, lo: int, n: int):
    """``n`` documents with ids and offsets in [lo, lo + n): CURATE_WORDS
    seeded tokens each; about 3% exact copies and 3% near copies (one extra
    token) of a document 17 ids earlier, and about 3% too short to pass the
    quality gate."""
    base = spark.range(lo, lo + n).select(
        F.col("id").alias("doc_id"), F.col("id").alias("last_offset"))

    def words(src):
        return F.concat_ws(" ", *[
            F.concat(F.lit(f"w{j}t"), F.pmod(F.xxhash64(F.lit(seed), F.lit(j), src),
                                              F.lit(1000)).cast("string"))
            for j in range(CURATE_WORDS)
        ])

    roll = F.pmod(F.xxhash64(F.lit(seed), F.lit("roll"), F.col("doc_id")), F.lit(100))
    src = F.col("doc_id") - 17
    text = (
        F.when((roll < 3) & (F.col("doc_id") >= 17), words(src))
        .when((roll < 6) & (F.col("doc_id") >= 17), F.concat_ws(" ", words(src), F.lit("tail")))
        .when(roll < 9, F.lit("too short"))
        .otherwise(words(F.col("doc_id")))
    )
    return base.select("doc_id", text.alias("text"), "last_offset")


class Curate(Workload):
    """Closed loop: merge a fixed-size document batch into the documents
    table, then ``IncrementalCurator.sync()`` it. The first batch and sync
    are the warm-up. The traced ``fanout`` pass runs one measured step of it
    (``max_steps=1``) after its own loop."""

    name = "curate"

    def __init__(self, *args, max_steps: int | None = None, **kw):
        super().__init__(*args, **kw)
        self.max_steps = max_steps

    def _step(self, k: int, tracer=None):
        n = CURATE_DOCS_PER_SYNC
        lo = k * n
        with span(tracer, "curate", "merge_docs"):
            self.docs.merge(doc_frame(self.spark, self.seed, lo, n), [(0, lo, lo + n - 1)])
        merged = time.time()
        res = self.curator.sync(self.docs)
        return merged, time.time(), res

    def prepare(self) -> None:
        root = os.path.join(self.work, "curate")
        self.docs = TransactionalParquetTable(self.spark, os.path.join(root, "docs"))
        self.docs.create([("doc_id", "bigint"), ("text", "string"), ("last_offset", "bigint")],
                         key_cols=["doc_id"], order_cols=["last_offset"])
        self.curator = IncrementalCurator(self.spark, os.path.join(root, "curator")).create()
        self.inputs.update(docs_per_sync=CURATE_DOCS_PER_SYNC, words_per_doc=CURATE_WORDS)

    def warmup(self) -> None:
        self._step(0)
        self.steps = 1

    def measure(self, tracer) -> dict:
        t0 = time.time()
        deadline = t0 + self.seconds
        syncs, first = [], self.steps
        while self.steps == first or (
                time.time() < deadline
                and (self.max_steps is None or self.steps - first < self.max_steps)):
            if tracer is not None:
                tracer.batch += 1
            with span(tracer, "curate", "step"):
                merged, synced, res = self._step(self.steps, tracer)
            ok = res.get("status") == "committed"
            self.ops.record("sync", ok, f"sync status {res.get('status')}")
            syncs.append(synced - merged)
            self.steps += 1
        t1 = time.time()
        n = len(syncs) * CURATE_DOCS_PER_SYNC
        return {
            "events": n,
            "wall_s": t1 - t0,
            "freshness_s": np.repeat(syncs, CURATE_DOCS_PER_SYNC),
            "batch_s": syncs,
            "lookup_s": [],
            "batches": len(syncs),
        }

    def check(self) -> list[dict]:
        want_dir = os.path.join(self.work, "verdicts_full")
        got_dir = os.path.join(self.work, "verdicts_incr")
        src = self.docs.read().select("doc_id", "text", F.col("last_offset").alias("off"))
        curate_full(src).write.parquet(want_dir)
        self.curator.verdicts.read().select("doc_id", "off", "kept", "reason").write.parquet(got_dir)
        bad, n = oracle.verdict_mismatches(
            os.path.join(got_dir, "*.parquet"), os.path.join(want_dir, "*.parquet"))
        want_n = self.steps * CURATE_DOCS_PER_SYNC
        ok = bad == 0 and n == want_n
        self.ops.record("check", ok, f"{bad} of {n} verdicts differ from curate_full "
                                     f"({want_n} documents)")
        return [{"check": "verdicts_vs_curate_full", "ok": ok, "mismatches": bad,
                 "expected_rows": n}]

    def gauges(self) -> dict:
        per = [self._snapshot_gauges(t.path, t.latest()) for t in (
            self.curator.hash_minima, self.curator.bucket_minima, self.curator.verdicts)]
        return {
            "files_per_bucket_max": max(g["files_per_bucket_max"] for g in per),
            "snapshot_bytes": sum(g["snapshot_bytes"] for g in per),
            "manifests": sum(g["manifests"] for g in per),
            "retained_snapshots": sum(g["retained_snapshots"] for g in per),
        }


WORKLOADS = {w.name: w for w in (Fanout, Tail, Catchup, Curate)}
