"""Metric definitions and the per-layer metrics derived from a traced pass.

A "batch" is one committed apply step of the measured loop: a replay or
fan-out batch (one per poll on ``tail``) or one curator sync. Per-layer
times are totals over the measured region divided by the batch count, so
runs with different batch counts compare.
"""

from __future__ import annotations

from cdcbench.trace import (
    Span,
    batch_coverage,
    descendants,
    jobs_under,
    self_times,
    stage_kind,
    union_length,
)

# name, unit, better, regression bound (share of the parent's median): the
# metrics of BENCHMARK.json, emitted by every workload. Lookup latency is
# printed with these but listed per layer (table.lookup_s_p50): only ``tail``
# runs the lookup reader, and every workload must emit every gated metric.
# Every bound is the largest allowed: on a shared 4-core host a run-to-run
# spread of 0.03-0.13 is usual and CPU steal from other tenants widens it
# (README.md).
END_TO_END = [
    ("setup_s", "s", "lower", 0.25),
    ("events_per_sec", "1/s", "higher", 0.25),
    ("freshness_s_p50", "s", "lower", 0.25),
    ("freshness_s_p90", "s", "lower", 0.25),
    ("batch_s_p50", "s", "lower", 0.25),
]

# name, unit, better
PER_LAYER = [
    ("planner.log_heads_s", "s", "lower"),
    ("codec.decode_build_s", "s", "lower"),
    ("merge.reduce_build_s", "s", "lower"),
    ("merge.apply_s", "s", "lower"),
    ("merge.job.scan_decode_s", "s", "lower"),
    ("merge.job.reduce_s", "s", "lower"),
    ("merge.job.write_s", "s", "lower"),
    ("merge.job.overhead_s", "s", "lower"),
    ("merge.job.tasks", "count", "lower"),
    ("merge.job.stages", "count", "lower"),
    ("merge.commit_s", "s", "lower"),
    ("merge.shuffle_bytes", "bytes", "lower"),
    ("merge.files_written", "count", "lower"),
    ("merge.records_in", "count", "lower"),
    ("merge.records_written", "count", "lower"),
    ("merge.written_per_in", "ratio", "lower"),
    ("merge.spill_bytes", "bytes", "lower"),
    ("table.compact_s", "s", "lower"),
    ("table.expire_s", "s", "lower"),
    ("table.lookup_s_p50", "s", "lower"),
    ("table.lookup_files_read", "count", "lower"),
    ("table.files_per_bucket_max", "count", "lower"),
    ("table.snapshot_bytes", "bytes", "lower"),
    ("table.manifests", "count", "lower"),
    ("table.retained_snapshots", "count", "lower"),
    ("tableset.merge_all_s", "s", "lower"),
    ("replay.self_s", "s", "lower"),
    ("monitor.record_batch_s", "s", "lower"),
    ("spark.jobs_per_batch", "count", "lower"),
    ("spark.tasks_per_batch", "count", "lower"),
    ("jvm.gc_s", "s", "lower"),
    ("jvm.task_s", "s", "lower"),
    ("jvm.gc_frac", "ratio", "lower"),
    ("jvm.peak_rss_mb", "MB", "lower"),
    ("trace.batch_coverage_min", "ratio", "higher"),
]

# the curate pass: the traced ``fanout`` run and the ``curate`` workload
CURATE_LAYER = [
    ("curate.sync_s", "s", "lower"),
    ("curate.read_changes_s", "s", "lower"),
    ("curate.read_for_keys_s", "s", "lower"),
    ("curate.merge_s", "s", "lower"),
    ("curate.apply_self_s", "s", "lower"),
    ("curate.jobs_per_sync", "count", "lower"),
    ("curate.tasks_per_sync", "count", "lower"),
    ("curate.state_files_max", "count", "lower"),
]

# every traced run reports all of these; a layer the run does not drive reads 0
ALL_LAYER = PER_LAYER + CURATE_LAYER

LOOP_SPANS = {("replay", "replay"), ("fanout", "replay_fanout")}


def _pick(spans, layer, name, within: set[int] | None = None) -> list[Span]:
    return [s for s in spans if s.layer == layer and s.name == name
            and (within is None or s.id in within)]


def _job_split(merge_spans: list[Span], jobs: dict, stages: dict, nproc: int) -> dict:
    """Split the Spark work under the batch-apply spans by stage kind."""
    js = jobs_under({s.id for s in merge_spans}, jobs)
    out = {"scan_decode": 0.0, "reduce": 0.0, "write": 0.0, "tasks": 0, "stages": 0,
           "busy": 0.0, "job_wall": 0.0, "shuffle": 0, "spill": 0, "rec_in": 0,
           "rec_out": 0}
    for j in js:
        out["job_wall"] += j["end"] - j["submit"]
        for sid in j["stages"]:
            st = stages[sid]
            kind = stage_kind(st)
            out[kind] += st["end"] - st["submit"]
            out["tasks"] += st["tasks"]
            out["stages"] += 1
            out["busy"] += st["run_s"]
            out["shuffle"] += st["shuffle_write"]
            out["spill"] += st["spill"]
            if kind == "scan_decode":
                out["rec_in"] += st["in_records"]
            if kind == "write":
                out["rec_out"] += st["out_records"]
    commit = 0.0
    for s in merge_spans:
        mine = [(j["submit"], j["end"]) for j in js if j["span"] == s.id]
        commit += s.dur - union_length(mine, s.start, s.end)
    out["commit"] = commit
    out["overhead"] = out["job_wall"] - out["busy"] / nproc
    return out


def per_layer_metrics(spans: list[Span], jobs: dict, stages: dict, nproc: int,
                      gauges: dict, rss_mb: float, lookup_s_p50: float) -> dict[str, float]:
    loops = [s for s in spans if (s.layer, s.name) in LOOP_SPANS]
    inside = descendants(spans, loops)
    merges = [s for s in _pick(spans, "table", "merge", inside)
              + _pick(spans, "tableset", "merge_all", inside)
              if s.attrs.get("status") == "committed"]
    n = max(len(merges), 1)

    def total(layer, name):
        return sum(s.dur for s in _pick(spans, layer, name, inside))

    split = _job_split(merges, jobs, stages, nproc)
    loop_jobs = jobs_under(inside, jobs)
    loop_stages = [stages[sid] for j in loop_jobs for sid in j["stages"]]
    gc = sum(st["gc_s"] for st in loop_stages)
    busy = sum(st["run_s"] for st in loop_stages)
    selfs = self_times(spans)
    lookups = _pick(spans, "reader", "lookup")
    records = _pick(spans, "monitor", "record_batch")
    coverage = [c for lp in loops for c in batch_coverage(spans, lp)]
    return {
        "planner.log_heads_s": total("planner", "log_heads") / n,
        "codec.decode_build_s": total("codec", "decode_change_events") / n,
        "merge.reduce_build_s": total("merge", "reduce_batch") / n,
        "merge.apply_s": sum(s.dur for s in merges) / n,
        "merge.job.scan_decode_s": split["scan_decode"] / n,
        "merge.job.reduce_s": split["reduce"] / n,
        "merge.job.write_s": split["write"] / n,
        "merge.job.overhead_s": split["overhead"] / n,
        "merge.job.tasks": split["tasks"] / n,
        "merge.job.stages": split["stages"] / n,
        "merge.commit_s": split["commit"] / n,
        "merge.shuffle_bytes": split["shuffle"] / n,
        "merge.files_written": sum(s.attrs.get("files_written", 0) for s in merges) / n,
        "merge.records_in": split["rec_in"] / n,
        "merge.records_written": split["rec_out"] / n,
        "merge.written_per_in": split["rec_out"] / split["rec_in"] if split["rec_in"] else 0.0,
        "merge.spill_bytes": split["spill"] / n,
        "table.compact_s": (total("table", "compact") + total("tableset", "compact")) / n,
        "table.expire_s": (total("table", "expire_snapshots")
                           + total("tableset", "expire_snapshots")) / n,
        "table.lookup_s_p50": lookup_s_p50,
        "table.lookup_files_read": (
            sum(s.attrs.get("files_read", 0) for s in lookups) / len(lookups)
            if lookups else 0.0),
        "table.files_per_bucket_max": gauges.get("files_per_bucket_max", 0),
        "table.snapshot_bytes": gauges.get("snapshot_bytes", 0),
        "table.manifests": gauges.get("manifests", 0),
        "table.retained_snapshots": gauges.get("retained_snapshots", 0),
        "tableset.merge_all_s": total("tableset", "merge_all") / n,
        "replay.self_s": sum(selfs[s.id] for s in loops) / n,
        "monitor.record_batch_s": (
            sum(s.dur for s in records) / len(records) if records else 0.0),
        "spark.jobs_per_batch": len(loop_jobs) / n,
        "spark.tasks_per_batch": sum(st["tasks"] for st in loop_stages) / n,
        "jvm.gc_s": gc / n,
        "jvm.task_s": busy / n,
        "jvm.gc_frac": gc / busy if busy else 0.0,
        "jvm.peak_rss_mb": rss_mb,
        "trace.batch_coverage_min": min(coverage) if coverage else 0.0,
    }


def curate_metrics(spans: list[Span], jobs: dict, stages: dict, gauges: dict) -> dict:
    """Per sync of the measured curate steps (zeros when there were none)."""
    under = descendants(spans, _pick(spans, "curate", "step"))
    syncs = _pick(spans, "curate", "sync", under)
    n = max(len(syncs), 1)
    in_sync = descendants(spans, syncs)
    applies = _pick(spans, "curate", "apply", in_sync)
    in_apply = descendants(spans, applies)
    selfs = self_times(spans)
    sync_jobs = jobs_under(in_sync, jobs)
    return {
        "curate.sync_s": sum(s.dur for s in syncs) / n,
        "curate.read_changes_s": sum(
            s.dur for s in _pick(spans, "table", "read_changes", in_sync)) / n,
        "curate.read_for_keys_s": sum(
            s.dur for s in _pick(spans, "table", "read_for_keys", in_sync)) / n,
        "curate.merge_s": sum(s.dur for s in _pick(spans, "table", "merge", in_apply)) / n,
        "curate.apply_self_s": sum(selfs[s.id] for s in applies) / n,
        "curate.jobs_per_sync": len(sync_jobs) / n,
        "curate.tasks_per_sync": sum(
            stages[sid]["tasks"] for j in sync_jobs for sid in j["stages"]) / n,
        "curate.state_files_max": gauges.get("files_per_bucket_max", 0) if syncs else 0,
    }


def layer_self_per_batch(spans: list[Span], n_batches: int) -> dict[str, float]:
    """Self time per batch of every layer. Spans of the writer (the main
    thread) are keyed by layer; spans of the threads beside it (lookup
    reader, monitor scraper) by ``beside/<layer>``, since their time
    overlaps the writer's; spans of the curate pass by ``curate/<layer>``,
    per curate step."""
    selfs = self_times(spans)
    steps = _pick(spans, "curate", "step")
    in_curate = descendants(spans, steps)
    main = next((s.thread for s in spans if s.batch is not None), None)
    out: dict[str, float] = {}
    for s in spans:
        if s.id in in_curate:
            key = f"curate/{s.layer}"
        else:
            key = s.layer if s.thread == main else f"beside/{s.layer}"
        out[key] = out.get(key, 0.0) + selfs[s.id]
    return {k: v / max(len(steps) if k.startswith("curate/") else n_batches, 1)
            for k, v in sorted(out.items())}
