"""Tests of the CDC benchmark itself.

    python -m pytest cdcbench/tests -q

The span and oracle tests need no Spark session. The smoke tests run every
workload end to end with a short ``--seconds``, each in its own process
(about a minute each; the traced ``fanout`` and ``curate`` about two).
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import duckdb
import pytest

from cdcbench import layers, oracle
from cdcbench.trace import Span, batch_coverage, self_times, union_length

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
RUN = os.path.join(ROOT, "cdcbench", "run.py")


def _span(i, parent, start, end, name="x", layer="l", batch=None):
    return Span(id=i, parent=parent, layer=layer, name=name, thread=1, batch=batch,
                start=start, end=end)


# ------------------------------------------------------------------ spans
def test_union_length_merges_overlaps_and_clips():
    assert union_length([(0, 2), (1, 3), (5, 6)], 0, 10) == 4
    assert union_length([(0, 2), (1, 3), (5, 6)], 1.5, 5.5) == 2.0
    assert union_length([], 0, 1) == 0


def test_self_times_of_a_span_tree_add_up_to_the_root():
    spans = [
        _span(1, None, 0.0, 10.0),
        _span(2, 1, 1.0, 4.0),
        _span(3, 2, 1.5, 2.0),
        _span(4, 2, 2.5, 3.5),
        _span(5, 1, 5.0, 9.0),
        _span(6, 5, 6.0, 8.0),
    ]
    st = self_times(spans)
    assert st == pytest.approx({1: 3.0, 2: 1.5, 3: 0.5, 4: 1.0, 5: 2.0, 6: 2.0})
    assert sum(st.values()) == pytest.approx(spans[0].dur)
    assert all(v >= 0 for v in st.values())


def test_batch_coverage_counts_loop_code_between_calls_as_uncovered():
    loop = _span(1, None, 0.0, 10.0, name="replay", layer="replay")
    spans = [
        loop,
        _span(2, 1, 0.0, 0.5, name="log_heads"),
        _span(3, 1, 1.0, 2.0, name="filter_to_manifests", batch=1),
        _span(4, 1, 2.0, 5.0, name="merge", batch=1),
        _span(5, 1, 6.0, 7.0, name="filter_to_manifests", batch=2),
        _span(6, 1, 7.0, 9.0, name="merge", batch=2),
    ]
    # batch 1 runs 1.0 → 6.0 with 4.0 covered; batch 2 runs 6.0 → 10.0 with 3.0
    assert batch_coverage(spans, loop) == pytest.approx([0.8, 0.75])


# ----------------------------------------------------------------- oracle
def _write_log(tmp, rows):
    con = duckdb.connect()
    path = os.path.join(tmp, "log.parquet")
    con.execute(
        "CREATE TABLE ev(event_id BIGINT, partition_id INT, \"offset\" BIGINT, repo VARCHAR, "
        "path VARCHAR, \"commit\" VARCHAR, op VARCHAR)")
    con.executemany("INSERT INTO ev VALUES (?, ?, ?, ?, ?, ?, ?)", rows)
    con.execute(f"COPY ev TO '{path}' (FORMAT parquet)")
    con.close()
    return path


def _write_state(tmp, name, rows):
    con = duckdb.connect()
    path = os.path.join(tmp, f"{name}.parquet")
    con.execute(
        "CREATE TABLE st(repo VARCHAR, path VARCHAR, last_offset BIGINT, "
        "last_partition_id INT, \"commit\" VARCHAR, op VARCHAR)")
    con.executemany("INSERT INTO st VALUES (?, ?, ?, ?, ?, ?)", rows)
    con.execute(f"COPY st TO '{path}' (FORMAT parquet)")
    con.close()
    return path


LOG = [
    (0, 0, 0, "r1", "a", "c0", "upsert"),
    (1, 1, 0, "r1", "a", "c1", "upsert"),  # same offset, higher partition wins
    (2, 0, 1, "r1", "b", "c2", "upsert"),
    (3, 1, 1, "r1", "b", "c3", "delete"),  # a winning tombstone stays in state
    (4, 0, 2, "r1", "a", "c4", "upsert"),  # outside the committed ranges
]
RANGES = [(0, 0, 1), (1, 0, 1)]
GOOD = [("r1", "a", 0, 1, "c1", "upsert"), ("r1", "b", 1, 1, "c3", "delete")]


def test_oracle_accepts_the_true_winners(tmp_path):
    log = _write_log(str(tmp_path), LOG)
    state = _write_state(str(tmp_path), "good", GOOD)
    assert oracle.winner_mismatches(log, RANGES, state) == (0, 2)


@pytest.mark.parametrize("bad", [
    [("r1", "a", 0, 0, "c0", "upsert"), GOOD[1]],  # a losing writer
    [("r1", "a", 2, 0, "c4", "upsert"), GOOD[1]],  # an uncommitted writer
    [GOOD[0]],  # a key missing
    [GOOD[0], ("r1", "b", 1, 1, "c3", "upsert")],  # the tombstone lost
])
def test_oracle_rejects_an_injected_wrong_winner(tmp_path, bad):
    log = _write_log(str(tmp_path), LOG)
    state = _write_state(str(tmp_path), "bad", bad)
    mismatches, expected = oracle.winner_mismatches(log, RANGES, state)
    assert expected == 2 and mismatches > 0


def _cover(n_events, n_partitions=8):
    return [(p, 0, (n_events - p + n_partitions - 1) // n_partitions - 1)
            for p in range(n_partitions) if p < n_events]


def test_coverage_accepts_exactly_the_log_prefix():
    assert oracle.coverage_errors(_cover(20), 20, 8) == []
    split = [(0, 0, 0), (0, 1, 2)] + _cover(20)[1:]
    assert oracle.coverage_errors(split, 20, 8) == []
    assert oracle.coverage_errors(_cover(3), 3, 8) == []


@pytest.mark.parametrize("ranges", [
    _cover(20)[:-1],  # a partition left out
    [(0, 0, 1)] + _cover(20)[1:],  # a partition cut short
    _cover(16),  # the whole set truncated to a shorter log
    [(0, 0, 1), (0, 1, 2)] + _cover(20)[1:],  # an offset committed twice
    [(0, 0, 0), (0, 2, 2)] + _cover(20)[1:],  # a gap
    _cover(20) + [(8, 0, 0)],  # a partition the log does not have
])
def test_coverage_rejects_a_truncated_or_broken_range_set(ranges):
    assert oracle.coverage_errors(ranges, 20, 8)


def test_fanout_counts_from_the_log(tmp_path):
    log = _write_log(str(tmp_path), LOG)
    assert oracle.expected_fanout_counts(log, RANGES) == {
        "source_code": 1, "file_versions": 3, "quarantine": 0}


# ------------------------------------------------------ benchmark contract
def test_benchmark_json_matches_the_metric_definitions():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    assert [(m["name"], m["unit"], m["better"], m["bound"]) for m in bench["end_to_end"]] \
        == [tuple(m) for m in layers.END_TO_END]
    assert [(m["name"], m["unit"], m["better"]) for m in bench["per_layer"]] \
        == layers.ALL_LAYER
    assert [w["name"] for w in bench["workloads"]] == ["fanout", "tail"]


def test_refuses_to_run_without_the_engine(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(os.path.join(ROOT, "cdcbench"), tmp_path / "cdcbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    out = subprocess.run(
        [sys.executable, "cdcbench/run.py", "--workload", "tail", "--seed", "1",
         "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=180)
    assert out.returncode != 0
    assert '"correct"' not in out.stdout


# ------------------------------------------------------------------ smoke
def _run(workload, trace, seconds=2):
    out = subprocess.run(
        [sys.executable, RUN, "--workload", workload, "--seed", "7", "--seconds",
         str(seconds), "--trace", str(trace)],
        cwd=ROOT, capture_output=True, text=True, timeout=900)
    assert out.returncode == 0, out.stdout[-3000:] + out.stderr[-3000:]
    last = json.loads(out.stdout.strip().splitlines()[-1])
    assert set(last) == {"correct", "attempted", "failed", "metrics"}
    assert last["correct"] is True and last["failed"] == 0 and last["attempted"] >= 1
    with open(os.path.join(ROOT, ".cdcbench", "results",
                           f"{workload}-seed7-trace{trace}.json")) as f:
        return last, json.load(f)


@pytest.mark.parametrize("workload", ["fanout", "tail"])
def test_smoke_replay_workloads_traced(workload):
    last, res = _run(workload, trace=1)
    assert set(last["metrics"]) == {name for name, *_ in layers.ALL_LAYER}
    spans = [Span(**s) for s in res["spans"]]
    layers_seen = {s.layer for s in spans}
    assert {"planner", "codec", "merge", "monitor"} <= layers_seen
    if workload == "fanout":
        # the fan-out loop, and the curate pass after it
        assert {"fanout", "tableset", "curate"} <= layers_seen
        for name in ("tableset.merge_all_s", "curate.sync_s", "curate.read_changes_s",
                     "curate.merge_s", "curate.jobs_per_sync"):
            assert last["metrics"][name]["value"] > 0, name
        assert "verdicts_vs_curate_full" in {c["check"] for c in res["checks"]}
    else:
        assert {"replay", "table", "reader"} <= layers_seen
        for name in ("table.compact_s", "table.lookup_s_p50", "table.lookup_files_read"):
            assert last["metrics"][name]["value"] > 0, name
    # every Spark job submitted while the measured loop ran is attributed
    loops = [s for s in spans if (s.layer, s.name) in layers.LOOP_SPANS]
    loop_ids = {s.id for s in loops}
    during = [j for j in res["jobs"].values()
              if any(lp.start <= j["submit"] <= lp.end for lp in loops)]
    assert loops and during and all(j["span"] is not None for j in during)
    # self times of each loop's span tree add up to the loop's wall time
    st = self_times(spans)
    kids: dict = {}
    for s in spans:
        kids.setdefault(s.parent, []).append(s)

    def tree(i):
        return [i] + [d for c in kids.get(i, []) for d in tree(c.id)]

    for lid in loop_ids:
        loop = next(s for s in spans if s.id == lid)
        assert sum(st[i] for i in tree(lid)) == pytest.approx(loop.dur, rel=1e-6)
    assert last["metrics"]["trace.batch_coverage_min"]["value"] >= 0.9


@pytest.mark.parametrize("workload", ["fanout", "tail", "catchup"])
def test_smoke_replay_workloads_untraced(workload):
    last, res = _run(workload, trace=0)
    assert set(last["metrics"]) == {name for name, *_ in layers.END_TO_END}
    assert all(m["value"] > 0 for m in last["metrics"].values())
    assert res["provenance"]["nproc"] >= 1 and res["provenance"]["seed"] == 7
    assert {c["check"] for c in res["checks"]} >= {"committed_ranges", "source_code_winners"}


def test_smoke_curate():
    last, res = _run("curate", trace=1, seconds=1)
    assert last["metrics"]["curate.sync_s"]["value"] > 0
    assert last["metrics"]["tableset.merge_all_s"]["value"] == 0
    assert res["checks"][0]["check"] == "verdicts_vs_curate_full"
