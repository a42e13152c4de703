"""CDC benchmark runner.

    python3 cdcbench/run.py --workload fanout --seed 1 --seconds 12 --trace 0

Runs one workload in this process with a fresh ``get_spark`` session on
``local[<nproc>]`` and the package defaults, from the root of a checkout of
the repository (the engine is imported from there). ``--trace 0`` is the
untraced pass, whose last output line carries the end-to-end metrics;
``--trace 1`` is the traced pass, whose last line carries the per-layer
metrics. Every other line is for people: each metric with its unit, sample
count and quartiles, the correctness checks and (traced) each layer's self
time per batch. ``--workload all`` runs every workload, each in its own
process. The exit code is 0 only if every correctness check passed.

Everything the run writes stays under ``.cdcbench/`` in the checkout: a
work directory (deleted at the end) and ``.cdcbench/results/``, one JSON
file per run with provenance, inputs, metrics, checks and (traced) the spans
and Spark job attribution, which ``cdcbench/report.py`` summarizes.
"""

from __future__ import annotations

import argparse
import contextlib
import importlib.util
import json
import os
import platform
import shutil
import subprocess
import sys
import time
import traceback

import numpy as np

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
BENCH_DIR = os.path.join(ROOT, ".cdcbench")
RESULTS_DIR = os.path.join(BENCH_DIR, "results")
WORKLOAD_NAMES = ["fanout", "tail", "catchup", "curate"]


def parse_args(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOAD_NAMES + ["all"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    return ap.parse_args(argv)


def git_commit() -> str | None:
    try:
        out = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
                             text=True, timeout=10)
    except (OSError, subprocess.TimeoutExpired):
        return None
    return out.stdout.strip() if out.returncode == 0 else None


def start_session(name: str, work: str, nproc: int, trace: bool):
    """A fresh session; Spark's scratch space and the event log stay in
    the work directory."""
    from sonic_etl_spark.session import get_spark

    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["TMPDIR"] = tmp
    # every JVM the launch starts: temp files in the work directory, and no
    # /tmp/hsperfdata_<user> performance-counter file
    os.environ["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"
    conf = {}
    if trace:
        events = os.path.join(work, "eventlog")
        os.makedirs(events)
        conf.update({"spark.eventLog.enabled": "true", "spark.eventLog.dir": f"file://{events}",
                     # one plain JSON-lines file, which trace.load_event_log reads
                     "spark.eventLog.compress": "false",
                     "spark.eventLog.rolling.enabled": "false"})
    spark = get_spark(app_name=f"cdcbench-{name}", master=f"local[{nproc}]", extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def cpu_jiffies() -> list[int]:
    """The aggregate ``cpu`` line of /proc/stat: user nice system idle
    iowait irq softirq steal ..."""
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:]]


def jvm_peak_rss_mb() -> float:
    from pyspark import SparkContext

    with open(f"/proc/{SparkContext._gateway.proc.pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError("VmHWM missing from the JVM's /proc status")


def stop_session(spark) -> None:
    """Stop the session and the JVM behind it, and wait for the JVM to end
    (it exits when its stdin closes; its Python workers exit with it)."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    try:
        spark.stop()
    finally:
        proc = getattr(gw, "proc", None)
        if proc is not None:
            proc.stdin.close()
            try:
                proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait(timeout=30)


def percentile(values, q: float) -> float:
    return float(np.percentile(np.asarray(values, dtype=float), q)) if len(values) else float("nan")


def quartiles(values) -> dict:
    return {"n": len(values), "q1": percentile(values, 25), "median": percentile(values, 50),
            "q3": percentile(values, 75)}


def end_to_end(samples: dict, setup_s: float) -> dict:
    """Metric name → {value, unit, n, q1, median, q3} for the pass: the
    metrics of BENCHMARK.json plus, when the run had a lookup reader, the
    lookup latencies (gated per layer, see layers.END_TO_END)."""
    fresh, batch, look = samples["freshness_s"], samples["batch_s"], samples["lookup_s"]
    out = {
        "setup_s": {"value": setup_s, "n": 1, "unit": "s"},
        "events_per_sec": {"value": samples["events"] / samples["wall_s"],
                           "n": samples["events"], "unit": "1/s"},
        "freshness_s_p50": {"value": percentile(fresh, 50), **quartiles(fresh), "unit": "s"},
        "freshness_s_p90": {"value": percentile(fresh, 90), "n": len(fresh), "unit": "s"},
        "batch_s_p50": {"value": percentile(batch, 50), **quartiles(batch), "unit": "s"},
    }
    if len(look):
        out["lookup_s_p50"] = {"value": percentile(look, 50), **quartiles(look), "unit": "s"}
        out["lookup_s_p90"] = {"value": percentile(look, 90), "n": len(look), "unit": "s"}
    return out


def measure(args, work: str, nproc: int) -> dict:
    """Set up, measure, check and (traced) attribute one run; returns the
    result document written to .cdcbench/results."""
    import pyarrow
    import pyspark

    from cdcbench import layers, trace
    from cdcbench.workloads import WORKLOADS, Curate, Ops

    ops = Ops()
    spark = None
    cur = cur_samples = None
    try:
        t0 = time.time()
        spark = start_session(args.workload, work, nproc, bool(args.trace))
        t_session = time.time() - t0
        wl = WORKLOADS[args.workload](spark, work, args.seed, args.seconds, ops)
        wl.prepare()
        t_prepare = time.time() - t0 - t_session
        wl.warmup()
        setup_s = time.time() - t0

        tracer = None
        if args.trace:
            tracer = trace.Tracer(spark.sparkContext)
            trace.install_engine_wrappers(tracer)
        paused = tracer.paused if tracer is not None else contextlib.nullcontext
        cpu0 = cpu_jiffies()
        try:
            samples = wl.measure(tracer)
            cpu = [b - a for a, b in zip(cpu0, cpu_jiffies())]
            t_check = time.time()
            with paused():
                checks = wl.check()
            t_check = time.time() - t_check
            gauges = wl.gauges()
            t_curate = time.time()
            if tracer is not None and args.workload == "fanout":
                # the curate layer's pass: a warm-up step, then one measured
                # sync, on the session the fan-out loop warmed up
                cur = Curate(spark, os.path.join(work, "curate-pass"), args.seed,
                             args.seconds, ops, max_steps=1)
                with paused():
                    cur.prepare()
                    cur.warmup()
                cur_samples = cur.measure(tracer)
        finally:
            if tracer is not None:
                tracer.unwrap_all()
        cur_gauges = {}
        if cur is not None:
            checks += cur.check()
            cur_gauges = cur.gauges()
        t_curate = time.time() - t_curate
        rss_mb = jvm_peak_rss_mb()
        app_id = spark.sparkContext.applicationId
        versions = {"spark": spark.version, "pyarrow": pyarrow.__version__,
                    "python": platform.python_version()}
    finally:
        if spark is not None:
            stop_session(spark)

    e2e = end_to_end(samples, setup_s)
    if args.workload == "curate":
        e2e["sync_s_p50"] = e2e["batch_s_p50"]
    if cur_samples is not None:
        syncs = cur_samples["batch_s"]
        e2e["sync_s_p50"] = {"value": percentile(syncs, 50), **quartiles(syncs), "unit": "s"}
    attempted, failed = ops.totals()
    result = {
        "workload": args.workload,
        "provenance": {
            "nproc": nproc, "os_cpu_count": os.cpu_count(), "master": f"local[{nproc}]",
            **versions, "pyspark": pyspark.__version__, "git_commit": git_commit(),
            "seed": args.seed, "seconds": args.seconds,
            "traced": bool(args.trace),
            # shares of all CPU time on the host while measuring
            "measure_cpu_busy_frac": 1 - (cpu[3] + cpu[4]) / max(sum(cpu), 1),
            "measure_cpu_steal_frac": cpu[7] / max(sum(cpu), 1),
            "phases_s": {"session": t_session, "prepare": t_prepare,
                         "warmup": setup_s - t_session - t_prepare,
                         "measure": samples["wall_s"], "check": t_check,
                         "curate_pass": t_curate},
        },
        "inputs": {**wl.inputs, **({"curate_pass": cur.inputs} if cur is not None else {})},
        "end_to_end": e2e,
        "ops": {"attempted": ops.attempted, "failed": ops.failed, "errors": ops.errors,
                "total_attempted": attempted, "total_failed": failed,
                "ops_failed_frac": failed / attempted if attempted else 0.0},
        "checks": checks,
        "gauges": {**gauges, "jvm_peak_rss_mb": rss_mb,
                   **({"curate_pass": cur_gauges} if cur is not None else {})},
        "samples": {"batches": samples["batches"], "wall_s": samples["wall_s"],
                    "batch_s": [float(x) for x in samples["batch_s"]],
                    "lookup_s": [float(x) for x in samples["lookup_s"]]},
    }
    if args.trace:
        log = os.path.join(work, "eventlog", app_id)
        jobs, stages = trace.load_event_log(log)
        spans = tracer.spans
        if args.workload == "curate":
            cur_gauges = gauges
        lookups = e2e.get("lookup_s_p50", {}).get("value", 0.0)
        per = {**layers.per_layer_metrics(spans, jobs, stages, nproc, gauges, rss_mb, lookups),
               **layers.curate_metrics(spans, jobs, stages, cur_gauges)}
        units = {n: u for n, u, _b in layers.ALL_LAYER}
        result["per_layer"] = {k: {"value": v, "unit": units[k]} for k, v in per.items()}
        result["layer_self_s_per_batch"] = layers.layer_self_per_batch(
            spans, samples["batches"])
        result["spans"] = [trace.asdict(s) for s in spans]
        result["jobs"] = {str(k): v for k, v in jobs.items()}
    return result


def report(result: dict) -> bool:
    """Print the run for people, then the JSON line; True if it was correct."""
    from cdcbench.layers import END_TO_END

    prov, ops, e2e = result["provenance"], result["ops"], result["end_to_end"]
    ok = all(c["ok"] for c in result["checks"]) and ops["total_failed"] == 0
    print(f"# {result['workload']} seed={prov['seed']} seconds={prov['seconds']} "
          f"traced={prov['traced']} nproc={prov['nproc']} "
          f"batches={result['samples']['batches']} phases_s="
          + json.dumps({k: round(v, 2) for k, v in prov["phases_s"].items()}))
    for name, m in e2e.items():
        extra = "".join(f" {k}={m[k]:.4g}" for k in ("q1", "median", "q3") if k in m)
        print(f"{name:20s} {m['value']:.6g} {m['unit']}  (n={m['n']}{extra})")
    print(f"{'ops_failed_frac':20s} {ops['ops_failed_frac']:.6g}  "
          f"({ops['total_failed']}/{ops['total_attempted']}: {ops['attempted']})")
    for c in result["checks"]:
        print(f"check {c['check']}: {'ok' if c['ok'] else 'FAILED'} {c}")
    for e in ops["errors"]:
        print(f"error {e}")
    if prov["traced"]:
        for layer, v in result["layer_self_s_per_batch"].items():
            print(f"self/batch {layer:16s} {v:.4f} s")
        for k, m in result["per_layer"].items():
            print(f"{k:28s} {m['value']:.6g} {m['unit']}")
        metrics = result["per_layer"]
    else:
        gated = {name for name, *_ in END_TO_END}
        metrics = {k: m for k, m in e2e.items() if k in gated}
    print(json.dumps({"correct": ok, "attempted": ops["total_attempted"],
                      "failed": ops["total_failed"],
                      "metrics": {k: {"value": float(m["value"]), "unit": m["unit"]}
                                  for k, m in metrics.items()}}))
    return ok


def run_one(args) -> int:
    nproc = len(os.sched_getaffinity(0))
    work = os.path.join(BENCH_DIR, "work", f"{args.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        result = measure(args, work, nproc)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    os.makedirs(RESULTS_DIR, exist_ok=True)
    path = os.path.join(RESULTS_DIR, f"{args.workload}-seed{args.seed}-trace{args.trace}.json")
    with open(path, "w") as f:
        json.dump(result, f, default=float)
    return 0 if report(result) else 1


def run_all(args) -> int:
    """Every workload, each in its own process, in order."""
    code = 0
    for name in WORKLOAD_NAMES:
        cmd = [sys.executable, os.path.abspath(__file__), "--workload", name,
               "--seed", str(args.seed), "--seconds", str(args.seconds),
               "--trace", str(args.trace)]
        code |= subprocess.run(cmd, cwd=ROOT).returncode
    return code


def main(argv=None) -> int:
    args = parse_args(argv)
    if importlib.util.find_spec("sonic_etl_spark") is None:
        print(f"cdcbench: the engine package sonic_etl_spark is not under {ROOT}; "
              "run from the root of a checkout of the repository", file=sys.stderr)
        return 2
    if args.workload == "all":
        return run_all(args)
    try:
        return run_one(args)
    except Exception:
        traceback.print_exc()
        return 1


if __name__ == "__main__":
    sys.path.insert(0, ROOT)
    sys.exit(main())
