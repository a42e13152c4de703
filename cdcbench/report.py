"""Summarize the result files that cdcbench/run.py leaves in .cdcbench/results.

    python3 cdcbench/report.py [results_dir]

For each workload it prints:

- every end-to-end metric over the untraced runs (one per seed): median,
  quartiles, the quartile spread as a share of the median, and the run
  count, next to the metric's regression bound;
- for traced runs, each layer's self time per batch and the smallest share
  of a batch's wall time that the spans covered;
- the tracing overhead: for each seed run both ways, traced ÷ untraced per
  end-to-end metric, summarized as the median ratio.
"""

from __future__ import annotations

import glob
import json
import os
import statistics
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def load(results_dir: str) -> dict[str, dict[int, dict[int, dict]]]:
    """Key "workload (seconds=…)" → trace flag → seed → result."""
    out: dict = {}
    for p in sorted(glob.glob(os.path.join(results_dir, "*.json"))):
        with open(p) as f:
            r = json.load(f)
        prov = r["provenance"]
        key = f"{r['workload']} (seconds={prov['seconds']})"
        out.setdefault(key, {}).setdefault(int(prov["traced"]), {})[prov["seed"]] = r
    return out


def spread(values: list[float]) -> tuple[float, float, float, float]:
    """(median, q1, q3, (q3 - q1) / median) as statistics.quantiles gives them."""
    med = statistics.median(values)
    if len(values) < 2:
        return med, med, med, 0.0
    q1, _q2, q3 = statistics.quantiles(values, n=4)
    return med, q1, q3, (q3 - q1) / med if med else float("inf")


def main(argv: list[str]) -> int:
    sys.path.insert(0, ROOT)
    from cdcbench.layers import END_TO_END

    bounds = {name: bound for name, _u, _b, bound in END_TO_END}
    results_dir = argv[0] if argv else os.path.join(ROOT, ".cdcbench", "results")
    data = load(results_dir)
    for wl, by_trace in sorted(data.items()):
        print(f"== {wl}")
        plain = by_trace.get(0, {})
        if plain:
            print(f"  end to end over {len(plain)} untraced runs (seeds {sorted(plain)}):")
            names = next(iter(plain.values()))["end_to_end"]
            for name in names:
                vals = [r["end_to_end"][name]["value"] for r in plain.values()]
                med, q1, q3, sp = spread(vals)
                unit = names[name]["unit"]
                b = bounds.get(name)
                flag = "" if b is None or name == "setup_s" or sp < b / 3 else "  <-- spread ≥ bound/3"
                print(f"    {name:18s} median {med:.6g} {unit}  q1 {q1:.6g}  q3 {q3:.6g}  "
                      f"spread {sp:.3f}  bound {b}{flag}")
            failed = sum(sum(r["ops"]["failed"].values()) for r in plain.values())
            attempted = sum(sum(r["ops"]["attempted"].values()) for r in plain.values())
            print(f"    ops failed {failed}/{attempted}")
        traced = by_trace.get(1, {})
        for seed, r in sorted(traced.items()):
            cov = r.get("per_layer", {}).get("trace.batch_coverage_min", {}).get("value")
            print(f"  traced seed {seed}: self time per batch by layer "
                  f"(batches={r['samples']['batches']}, min batch coverage={cov}):")
            for layer, v in r["layer_self_s_per_batch"].items():
                print(f"    {layer:10s} {v:.4f} s")
        both = sorted(set(plain) & set(traced))
        if both:
            print(f"  tracing overhead, traced ÷ untraced (seeds {both}):")
            for name in plain[both[0]]["end_to_end"]:
                ratios = [traced[s]["end_to_end"][name]["value"]
                          / plain[s]["end_to_end"][name]["value"] for s in both]
                print(f"    {name:18s} median ratio {statistics.median(ratios):.3f}")
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
