#!/usr/bin/env python3
"""Repeat the benchmark over seeds and commit what it measured.

    python3 perfbench/collect.py baseline   # untraced, seeds 0-9, every workload
    python3 perfbench/collect.py traced     # traced, seeds 0-4, every workload

``baseline`` writes ``results/baseline.json``: every end-to-end metric of
every run, with its median and quartile spread, and the per-key
latencies of all runs pooled, with the highest tail percentile the
pooled sample supports. ``traced`` writes ``results/traced_<workload>.json``:
one row per key and per layer (medians over the runs), the session and
streaming counters, and the tracing overhead against the baseline.
Run from the repository root.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
RESULTS = os.path.join(HERE, "results")
REPORTS = os.path.join(ROOT, ".perfbench", "reports")


def spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def run_once(workload: str, seed: int, trace: int) -> tuple[dict, dict, float]:
    """One benchmark run: (result line, full report, wall seconds)."""
    s = spec()
    cmd = [*s["command"], "--workload", workload, "--seed", str(seed),
           "--seconds", str(s["run_seconds"]), "--trace", str(trace)]
    t0 = time.perf_counter()
    out = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=600)
    wall = time.perf_counter() - t0
    if out.returncode:
        raise RuntimeError(f"{workload} seed {seed}: exit {out.returncode}\n{out.stderr[-2000:]}")
    line = json.loads(out.stdout.strip().splitlines()[-1])
    with open(os.path.join(REPORTS, f"{workload}_seed{seed}_trace{trace}.json")) as f:
        report = json.load(f)
    print(f"{workload} seed {seed} trace {trace}: {wall:.1f} s wall, "
          f"correct={line['correct']}", file=sys.stderr, flush=True)
    return line, report, wall


def spread(values: list[float]) -> dict:
    q1, med, q3 = statistics.quantiles(values, n=4)
    return {"median": statistics.median(values), "q1": q1, "q3": q3,
            "iqr_share": (q3 - q1) / statistics.median(values)}


def pooled_percentiles(values: list[float], percentile) -> dict:
    """The median and the highest of p90/p75 with ten samples beyond it."""
    out = {"n": len(values), "p50": percentile(values, 50)}
    for q in (90, 75):
        try:
            out[f"p{q}"] = percentile(values, q)
            break
        except ValueError:
            continue
    return out


def baseline(runs: int) -> None:
    sys.path.insert(0, HERE)
    from stats import percentile

    out = {"runs_per_workload": runs, "run_seconds": spec()["run_seconds"], "workloads": {}}
    for w in spec()["workloads"]:
        lines, reports, walls = [], [], []
        for seed in range(runs):
            line, report, wall = run_once(w["name"], seed, 0)
            lines.append(line)
            reports.append(report)
            walls.append(wall)
        pooled = [x for r in reports for x in r["latency_s"]]
        metrics = {}
        for m in spec()["end_to_end"]:
            vals = [ln["metrics"][m["name"]]["value"] for ln in lines]
            metrics[m["name"]] = {"unit": m["unit"], "values": vals, **spread(vals)}
        out["workloads"][w["name"]] = {
            "keys": reports[0]["keys_sampled"],
            "all_correct": all(ln["correct"] for ln in lines),
            "attempted": sum(ln["attempted"] for ln in lines),
            "failed": sum(ln["failed"] for ln in lines),
            "wall_s": spread(walls),
            "metrics": metrics,
            "pooled_latency_s": pooled_percentiles(pooled, percentile),
        }
    _write("baseline.json", out)


def traced(runs: int) -> None:
    with open(os.path.join(RESULTS, "baseline.json")) as f:
        base = json.load(f)
    for w in spec()["workloads"]:
        name = w["name"]
        reports = [run_once(name, seed, 1)[1] for seed in range(runs)]
        keys = {}
        for key, row in reports[0]["keys"].items():
            rows = [r["keys"][key] for r in reports]
            keys[key] = {"layer": row["layer"], **_median_rows(rows)}
            if "streaming" in row:
                keys[key]["streaming"] = _median_rows([r["streaming"] for r in rows])
        per_layer = _median_rows([r["metrics"] for r in reports])
        # The baseline lists its values by seed; compare the same seeds.
        untraced = statistics.median(
            base["workloads"][name]["metrics"]["queries_per_s"]["values"][:runs]
        )
        traced_qps = per_layer["traced.queries_per_s"]
        _write(f"traced_{name}.json", {
            "workload": name,
            "runs": runs,
            "note": "medians over the traced runs; counters are per timed pass",
            "tracing_overhead": {
                "untraced_queries_per_s": untraced,
                "traced_queries_per_s": traced_qps,
                "slowdown_share": 1 - traced_qps / untraced,
            },
            "per_layer": per_layer,
            "layers": _median_rows_by_layer(reports),
            "keys": keys,
        })


def _median_rows(rows: list[dict]) -> dict:
    return {k: statistics.median(r[k] for r in rows)
            for k, v in rows[0].items() if isinstance(v, (int, float)) and not isinstance(v, bool)}


def _median_rows_by_layer(reports: list[dict]) -> dict:
    return {layer: _median_rows([r["layers"][layer] for r in reports])
            for layer in reports[0]["layers"]}


def _write(name: str, data: dict) -> None:
    os.makedirs(RESULTS, exist_ok=True)
    with open(os.path.join(RESULTS, name), "w") as f:
        json.dump(data, f, indent=1, sort_keys=True)
        f.write("\n")


def main() -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n", 1)[0])
    p.add_argument("mode", choices=("baseline", "traced"))
    args = p.parse_args()
    if args.mode == "baseline":
        baseline(10)
    else:
        traced(5)
    return 0


if __name__ == "__main__":
    sys.exit(main())
