"""Metric names and the reduction of one run to them."""

from __future__ import annotations

from statistics import median

from attribution import COUNTERS, STREAM_COUNTERS
from workloads import LAYERS

END_TO_END = {
    "queries_per_s": "1/s",
    "setup_s": "s",
}


def _unit(name: str) -> str:
    if name.endswith("_s"):
        return "s"
    if name.endswith("_ms"):
        return "ms"
    if name.endswith("_bytes"):
        return "B"
    return "count"


PER_LAYER = {
    **{f"{layer}.{c}": _unit(c) for layer in LAYERS for c in COUNTERS},
    "session.start_s": "s",
    "session.warmup_s": "s",
    "session.fixture_s": "s",
    "session.app_start_s": "s",
    "session.peak_rss_mb": "MB",
    **{f"streaming.{c}": _unit(c) for c in STREAM_COUNTERS},
    "traced.queries_per_s": "1/s",
}


def report(run, peak_rss: int, keys: list[str]) -> dict:
    """Everything one run measured: end-to-end and per-layer metrics, and
    one row per key and per layer (counters per timed pass)."""
    ok = [r["ok"] for r in run.records]
    timed = run.timed_s()
    # A failed execution misses any latency limit: it ranks above every
    # completed one.
    lat = [r["build_s"] + r["exec_s"] if good else timed for r, good in zip(run.records, ok)]
    app_start = median(run.app_start_s)
    qps = sum(ok) / timed
    metrics = {
        "queries_per_s": qps,
        "query_p50_s": median(lat),
        "setup_s": sum(run.setup.values()),
        "session.start_s": run.setup["start_s"],
        "session.warmup_s": run.setup["warmup_s"],
        "session.fixture_s": run.setup["fixture_s"],
        "session.app_start_s": app_start,
        "session.peak_rss_mb": peak_rss / 2**20,
        "traced.queries_per_s": qps,
    }

    passes = run.passes
    rows: dict[str, dict] = {}
    for r, good in zip(run.records, ok):
        row = rows.setdefault(
            r["key"],
            {"layer": r["layer"], "executions": 0, "build_s": 0.0, "exec_s": 0.0, "failed": 0},
        )
        row["executions"] += 1
        row["build_s"] += r["build_s"] / passes
        row["exec_s"] += r["exec_s"] / passes
        row["failed"] += not good
    for key, counters in run.key_rows.items():
        rows[key].update({c: v / passes for c, v in counters.items()})
    for key, counters in run.stream_rows.items():
        rows[key]["streaming"] = {c: v / passes for c, v in counters.items()}

    layers = {layer: dict.fromkeys(COUNTERS, 0) for layer in LAYERS}
    for row in rows.values():
        for c in COUNTERS:
            layers[row["layer"]][c] += row.get(c, 0)
    for layer, row in layers.items():
        metrics.update({f"{layer}.{c}": v for c, v in row.items()})
    stream = dict.fromkeys(STREAM_COUNTERS, 0)
    for row in rows.values():
        for c, v in row.get("streaming", {}).items():
            stream[c] += v
    metrics.update({f"streaming.{c}": v for c, v in stream.items()})

    return {
        "workload": run.args.workload,
        "seed": run.args.seed,
        "trace": run.args.trace,
        "seconds": run.args.seconds,
        "cpus": run.cpus,
        "sf_dir": run.sf_dir,
        "scratch_state": run.scratch_state,
        "keys_sampled": keys,
        "passes": passes,
        "setup_keys": run.setup_keys,
        "attempted": len(run.records),
        "failed": len(run.records) - sum(ok),
        "failures": run.failures,
        "timed_s": timed,
        "check_s": run.check_s,
        "latency_s": lat,
        "metrics": metrics,
        "keys": rows,
        "layers": layers,
    }


def result_line(rep: dict, trace: bool) -> dict:
    """The one-line result: end-to-end metrics, or per-layer ones when
    traced."""
    names = PER_LAYER if trace else END_TO_END
    return {
        "correct": rep["failed"] == 0 and not rep["failures"],
        "attempted": rep["attempted"],
        "failed": rep["failed"],
        "metrics": {n: {"value": rep["metrics"][n], "unit": u} for n, u in names.items()},
    }
