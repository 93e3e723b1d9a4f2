#!/usr/bin/env python3
"""Closed-loop benchmark of the registered ``queries()`` keys at sf0.1.

    python3 perfbench/run.py --workload relational --seed 3 --seconds 15 --trace 0

One process, one client, one key at a time, on ``local[<cores>]``, over
the workload's fixed key sample (``workloads.SAMPLE``); the seed orders
every pass over it.

Set-up empties the engine's scratch directory, starts the session and
runs each key once, in a fixed order: its registered callable builds
its on-disk fixtures, and this first pass in a fresh JVM is set-up, not
measurement. Timed passes follow until ``--seconds`` of timed work is
done, each in a fresh Spark application so that no timing is served
from a per-application cache an earlier timed execution filled. A key's
build (the call into its registered callable) and its execution (a
``noop`` write) are timed apart; after its timed window closes, its
result is compared with its DuckDB oracle.

``--trace 1`` also writes Spark's event log and records streaming
progress, and reports per-layer counters instead of end-to-end metrics.
The last line of stdout is one JSON object; a per-key report of the run
is written to ``.perfbench/reports``.
"""

from __future__ import annotations

import argparse
import json
import os
import random
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench")
# No new pass starts after this much wall time, so a run ends well
# inside its time limit on a slow host.
WALL_LIMIT_S = 100.0


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n", 1)[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def isolate() -> None:
    """Keep every file the run writes inside the checkout."""
    tmp = os.path.join(WORK, "tmp")
    for d in (tmp, os.path.join(WORK, "local"), os.path.join(WORK, "eventlog")):
        shutil.rmtree(d, ignore_errors=True)
        os.makedirs(d)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(WORK, "local")
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp}"
    os.chdir(ROOT)


def sf_dir() -> str:
    """The sf0.1 tables, beside the sf0.001 ones the contract's entry uses."""
    import __spark_entry__

    return os.path.join(os.path.dirname(__spark_entry__.SF0001), "sf0.1")


def reset_scratch() -> str:
    """Empty the engine's on-disk state; every run starts from it."""
    from yc_data_proc_metadata_import_spark.sources.io import SCRATCH

    for d in (SCRATCH, os.path.join(ROOT, "spark-warehouse")):
        shutil.rmtree(d, ignore_errors=True)
    os.makedirs(SCRATCH)
    return "empty"


def oracle_connection(sf_dir: str):
    """A DuckDB connection with a view over each input table, for the
    registered oracle SQL."""
    import duckdb

    from yc_data_proc_metadata_import_spark.sources.io import TABLES, table_path

    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{table_path(sf_dir, t)}')")
    return con


class Run:
    """One benchmark run: set-up, timed passes and checks."""

    def __init__(self, args, queries: dict, oracles: dict, layer_of: dict) -> None:
        self.args = args
        self.queries = queries
        self.oracles = oracles
        self.layer_of = layer_of
        self.sf_dir = sf_dir()
        self.cpus = len(os.sched_getaffinity(0))
        self.scratch_state = ""
        self.setup: dict[str, float] = {}
        self.app_start_s: list[float] = []
        self.records: list[dict] = []
        self.failures: dict[str, str] = {}
        self.key_rows: dict[str, dict] = {}
        self.stream_rows: dict[str, dict] = {}
        self.passes = 0
        self.setup_keys: dict[str, dict] = {}
        self.oracle = None
        self.check_s = 0.0

    def start_app(self):
        from yc_data_proc_metadata_import_spark.session import get_spark

        conf = {"spark.ui.enabled": "false", "spark.ui.showConsoleProgress": "false"}
        if self.args.trace:
            from attribution import event_log_conf

            conf.update(event_log_conf(os.path.join(WORK, "eventlog")))
        spark = get_spark(
            app_name="perfbench",
            master=f"local[{self.cpus}]",
            shuffle_partitions=self.cpus,
            extra_conf=conf,
        )
        recorder = None
        if self.args.trace:
            from attribution import ProgressRecorder

            recorder = ProgressRecorder()
            spark.streams.addListener(recorder)
        return spark, recorder

    def stop_app(self, spark, recorder, spans) -> None:
        app_id = spark.sparkContext.applicationId
        for q in spark.streams.active:
            q.stop()
        spark.stop()
        if self.args.trace and spans:
            from attribution import Windows, read_event_log, reduce_events, reduce_progress

            windows = Windows(spans)
            log = read_event_log(os.path.join(WORK, "eventlog"), app_id)
            _add(self.key_rows, reduce_events(log, windows))
            _add(self.stream_rows, reduce_progress(recorder.batches, windows))

    def set_up(self, keys: list[str]) -> None:
        """Start the JVM and run each key once, outside the measurement.

        The registered callables build the on-disk fixtures from an
        emptied scratch directory, and each key's first execution in the
        fresh JVM is a ``noop`` write, as in the timed passes. The keys
        run in a fixed order, so every run sets up the same work."""
        t0 = time.perf_counter()
        self.scratch_state = reset_scratch()
        spark, recorder = self.start_app()
        self.setup = {"start_s": time.perf_counter() - t0, "fixture_s": 0.0, "warmup_s": 0.0}
        for key in sorted(keys):
            try:
                a = time.perf_counter()
                df = self.queries[key](spark, self.sf_dir)
                b = time.perf_counter()
                df.write.mode("overwrite").format("noop").save()
                c = time.perf_counter()
            except Exception as e:  # noqa: BLE001 -- recorded as the key's failure
                self.failures[key] = f"set-up: {type(e).__name__}: {e}"[:400]
                continue
            self.setup_keys[key] = {"build_s": b - a, "first_exec_s": c - b}
            self.setup["fixture_s"] += b - a
            self.setup["warmup_s"] += c - b
        self.stop_app(spark, recorder, [])

    def timed_pass(self, order: list[str]) -> None:
        """One fresh Spark application; each key is timed, then its
        result is checked against its oracle outside the timed window."""
        from tests.compare import assert_match

        t0 = time.perf_counter()
        spark, recorder = self.start_app()
        self.app_start_s.append(time.perf_counter() - t0)
        spans = []
        for key in order:
            rec = {"key": key, "layer": self.layer_of[key], "pass": self.passes, "ok": True}
            df = None
            w0, a = time.time(), time.perf_counter()
            try:
                df = self.queries[key](spark, self.sf_dir)
                w1, b = time.time(), time.perf_counter()
                df.write.mode("overwrite").format("noop").save()
            except Exception as e:  # noqa: BLE001 -- one failed key must not stop the run
                rec["ok"] = False
                self.failures.setdefault(key, f"{type(e).__name__}: {e}"[:400])
            w2, c = time.time(), time.perf_counter()
            if df is None:
                w1, b = w2, c
            rec.update(build_s=b - a, exec_s=c - b)
            if rec["ok"]:
                try:
                    assert_match(df, self.oracle, self.oracles[key], key)
                except Exception as e:  # noqa: BLE001 -- a mismatch or a failed collect
                    rec["ok"] = False
                    self.failures.setdefault(key, f"{type(e).__name__}: {e}"[:400])
                self.check_s += time.perf_counter() - c
            self.records.append(rec)
            spans += [(int(w0 * 1000), int(w1 * 1000), key, "build"),
                      (int(w1 * 1000), int(w2 * 1000) + 1, key, "exec")]
        self.stop_app(spark, recorder, spans)
        self.passes += 1

    def execute(self, keys: list[str]) -> None:
        t0 = time.perf_counter()
        rng = random.Random(self.args.seed)
        self.set_up(keys)
        self.oracle = oracle_connection(self.sf_dir)
        try:
            while not self.passes or (
                self.timed_s() < self.args.seconds and time.perf_counter() - t0 < WALL_LIMIT_S
            ):
                self.timed_pass(rng.sample(keys, len(keys)))
        finally:
            self.oracle.close()

    def timed_s(self) -> float:
        return sum(r["build_s"] + r["exec_s"] for r in self.records)


def stop_jvm() -> None:
    """Stop the JVM PySpark launched and wait until it has ended: it
    exits when its stdin closes."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = gateway.proc
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def _add(into: dict[str, dict], rows: dict[str, dict]) -> None:
    for key, row in rows.items():
        acc = into.setdefault(key, dict.fromkeys(row, 0))
        for name, v in row.items():
            acc[name] += v


def main(argv=None) -> int:
    args = parse_args(argv)
    sys.path.insert(0, ROOT)
    try:
        import tests.compare  # noqa: F401 -- the oracle comparison helpers
        import yc_data_proc_metadata_import_spark as engine
        from yc_data_proc_metadata_import_spark.registry import ORACLES, QUERIES
    except ImportError as e:
        print(f"perfbench: the engine is not importable from {ROOT}: {e}", file=sys.stderr)
        return 2
    import metrics
    from stats import PeakRss
    from workloads import SAMPLE, WORKLOADS, assign

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; one of {WORKLOADS}", file=sys.stderr)
        return 2
    engine.load_all()
    layer_of = {k: layer for k, (_, layer) in assign(QUERIES).items()}
    keys = list(SAMPLE[args.workload])

    isolate()
    rss = PeakRss().start()
    run = Run(args, QUERIES, ORACLES, layer_of)
    try:
        run.execute(keys)
    finally:
        peak = rss.stop()
        stop_jvm()

    report = metrics.report(run, peak, keys)
    os.makedirs(os.path.join(WORK, "reports"), exist_ok=True)
    name = f"{args.workload}_seed{args.seed}_trace{args.trace}.json"
    with open(os.path.join(WORK, "reports", name), "w") as f:
        json.dump(report, f, indent=1, sort_keys=True)
    for key, why in sorted(run.failures.items()):
        print(f"perfbench: FAILED {key}: {why}", file=sys.stderr)
    print(json.dumps(metrics.result_line(report, trace=bool(args.trace))), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
