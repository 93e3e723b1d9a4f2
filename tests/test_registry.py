"""Registry invariants backing the driver contract."""

from __future__ import annotations

import yc_data_proc_metadata_import_spark as engine


def test_every_oracle_has_query():
    q, o = engine.queries(), engine.oracle_sql()
    assert set(o) <= set(q), f"orphan oracles: {set(o) - set(q)}"


def test_queries_are_callables():
    for name, fn in engine.queries().items():
        assert callable(fn), name


def test_entry_contract_importable():
    import __spark_entry__ as e

    assert callable(e.entry)
    assert set(e.oracle_sql()) <= set(e.queries())


def test_adjudication_rotation():
    """queries() must put keys without a recorded hash-green verdict ahead
    of keys already proven in a committed CORRECTNESS_r*.json, so the
    correctness gate's fixed per-round budget always lands on fresh keys;
    every registered key must still appear exactly once."""
    import yc_data_proc_metadata_import_spark as engine
    from yc_data_proc_metadata_import_spark import _FORCE_FRONT, _adjudicated_green
    from yc_data_proc_metadata_import_spark.registry import QUERIES

    green = _adjudicated_green()
    # Keys whose implementation changed after their recorded green are
    # deliberately re-fronted — they count as fresh for ordering.
    for k in _FORCE_FRONT:
        green.pop(k, None)
    ordered = list(engine.queries())
    assert sorted(ordered) == sorted(QUERIES), "rotation lost or duped keys"
    if green:
        seen_green = False
        for k in ordered:
            if k in green:
                seen_green = True
            else:
                assert not seen_green, (
                    f"fresh key {k!r} ordered after already-green keys"
                )


def test_round7_window_composition():
    """Round-6 VERDICT items 1-2+6: while the scan_typed_columns bisect
    probes await adjudication, the 50-key window must open with them +
    the red key itself, then spend every remaining slot on the
    never-adjudicated backlog in the judge's ranked family order (TPC-H
    suite first).  This pins the computed order so a future registration
    can't silently displace a key that has waited multiple rounds.  Once
    a CORRECTNESS round records a pinned key green it legitimately
    rotates to the back, so each assertion applies only to keys still
    fresh (the test stays meaningful in round 8+)."""
    from yc_data_proc_metadata_import_spark import _adjudicated_green

    ordered = list(engine.queries())
    window = ordered[:50]
    green = _adjudicated_green()
    probes = [k for k in ordered if k.startswith("typed_probe_") and k not in green]
    assert window[: len(probes)] == probes, window[:10]
    if "scan_typed_columns" not in green:
        assert window[len(probes)] == "scan_typed_columns"
    fresh_tpch = [k for k in ordered if k.startswith("tpch_") and k not in green]
    tpch_in_window = [k for k in window if k.startswith("tpch_") and k not in green]
    assert tpch_in_window == fresh_tpch[: len(tpch_in_window)], (
        "fresh TPC-H keys must precede lower-ranked fresh families"
    )
    must_rank_high = {
        "graph_pagerank",
        "graph_shortest_path",
        "dq_expectations",
        "merge_cdc_delete",
        "merge_incremental_aggregate",
        "meta_diff",
        "stream_rocksdb_state",
        "stream_state_introspect",
        "stream_dedup_within_watermark",
        "sink_zorder_cluster",
        "sink_rebalanced_write",
        "win_sequence_gaps",
        "llm_cdc_chunking",
    }
    missing = {k for k in must_rank_high if k not in green} - set(window)
    assert not missing, f"backlog keys displaced from the window: {missing}"
    # No already-green key may occupy a window slot while fresh keys wait.
    fresh = [k for k in ordered if k not in green]
    if len(fresh) >= 50:
        stale_in_window = [k for k in window if k in green]
        assert not stale_in_window, stale_in_window


def test_bench_solo_demotion_is_self_load_immune():
    """The inferred-solo demotion must key on the calibration probe, not
    end-of-run loadavg: the bench's own 32-thread suite pushes loadavg
    past any sane threshold on genuinely solo runs (16.28 measured r10,
    4.38 r11), while the single-thread probe after suite end only moves
    when a SIBLING process competes. Pin the rule on the recorded rows'
    actual numbers."""
    import bench

    # Solo r11 cold run: cal med 123.9 -> 134.9 (ratio 1.09) — stays solo.
    assert bench.demote_if_contended(True, "inferred", 123.9, 134.9) == (
        True,
        "inferred",
    )
    # Mid-run arrival: end median blows past 1.2x start — demoted.
    assert bench.demote_if_contended(True, "inferred", 123.9, 160.0) == (
        False,
        "inferred_contended",
    )
    # Contended THROUGHOUT (the r11 drill row's actual numbers): ratio
    # is only 1.03, but both medians sit far above every recorded solo
    # median — the absolute trigger demotes it.
    assert bench.demote_if_contended(True, "inferred", 159.7, 165.1) == (
        False,
        "inferred_contended",
    )
    # Slow-but-solo host state (±15% swing): high-ish but under the
    # host-calibrated bound — stays solo.
    assert bench.demote_if_contended(True, "inferred", 134.9, 132.8) == (
        True,
        "inferred",
    )
    # Fast-host sibling arrival (round-17 ADVICE): the r17 host's solo
    # band is 96-113 ms, so a mid-run sibling at ~1.27x inflation reads
    # ~131 ms — over the ratio bound but UNDER the stale fixed 145 ms
    # floor that would have kept the solo tag.  The relative floor
    # (1.25x the run's own start) demotes it.
    assert bench.demote_if_contended(True, "inferred", 103.0, 131.0) == (
        False,
        "inferred_contended",
    )
    # Cold-boost start + hot-package end (the r17 99.9 -> 140.6 cold
    # run): demotes under the relative floor — deliberately.  That
    # run's suite wall was +18% over the clean cold row, so whatever
    # inflated the end probe inflated the measurement; "solo" is a
    # comparability claim and that row was not comparable.
    assert bench.demote_if_contended(True, "inferred", 99.9, 140.6) == (
        False,
        "inferred_contended",
    )
    # A declared tag is the operator's statement — never touched.
    assert bench.demote_if_contended(True, "declared", 123.9, 999.0) == (
        True,
        "declared",
    )
    assert bench.demote_if_contended(False, "declared", 123.9, 999.0) == (
        False,
        "declared",
    )


def test_bench_solo_demotion_sees_allcore_throttle():
    """Round-18 VERDICT task 1a: the r18 main run read single-thread
    101→108 ms (no single-thread trigger) while its all-core probe read
    156.8/145.5 ms — ratio 1.55/1.34 against the healthy 1.15-1.3 band —
    and the 32-thread suite ran 2-3x slow on untouched keys, mislabeled
    solo. The all-core/single-thread ratio on EITHER end must demote an
    inferred tag; the probe's failure sentinel must not."""
    import bench

    # The r18 main run's actual numbers: demoted.
    assert bench.demote_if_contended(
        True, "inferred", 101.0, 108.4,
        allcore_start_med=156.8, allcore_end_med=145.5,
    ) == (False, "inferred_contended")
    # Healthy all-core ratios (1.21 / 1.28, inside the 1.15-1.3 band)
    # with stable single-thread medians: stays solo.
    assert bench.demote_if_contended(
        True, "inferred", 95.0, 97.0,
        allcore_start_med=115.2, allcore_end_med=124.0,
    ) == (True, "inferred")
    # Throttle ARRIVES mid-run: end ratio alone demotes.
    assert bench.demote_if_contended(
        True, "inferred", 100.0, 105.0,
        allcore_start_med=120.0, allcore_end_med=160.0,
    ) == (False, "inferred_contended")
    # Probe failure sentinel (med -1.0) never demotes by itself.
    assert bench.demote_if_contended(
        True, "inferred", 100.0, 105.0,
        allcore_start_med=-1.0, allcore_end_med=-1.0,
    ) == (True, "inferred")
    # Legacy call without all-core medians: unchanged behavior.
    assert bench.demote_if_contended(True, "inferred", 100.0, 105.0) == (
        True,
        "inferred",
    )
    # Declared tags stay untouchable regardless of the ratio.
    assert bench.demote_if_contended(
        True, "declared", 101.0, 108.4,
        allcore_start_med=156.8, allcore_end_med=145.5,
    ) == (True, "declared")


def test_bench_allcore_guard_waits_for_ratio_band():
    """The all-core guard must not wait when the ratio is in band, must
    poll until it re-enters the band, must exit on the budget, and must
    exit immediately on the probe's failure sentinel."""
    import bench

    # In band (120/100 = 1.2 <= 1.3): no sleep.
    cal_mt, cal, waited = bench.allcore_guard(
        lambda: {"best": 100.0, "med": 100.0},
        lambda: {"med": 120.0, "max": 130.0, "n": 2},
        lambda s: (_ for _ in ()).throw(AssertionError("must not sleep")),
        ratio_max=1.3,
        max_wait_s=900.0,
        poll_s=60.0,
    )
    assert (cal_mt["med"], cal["med"], waited) == (120.0, 100.0, 0.0)

    # Throttled then recovering (1.55 -> 1.45 -> 1.2): waits until band.
    mt_meds = iter([155.0, 145.0, 120.0])
    slept = []
    cal_mt, cal, waited = bench.allcore_guard(
        lambda: {"best": 100.0, "med": 100.0},
        lambda: {"med": next(mt_meds), "max": 200.0, "n": 2},
        slept.append,
        ratio_max=1.3,
        max_wait_s=900.0,
        poll_s=60.0,
    )
    assert cal_mt["med"] == 120.0 and waited == 120.0 and slept == [60.0, 60.0]

    # Never recovers: bounded by the budget (caller demotes).
    slept = []
    cal_mt, cal, waited = bench.allcore_guard(
        lambda: {"best": 100.0, "med": 100.0},
        lambda: {"med": 160.0, "max": 200.0, "n": 2},
        slept.append,
        ratio_max=1.3,
        max_wait_s=120.0,
        poll_s=60.0,
    )
    assert waited == 120.0 and len(slept) == 2

    # Probe failure sentinel: exits immediately, never hangs the bench.
    cal_mt, cal, waited = bench.allcore_guard(
        lambda: {"best": 100.0, "med": 100.0},
        lambda: {"med": -1.0, "max": -1.0, "n": 0},
        lambda s: (_ for _ in ()).throw(AssertionError("must not sleep")),
        ratio_max=1.3,
        max_wait_s=900.0,
        poll_s=60.0,
    )
    assert waited == 0.0


def test_bench_scratch_state_is_tri_state():
    """Scratch provenance must distinguish a PARTIAL scratch (aborted
    prior run left some fixtures; most of the ~26 s build cost still
    paid) from a genuinely warm one (round-11 ADVICE: a single leftover
    fixture flipped the old binary tag to warm). The rule is
    self-calibrating — warm means the suite built zero NEW fixtures —
    so adding fixtures to the engine never requires re-deriving an
    expected count."""
    import bench

    assert bench.scratch_state_of(0, 26) == "cold"
    assert bench.scratch_state_of(26, 26) == "warm"
    # One leftover from an aborted run, 25 built during the suite: the
    # old rule tagged this warm; it must read partial.
    assert bench.scratch_state_of(1, 26) == "partial"
    # Degenerate but possible: empty start, nothing built (e.g. a
    # filtered key subset) — still cold, never warm.
    assert bench.scratch_state_of(0, 0) == "cold"


def test_scale_rung_presets_reference_registered_keys():
    """The sf1/sf10 rung presets (tools/sf1_rung.py) must only name
    registered queries — a key rename would otherwise rot the scale
    evidence silently (the rung is run manually, not per-pytest)."""
    import importlib.util
    import os

    import yc_data_proc_metadata_import_spark as engine

    spec = importlib.util.spec_from_file_location(
        "sf1_rung",
        os.path.join(os.path.dirname(__file__), "..", "tools", "sf1_rung.py"),
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    registered = set(engine.queries())
    for name in ("KEYS", "KEYS_SF10", "INVARIANCE_KEYS", "INVARIANCE_KEYS_SF10"):
        unknown = set(getattr(mod, name)) - registered
        assert not unknown, f"{name} names unregistered keys: {sorted(unknown)}"
    assert mod.CHECKSUM_KEYS_SF10 <= set(mod.KEYS_SF10)


def test_bench_allcore_probe_shape():
    """calibrate_allcore returns per-worker medians from a fork pool and
    degrades to a sentinel (never an exception) if the pool can't start —
    provenance must not be able to kill a bench run."""
    import bench

    r = bench.calibrate_allcore(2)
    assert set(r) == {"med", "max", "n"}
    assert r["n"] == 2 and 0 < r["med"] <= r["max"]


def test_bench_idle_guard_waits_for_nominal_band():
    """Round-16 VERDICT task 2: the committed bench row must be clean by
    construction — the guard polls until the probe median re-enters the
    nominal band (burst-credit recovery), never waits when the first
    probe is already nominal, and gives up after the wait budget so a
    genuine sibling can't hang the bench forever."""
    import bench

    # Already nominal: no sleep calls, pre == final, zero wait.
    cal, pre, waited = bench.idle_guard(
        lambda: {"best": 120.0, "med": 125.0},
        lambda s: (_ for _ in ()).throw(AssertionError("must not sleep")),
        nominal_ms=140.0,
        max_wait_s=900.0,
        poll_s=60.0,
    )
    assert (cal["med"], pre["med"], waited) == (125.0, 125.0, 0.0)

    # Hot then recovering: waits exactly until the first nominal probe,
    # reports the PRE-wait median for provenance.
    meds = iter([162.0, 158.0, 139.0])
    slept = []
    cal, pre, waited = bench.idle_guard(
        lambda: {"best": 0.0, "med": next(meds)},
        slept.append,
        nominal_ms=140.0,
        max_wait_s=900.0,
        poll_s=60.0,
    )
    assert pre["med"] == 162.0 and cal["med"] == 139.0
    assert waited == 120.0 and slept == [60.0, 60.0]

    # Never recovers: bounded by the budget, exits still-hot (the
    # caller's demotion rule then tags the row).
    slept = []
    cal, pre, waited = bench.idle_guard(
        lambda: {"best": 0.0, "med": 170.0},
        slept.append,
        nominal_ms=140.0,
        max_wait_s=180.0,
        poll_s=60.0,
    )
    assert cal["med"] == 170.0 and waited == 180.0 and len(slept) == 3


def test_bench_idle_guard_drains_loadavg_residue():
    """Round-17 VERDICT task 3: the r17 committed row was tagged
    solo:false purely because start loadavg read 6.02 — the damped
    residue of an ALREADY-FINISHED predecessor (probe medians were in
    the solo band, idle_wait_s 0).  The guard must also wait for the
    1-min loadavg to decay below the idle bound, so a clean host yields
    a clean inferred tag."""
    import bench

    # Probe nominal throughout, loadavg draining 6.0 -> 2.2 -> 0.8:
    # waits exactly until the load clears the bound.
    loads = iter([6.02, 2.2, 0.8])
    slept = []
    cal, pre, waited = bench.idle_guard(
        lambda: {"best": 100.0, "med": 105.0},
        slept.append,
        nominal_ms=140.0,
        max_wait_s=900.0,
        poll_s=60.0,
        getload=lambda: next(loads),
        load_max=1.0,
    )
    assert waited == 120.0 and slept == [60.0, 60.0]
    assert cal["med"] == 105.0

    # Live sibling holds the load up: bounded by the budget, exits
    # still-hot — the caller's inference then tags the row honestly.
    slept = []
    cal, pre, waited = bench.idle_guard(
        lambda: {"best": 100.0, "med": 105.0},
        slept.append,
        nominal_ms=140.0,
        max_wait_s=120.0,
        poll_s=60.0,
        getload=lambda: 5.5,
        load_max=1.0,
    )
    assert waited == 120.0 and len(slept) == 2

    # No getload (legacy callers/tests): loadavg is simply not polled.
    cal, pre, waited = bench.idle_guard(
        lambda: {"best": 100.0, "med": 105.0},
        lambda s: (_ for _ in ()).throw(AssertionError("must not sleep")),
        nominal_ms=140.0,
        max_wait_s=900.0,
        poll_s=60.0,
    )
    assert waited == 0.0


def test_stream_state_partitions_sizing():
    """_state_partitions (r19): JVM stateful operators take the
    commit-cost floor max(8, cores/4) plus a source-volume term
    (bytes / 256 MB target); Python arbitrary-state operators size to
    full parallelism (compute-bound — SF1_STREAM_STATE_r19.json). The
    local tiers must keep their measured-best counts so bench rows stay
    comparable."""
    from yc_data_proc_metadata_import_spark.streaming.stream_queries import (
        _STATE_TARGET_BYTES,
        _state_partitions,
    )

    class _Spark:
        class sparkContext:
            defaultParallelism = 32

    sp = _Spark()
    # rung-tier volumes (sf0.1 events 2 MB, sf1 20 MB, sf10 200 MB):
    # below the 256 MB/partition target -> the floor, bench-identical.
    assert _state_partitions(sp, 2 * 1024**2) == 8
    assert _state_partitions(sp, 200 * 1024**2) == 8
    # volume term takes over beyond the rung tiers on any core count,
    # capped at 4x parallelism (1 TB would otherwise plan 4096).
    assert _state_partitions(sp, 10 * 1024**3) == 10 * 1024**3 // _STATE_TARGET_BYTES == 40
    assert _state_partitions(sp, 1024**4) == 128
    # python-state keys (compute-bound): ~1 partition/MB, floor for
    # tiny inputs (sf0.1 events 2 MB -> 8, no local regression), capped
    # at 4x parallelism so scale doesn't fragment worker batches.
    assert _state_partitions(sp, 2 * 1024**2, python_state=True) == 8
    assert _state_partitions(sp, 20 * 1024**2, python_state=True) == 20
    assert _state_partitions(sp, 100 * 1024**3, python_state=True) == 128


def test_env_knob_inventory():
    """The package reads exactly these SPARK_GRAFT_* env names; a new
    one needs a caller that sets it and a line here saying why."""
    import pathlib
    import re

    reasons = {
        "SPARK_GRAFT_CPUS": "local[N] cores of the session get_spark builds",
        "SPARK_GRAFT_DRIVER_MEM": "driver heap of the session get_spark builds",
        "SPARK_GRAFT_IVF_NPROBE": "IVF probe width, scaled by the sf10 rung preset",
        "SPARK_GRAFT_KM_K": "k-means list count, scaled by the sf10 rung preset",
    }
    pkg = pathlib.Path(engine.__file__).parent
    found = {
        m
        for f in pkg.rglob("*.py")
        for m in re.findall(r"SPARK_GRAFT_[A-Z_]+", f.read_text())
    }
    assert found == set(reasons), (
        f"unlisted: {sorted(found - set(reasons))}, "
        f"gone: {sorted(set(reasons) - found)}"
    )
