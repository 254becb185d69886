"""bench.py's warm regression gate — reproduce-before-fail semantics.

VERDICT r10 "What's wrong" #1: the driver's BENCH_r10 run exited rc=1
flagging four queries whose code had not changed — single-sample
co-tenant noise in one query's measurement window, with median_ratio
1.0 so normalization had nothing to normalize. The gate must treat a
first-pass flag as a hypothesis and fail only when a fresh serial
re-measurement reproduces it; both samples stay in the artifact.
"""

from __future__ import annotations

import pytest

import bench


def _gate(timings, prev, remeasure):
    return bench.warm_gate(dict(timings), dict(prev), remeasure)


def test_noise_flag_is_retracted_by_remeasure():
    prev = {"q_a": 1.0, "q_b": 1.0, "q_c": 1.0}
    # q_c spiked 2x in its single measurement window; others flat
    timings = {"q_a": 1.0, "q_b": 1.05, "q_c": 2.0}
    calls = []

    def remeasure(name):
        calls.append(name)
        return 1.02  # fresh serial sample: back to steady state

    confirmed, first_pass, median_ratio = bench.warm_gate(
        timings, prev, remeasure
    )
    # flagged query AND its machine-drift sentinels are re-measured
    assert "q_c" in calls and set(calls) <= {"q_a", "q_b", "q_c"}
    assert confirmed == {}  # noise does not fail the run
    assert first_pass["q_c"]["remeasured"] == 1.02  # both samples recorded
    assert first_pass["q_c"]["now"] == 2.0
    # the retracted flag's steady-state estimate supersedes the noisy one
    assert timings["q_c"] <= 1.02
    assert median_ratio == 1.05  # the round's own median shift


def test_genuine_regression_reproduces_and_fails():
    prev = {"q_a": 1.0, "q_b": 1.0, "q_c": 1.0}
    timings = {"q_a": 1.0, "q_b": 1.0, "q_c": 2.0}
    # sentinels come back flat — the machine is fine; q_c reproduces
    remeasure = lambda n: 1.95 if n == "q_c" else 1.0  # noqa: E731
    confirmed, first_pass, _ = bench.warm_gate(timings, prev, remeasure)
    assert set(confirmed) == {"q_c"}
    assert confirmed["q_c"]["remeasured"] == 1.95
    assert confirmed["q_c"]["remeasure_drift"] == 1.0
    assert timings["q_c"] == 2.0  # confirmed flag keeps the measurement


def test_machine_slow_remeasure_window_retracts_flag():
    """VERDICT r15 "What's wrong" #1 — the q_rolling_wau scenario: the
    sweep sample AND the remeasure both land inside a co-tenant-slow
    window. The sentinels, re-measured concurrently, show the same
    drift, so the flag must be retracted: a confirmed flag means code,
    not machine."""
    prev = {"q_a": 1.0, "q_b": 1.0, "q_c": 0.24}
    # q_c alone caught the noise during the sweep (others were measured
    # before the co-tenant arrived) — 0.467 vs 0.24 ≈ the r15 record
    timings = {"q_a": 1.0, "q_b": 1.0, "q_c": 0.467}

    def remeasure(name):
        # machine still ~2.2x slow for EVERYTHING at remeasure time
        return {"q_a": 2.2, "q_b": 2.15, "q_c": 0.622}[name]

    confirmed, first_pass, _ = bench.warm_gate(timings, prev, remeasure)
    assert set(first_pass) == {"q_c"}
    assert confirmed == {}  # sentinel drift explains the fresh sample
    assert first_pass["q_c"]["remeasure_drift"] > 2.0
    assert set(first_pass["q_c"]["sentinels"]) == {"q_a", "q_b"}
    # baseline write-back carries the drift-adjusted steady state
    assert timings["q_c"] < 0.35


def test_point_burst_in_first_remeasure_is_retracted_by_second():
    """r16: a co-tenant burst NARROWER than the sentinel window — the
    sentinels read flat, but the flagged query's first remeasure lands
    inside the burst (observed: q_agg_stats swept 1.7 s, remeasured
    5.95 s, standalone 0.6-1.0 s minutes later, untouched code). The
    confirm-twice rule retracts it: the second serial remeasure reads
    steady state."""
    prev = {"q_a": 1.0, "q_b": 1.0, "q_c": 0.65}
    timings = {"q_a": 1.0, "q_b": 1.0, "q_c": 1.7}
    seen = {"q_c": 0}

    def remeasure(name):
        if name == "q_c":
            seen["q_c"] += 1
            return 5.95 if seen["q_c"] == 1 else 0.7  # burst, then calm
        return 1.02  # sentinels flat

    confirmed, first_pass, _ = bench.warm_gate(timings, prev, remeasure)
    assert confirmed == {}
    assert first_pass["q_c"]["remeasured"] == 5.95
    assert first_pass["q_c"]["remeasured2"] == 0.7
    # baseline write-back carries the second (steady-state) sample
    assert timings["q_c"] <= 0.7


def test_genuine_regression_confirms_in_both_remeasures():
    """The confirm-twice rule must not launder a real regression: a
    deterministic slowdown reproduces in BOTH serial samples and stays
    confirmed, with both recorded in the artifact."""
    prev = {"q_a": 1.0, "q_b": 1.0, "q_c": 1.0}
    timings = {"q_a": 1.0, "q_b": 1.0, "q_c": 2.1}
    remeasure = lambda n: 2.05 if n == "q_c" else 1.0  # noqa: E731
    confirmed, first_pass, _ = bench.warm_gate(timings, prev, remeasure)
    assert set(confirmed) == {"q_c"}
    assert confirmed["q_c"]["remeasured"] == 2.05
    assert confirmed["q_c"]["remeasured2"] == 2.05


def test_genuine_2x_slowdown_still_fails_under_sentinels():
    """The sentinel divisor must not launder a real regression: code
    that genuinely doubled stays flagged when the machine is flat."""
    prev = {"q_a": 1.0, "q_b": 1.0, "q_c": 1.0}
    timings = {"q_a": 1.0, "q_b": 1.0, "q_c": 2.1}
    remeasure = lambda n: 2.05 if n == "q_c" else 1.03  # noqa: E731
    confirmed, _, _ = bench.warm_gate(timings, prev, remeasure)
    assert set(confirmed) == {"q_c"}


def test_sub_floor_sentinels_are_skipped():
    """Tiny queries (prev < SENTINEL_MIN_PREV_SEC) are noise-dominated
    and must not anchor the drift estimate; with no eligible sentinel
    the gate falls back to drift 1.0 (the pre-sentinel behavior)."""
    prev = {"q_tiny1": 0.05, "q_tiny2": 0.08, "q_c": 1.0}
    timings = {"q_tiny1": 0.05, "q_tiny2": 0.08, "q_c": 2.0}
    calls = []

    def remeasure(name):
        calls.append(name)
        return 1.9

    confirmed, first_pass, _ = bench.warm_gate(timings, prev, remeasure)
    # no sentinel remeasures; q_c is remeasured twice (confirm-twice)
    assert calls == ["q_c", "q_c"]
    assert first_pass["q_c"]["remeasure_drift"] == 1.0
    assert set(confirmed) == {"q_c"}


def test_global_slowdown_is_normalized_not_flagged():
    # co-tenant frequency scaling: EVERY query +60% — the median divisor
    # absorbs it; no per-query flag, no remeasure calls
    prev = {f"q_{i}": 1.0 for i in range(5)}
    timings = {f"q_{i}": 1.6 for i in range(5)}
    confirmed, first_pass, median_ratio = bench.warm_gate(
        timings, prev, lambda n: (_ for _ in ()).throw(AssertionError)
    )
    assert confirmed == {} and first_pass == {}
    assert abs(median_ratio - 1.6) < 1e-9


def test_faster_round_cannot_mask_regression():
    # everything else got 2x FASTER; q_c regressed 1.8x absolute. With a
    # raw median divisor of 0.5 this would hide; the 1.0 floor keeps it
    # visible, and a reproducing remeasure confirms it.
    prev = {"q_a": 2.0, "q_b": 2.0, "q_c": 1.0, "q_d": 2.0}
    timings = {"q_a": 1.0, "q_b": 1.0, "q_c": 1.8, "q_d": 1.0}
    confirmed, _, median_ratio = bench.warm_gate(timings, prev, lambda n: 1.8)
    assert median_ratio == 1.0
    assert set(confirmed) == {"q_c"}


def test_sub_floor_delta_never_flags():
    # 3x ratio but only 150 ms absolute — under REGRESSION_FLOOR_SEC
    prev = {"q_a": 0.05, "q_b": 1.0}
    timings = {"q_a": 0.15, "q_b": 1.0}
    confirmed, first_pass, _ = bench.warm_gate(
        timings, prev, lambda n: (_ for _ in ()).throw(AssertionError)
    )
    assert confirmed == {} and first_pass == {}


def test_previous_bench_selects_same_sf_baseline(tmp_path, monkeypatch):
    """ADVICE r11 #4: a newer baseline at a DIFFERENT sf must be
    skipped, not returned — each sf keeps its own ratchet, and a new-sf
    run (no matching record) gets None so it can seed a baseline."""
    import json
    import os

    monkeypatch.setattr(
        bench.os.path, "abspath", lambda p: str(tmp_path / "bench.py")
    )
    red = bench.REDUCTION
    cpus = bench._run_cpus()
    old = {"queries": {"q_a": 1.0}, "sf": 0.1, "reduction": red, "cpus": cpus}
    foreign = {
        "queries": {"q_a": 0.1}, "sf": 0.01, "reduction": red, "cpus": cpus
    }
    (tmp_path / "BENCH_LOCAL_r05.json").write_text(json.dumps(old))
    (tmp_path / "BENCH_LOCAL_sf0.01_r06.json").write_text(json.dumps(foreign))
    ((name, doc),) = bench._bench_history(0.1, limit=1)
    assert name == "BENCH_LOCAL_r05.json" and doc["sf"] == 0.1
    ((name, doc),) = bench._bench_history(0.01, limit=1)
    assert name == "BENCH_LOCAL_sf0.01_r06.json" and doc["sf"] == 0.01
    assert bench._bench_history(1.0, limit=1) == []
    # records under a FOREIGN measurement protocol (the pre-r14 count()
    # reduction, marker-less) are skipped — ratios across protocols are
    # meaningless, the ratchet re-seeds
    (tmp_path / "BENCH_LOCAL_r07.json").write_text(
        json.dumps({"queries": {"q_a": 2.0}, "sf": 1.0, "cpus": cpus})
    )
    assert bench._bench_history(1.0, limit=1) == []
    (tmp_path / "BENCH_LOCAL_r08.json").write_text(
        json.dumps(
            {"queries": {"q_a": 2.0}, "sf": 1.0, "reduction": red, "cpus": cpus}
        )
    )
    ((name, _),) = bench._bench_history(1.0, limit=1)
    assert name == "BENCH_LOCAL_r08.json"


def test_legacy_cpusless_record_is_full_machine_only(tmp_path, monkeypatch):
    """r17: a record WITHOUT a cpus key was recorded on the full
    machine. It must match full-machine runs and be SKIPPED by a
    low-core diagnostic run — 'matches any run' let an r17 c8 run
    ratchet against the c32 r16 record and rc=1 on the mapInPandas
    family (honestly ~2x slower at 1/4 the cores)."""
    import json
    import os

    monkeypatch.setattr(
        bench.os.path, "abspath", lambda p: str(tmp_path / "bench.py")
    )
    red = bench.REDUCTION
    legacy = {"queries": {"q_a": 1.0}, "sf": 0.1, "reduction": red}
    (tmp_path / "BENCH_LOCAL_r05.json").write_text(json.dumps(legacy))
    monkeypatch.setenv("SPARK_GRAFT_CPUS", "32")
    ((name, _),) = bench._bench_history(0.1, limit=1)
    assert name == "BENCH_LOCAL_r05.json"  # full-machine run: matches
    monkeypatch.setenv("SPARK_GRAFT_CPUS", "8")
    assert bench._bench_history(0.1, limit=1) == []  # low-core run: re-seeds
    # any_cpus=True (the foreign-cpus marker probe) still sees it
    assert bench._bench_history(0.1, limit=1, any_cpus=True)
    # A c4 run on a 4-core host: the cpus-less record is c32, whatever
    # the host's own count, so the run re-seeds (it used to ratchet
    # against the c32 record) ...
    monkeypatch.setattr(bench.os, "cpu_count", lambda: 4)
    monkeypatch.setenv("SPARK_GRAFT_CPUS", "4")
    assert bench._bench_history(0.1, limit=1) == []
    # ... and a c4 record lands on its own stem even when 4 is the
    # host's count, so the next c4 run ratchets on it
    bench._write_local({"queries": {"q_a": 2.0}, "sf": 0.1, "reduction": red, "cpus": 4})
    (written,) = tmp_path.glob("BENCH_LOCAL_c4_r*.json")
    ((name, doc),) = bench._bench_history(0.1, limit=1)
    assert name == written.name and doc["cpus"] == 4


@pytest.mark.parametrize("compact_first", [False, True],
                         ids=["full_then_compact", "compact_then_full"])
def test_multiline_record_file_raises_naming_it(
    tmp_path, monkeypatch, compact_first
):
    """A record is one ``json.dump`` and is read back with ``json.load``.
    A file holding anything else (here the full record and a compact
    line, in either order) is an error that names the file: skipping it
    would silently disable the ratchet."""
    import json

    monkeypatch.setattr(
        bench.os.path, "abspath", lambda p: str(tmp_path / "bench.py")
    )
    full = {
        "queries": {"q_a": 1.0},
        "sf": 0.1,
        "reduction": bench.REDUCTION,
        "cpus": bench._run_cpus(),
    }
    compact = {"queries": {}, "sf": 0.1}
    lines = [json.dumps(full), json.dumps(compact)]
    if compact_first:
        lines.reverse()
    (tmp_path / "BENCH_LOCAL_r05.json").write_text("\n".join(lines))
    with pytest.raises(ValueError, match="BENCH_LOCAL_r05.json"):
        bench._bench_history(0.1, limit=1)


def test_burst_contaminated_remeasure_retracts_on_second_record():
    """r16 composition: confirm-twice keeps BOTH samples; the
    baseline-anomaly check must anchor on the STEADIER one, so a flag
    whose second remeasure is consistent with the second-newest record
    retracts even when the burst-contaminated first sample would not."""
    regs = {
        "q_c": {
            "prev": 0.429,
            "remeasured": 0.866,
            "remeasured2": 0.724,
            "remeasure_drift": 1.12,
        }
    }
    timings = {"q_c": 1.523}
    history = [
        ("BENCH_LOCAL_r16.json", {"queries": {"q_c": 0.429}}),
        ("BENCH_LOCAL_r15.json", {"queries": {"q_c": 0.468}}),
    ]
    bench.retract_baseline_anomalies(regs, timings, history)
    assert regs == {}  # min(0.866,0.724)/1.12 = 0.646 < 0.468*1.5
    assert timings["q_c"] <= 0.65


def test_every_registered_query_has_a_bench_point():
    """bench.py sweeps the registry: every registered query exactly
    once, ``HEADLINE`` first and in its order (so ``value`` sums the
    same queries, measured first in the session), and no ``HEADLINE``
    name is a ghost."""
    from hive_gateway_spark import registry

    names = bench.sweep_order()
    assert sorted(names) == sorted(registry.QUERIES)
    assert names[: len(bench.HEADLINE)] == bench.HEADLINE
    ghosts = sorted(set(bench.HEADLINE) - set(registry.QUERIES))
    assert not ghosts, f"HEADLINE names with no registered query: {ghosts}"


def test_rebaselined_entries_resolve_and_skip_the_gate():
    """REBASELINED is the intentional-change ledger: each entry must
    name a registered query, and a listed query's prev time must not
    produce a flag (the ledger exists so a KNOWN cost change doesn't
    trip the reproduce-before-fail protocol)."""
    from hive_gateway_spark import registry

    registry.load_all()
    for name in bench.REBASELINED:
        assert name in registry.QUERIES, name
    # simulate the main() filtering: a rebaselined query 3x slower
    # than its record must not reach warm_gate at all
    prev = {"q_a": 1.0, "q_b": 1.0, "q_keep": 1.0}
    prev_filtered = {
        k: v for k, v in {**prev, "q_skip": 0.1}.items()
        if k not in {"q_skip"}
    }
    timings = {"q_a": 1.0, "q_b": 1.0, "q_keep": 1.0, "q_skip": 0.9}
    confirmed, first_pass, _ = bench.warm_gate(
        timings, prev_filtered, lambda n: 0.9
    )
    assert confirmed == {} and first_pass == {}


def test_anomalously_fast_baseline_sample_retracts_confirmed_flag():
    """The ratchet's dual failure mode (r16, q_brand_affinity): one
    anomalously FAST sample becomes the baseline and every honest
    later measurement 'reproduces' a phantom flag with the machine
    flat. A confirmed flag must be a regression against the last TWO
    records — vs prev2's normal value it isn't, so it retracts and
    the honest number supersedes the anomaly in the write-back."""
    regressions = {
        "q_x": {
            "prev": 0.381, "now": 0.625, "ratio": 1.64,
            "remeasured": 0.65, "remeasure_drift": 1.0,
        }
    }
    timings = {"q_x": 0.625}
    history = [
        ("BENCH_LOCAL_r16.json", {"queries": {"q_x": 0.381}}),
        ("BENCH_LOCAL_r15.json", {"queries": {"q_x": 0.727}}),
    ]
    bench.retract_baseline_anomalies(regressions, timings, history)
    assert regressions == {}
    assert timings["q_x"] == 0.625  # honest number kept, not the 0.381


def test_genuine_regression_fails_against_both_records():
    """A real slowdown is worse than BOTH records — the anomaly check
    must not launder it."""
    regressions = {
        "q_x": {
            "prev": 0.4, "now": 1.4, "ratio": 3.5,
            "remeasured": 1.38, "remeasure_drift": 1.0,
        }
    }
    timings = {"q_x": 1.4}
    history = [
        ("a.json", {"queries": {"q_x": 0.4}}),
        ("b.json", {"queries": {"q_x": 0.45}}),
    ]
    bench.retract_baseline_anomalies(regressions, timings, history)
    assert set(regressions) == {"q_x"}


def test_single_record_history_keeps_flag():
    """With no second record there is nothing to cross-check — the
    confirmed flag stands (first round under a new protocol)."""
    regressions = {
        "q_x": {"prev": 0.3, "now": 0.8, "remeasured": 0.8,
                "remeasure_drift": 1.0}
    }
    bench.retract_baseline_anomalies(
        regressions, {"q_x": 0.8}, [("only.json", {"queries": {"q_x": 0.3}})]
    )
    assert set(regressions) == {"q_x"}


def test_foreign_cpus_record_is_skipped(tmp_path, monkeypatch):
    """VERDICT r16 #6: the c8 diagnostic run used to ratchet against
    c32 baselines and flag shuffle-heavy queries that legitimately slow
    at 8 cores. Each core count keeps its own ratchet; a legacy record
    without the key counts as a full-machine record (see
    test_legacy_cpusless_record_is_full_machine_only)."""
    import json

    monkeypatch.setattr(
        bench.os.path, "abspath", lambda p: str(tmp_path / "bench.py")
    )
    red = bench.REDUCTION
    c32 = {"queries": {"q_a": 1.0}, "sf": 0.1, "reduction": red, "cpus": 32}
    (tmp_path / "BENCH_LOCAL_r05.json").write_text(json.dumps(c32))
    monkeypatch.setenv("SPARK_GRAFT_CPUS", "8")
    assert bench._bench_history(0.1, limit=1) == []  # foreign cpus: gate skips
    # ...but the any_cpus probe sees it, so main() can set the marker
    assert bench._bench_history(0.1, limit=1, any_cpus=True)
    # a c8 record ratchets later c8 runs
    c8 = {"queries": {"q_a": 2.0}, "sf": 0.1, "reduction": red, "cpus": 8}
    (tmp_path / "BENCH_LOCAL_c8_r06.json").write_text(json.dumps(c8))
    ((name, doc),) = bench._bench_history(0.1, limit=1)
    assert name == "BENCH_LOCAL_c8_r06.json" and doc["cpus"] == 8
    # and the c32 ratchet is untouched by the newer c8 record
    monkeypatch.setenv("SPARK_GRAFT_CPUS", "32")
    ((name, doc),) = bench._bench_history(0.1, limit=1)
    assert name == "BENCH_LOCAL_r05.json" and doc["cpus"] == 32
    # legacy record without cpus is full-machine-only: invisible to a
    # 16-core diagnostic run, exactly like the explicit c32 record
    # (r17 — 'matches any run' let a c8 run ratchet against the c32
    # r16 record and exit rc=1 on honestly-slower kernels)
    monkeypatch.setenv("SPARK_GRAFT_CPUS", "16")
    legacy = {"queries": {"q_a": 3.0}, "sf": 0.1, "reduction": red}
    (tmp_path / "BENCH_LOCAL_r04.json").write_text(json.dumps(legacy))
    assert bench._bench_history(0.1, limit=1) == []  # 16-core ratchet re-seeds


def test_second_remeasure_uses_fresh_drift():
    """ADVICE r16 #3: the second confirm-twice sample used the drift
    measured BEFORE the first remeasure. A co-tenant that arrives
    between the two windows must not confirm untouched code (or seed a
    stale-drift-adjusted write-back): one sentinel is re-sampled before
    the second remeasure and that FRESH drift normalizes it."""
    prev = {"q_a": 1.0, "q_b": 1.0, "q_c": 1.0}
    timings = {"q_a": 1.0, "q_b": 1.0, "q_c": 2.0}
    state = {"slow": False, "c_calls": 0}

    def remeasure(name):
        if name == "q_c":
            state["c_calls"] += 1
            if state["c_calls"] == 1:
                state["slow"] = True  # co-tenant arrives after sample 1
                return 2.0
            return 2.0  # still inside the slow window
        return 2.0 if state["slow"] else 1.0  # sentinels track the machine

    confirmed, first_pass, _ = bench.warm_gate(timings, prev, remeasure)
    assert confirmed == {}  # fresh drift 2.0 explains the second sample
    assert first_pass["q_c"]["remeasure_drift2"] == 2.0
    assert timings["q_c"] <= 1.0  # write-back normalized by fresh drift


def test_retracted_writeback_never_below_prev():
    """r17: the r16 driver record wrote remeasured/3.408 into 15
    retracted queries' baselines — values below any honest steady
    state, which made the next round's first run rc=1 on untouched
    code. A retracted flag's hypothesis was 'slower than prev'; its
    retraction establishes 'not slower', never 'faster', so the
    write-back is clamped at prev."""
    prev = {"q_a": 1.0, "q_b": 1.0, "q_c": 0.589}
    timings = {"q_a": 1.0, "q_b": 1.0, "q_c": 0.968}

    def remeasure(name):
        # burst hits the sentinel window: drift reads 3.4 while the
        # flagged query's fresh sample is honest steady state
        return {"q_a": 3.4, "q_b": 3.4, "q_c": 0.543}[name]

    confirmed, first_pass, _ = bench.warm_gate(timings, prev, remeasure)
    assert confirmed == {}
    # 0.543/3.4 = 0.159 — the phantom; the clamp keeps prev instead
    assert timings["q_c"] == 0.589


def test_committed_records_hold_no_drift_poisoned_baselines():
    """Records are read as written, so each committed record the gate
    can load must already satisfy the clamp warm_gate applies at write
    time: a retracted flag (in ``regressions_first_pass`` but not
    confirmed) keeps its timing at or above its own ``prev``. A
    sub-prev write-back would be a baseline no honest run can match.
    The files are checked as they are on disk."""
    import glob
    import json
    import os

    here = os.path.dirname(os.path.abspath(bench.__file__))
    paths = glob.glob(os.path.join(here, "BENCH_LOCAL_*.json"))
    sfs = set()
    for path in paths:
        with open(path) as f:
            sfs.add(json.load(f).get("sf"))
    checked = set()
    for sf in sfs:
        for name, _ in bench._bench_history(sf, limit=len(paths), any_cpus=True):
            checked.add(name)
            with open(os.path.join(here, name)) as f:
                doc = json.load(f)
            confirmed = doc.get("regressions") or {}
            for q, flag in (doc.get("regressions_first_pass") or {}).items():
                if q not in confirmed:
                    assert doc["queries"][q] >= flag["prev"], (name, q)
    assert "BENCH_LOCAL_r16.json" in checked
