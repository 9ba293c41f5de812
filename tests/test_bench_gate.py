"""Unit tests for bench.py's regression gate (no Spark needed)."""

from __future__ import annotations

from bench import find_regressions


def test_flags_only_double_gate_violations():
    baseline = {"fast": 0.2, "mid": 2.0, "slow": 10.0}
    timings = {
        "fast": 0.9,   # 4.5x but only +0.7s absolute -> noise, not flagged
        "mid": 3.5,    # 1.75x and +1.5s -> flagged
        "slow": 12.0,  # +2s but only 1.2x -> not flagged
        "new": 50.0,   # no baseline -> never flagged
    }
    assert find_regressions(timings, baseline) == {"mid": [2.0, 3.5]}


def test_thresholds_are_parameters():
    baseline = {"q": 1.0}
    assert find_regressions({"q": 1.4}, baseline) == {}
    assert find_regressions({"q": 1.4}, baseline, ratio=1.2, abs_slack_s=0.1) == {
        "q": [1.0, 1.4]
    }


def test_empty_baseline_flags_nothing():
    assert find_regressions({"q": 100.0}, {}) == {}


def _solo(sec: float):
    """Stub matching make_solo_timer's contract: wall + telemetry."""
    return lambda name: {"sec": sec, "load1": 3.1, "gc_ms": 42.0}


def test_adjudicate_clears_ambient_suite_spikes():
    """A suite-time spike that re-times clean solo is recorded but cleared."""
    from bench import adjudicate_flags

    candidates = {"q_spiky": [4.0, 14.0]}  # 3.5x in-suite
    standing, cleared = adjudicate_flags(candidates, solo_timer=_solo(4.2))
    assert standing == {}
    rec = cleared["q_spiky"]
    assert rec["base"] == 4.0 and rec["suite"] == 14.0 and rec["solo"] == 4.2
    assert rec["cleared_by"] == "solo"
    # telemetry travels with the record (VERDICT r9 #1: evidence, not
    # narrative)
    assert rec["solo_load1"] == 3.1 and rec["solo_gc_ms"] == 42.0


def test_adjudicate_keeps_real_regressions():
    """Synthetic slowdown: solo re-time still exceeds the gate -> stands."""
    from bench import adjudicate_flags

    candidates = {"q_slow": [4.0, 14.0]}
    standing, cleared = adjudicate_flags(candidates, solo_timer=_solo(13.5))
    assert cleared == {}
    rec = standing["q_slow"]
    # both regimes recorded so the artifact shows the adjudication
    assert rec["suite"] == 14.0 and rec["solo"] == 13.5
    assert rec["solo_load1"] == 3.1 and rec["solo_gc_ms"] == 42.0


def test_adjudicate_same_double_gate_as_find_regressions():
    """Solo at 1.4x base (under ratio) or +0.9s (under abs slack) clears."""
    from bench import adjudicate_flags

    standing, cleared = adjudicate_flags(
        {"q": [2.0, 9.0]}, solo_timer=_solo(2.8)  # 1.4x -> under ratio
    )
    assert not standing and "q" in cleared
    standing, cleared = adjudicate_flags(
        {"q": [0.5, 9.0]}, solo_timer=_solo(1.3)  # 2.6x but +0.8s abs
    )
    assert not standing and "q" in cleared


# telemetry frame: q_ppr's own suite window shows elevated load vs the
# session median (ambient inflation corroborated by data)
_INFLATED_TELEMETRY = {
    "q_aaa": [3.0, 50.0],
    "q_bbb": [3.1, 40.0],
    "q_ppr": [9.5, 2000.0],  # elevated load1 AND gc in its window
    "q_zzz": [3.0, 45.0],
}
_CLEAN_TELEMETRY = {
    "q_aaa": [3.0, 50.0],
    "q_bbb": [3.1, 40.0],
    "q_ppr": [3.0, 45.0],  # nothing elevated — no inflation story
    "q_zzz": [3.0, 45.0],
}


def test_adjudicate_early_probe_clears_window_inflation():
    """A candidate whose EARLY-session probe met the gate clears even if
    its late-session solo re-time is inflated — the plan was demonstrably
    fast in the clean window, so the flag is machine-wide inflation by
    data (the r9 PPR/modularity pattern). The clear requires telemetry
    corroboration (ADVICE r10): the flagged window must actually LOOK
    inflated."""
    from bench import adjudicate_flags

    candidates = {"q_ppr": [1.8, 7.8]}
    streaks: dict[str, int] = {}
    standing, cleared = adjudicate_flags(
        candidates,
        solo_timer=_solo(4.3),
        early_probes={"q_ppr": 1.9},
        telemetry=_INFLATED_TELEMETRY,
        clear_streaks=streaks,
    )
    assert standing == {}
    rec = cleared["q_ppr"]
    assert rec["cleared_by"] == "early_probe" and rec["early"] == 1.9
    # consecutive-clear streak is incremented for the baseline ratchet
    assert streaks == {"q_ppr": 1}


def test_early_probe_clear_requires_telemetry_corroboration():
    """ADVICE r10: an early-probe clear with NO elevated load/GC in the
    flagged window stands as early_probe_uncorroborated — 'window
    inflation' needs evidence, not assertion."""
    from bench import adjudicate_flags

    candidates = {"q_ppr": [1.8, 7.8]}
    standing, cleared = adjudicate_flags(
        candidates,
        solo_timer=_solo(4.3),
        early_probes={"q_ppr": 1.9},
        telemetry=_CLEAN_TELEMETRY,
    )
    assert cleared == {}
    assert standing["q_ppr"]["early_probe_uncorroborated"] is True


def test_early_probe_clear_streak_is_capped():
    """ADVICE r10: a query may clear by early probe at most 2 consecutive
    rounds; on the third the flag STANDS (early_probe_cap) so a real
    regression that only manifests under accumulated suite state cannot
    be auto-cleared forever."""
    from bench import adjudicate_flags

    candidates = {"q_ppr": [1.8, 7.8]}
    standing, cleared = adjudicate_flags(
        candidates,
        solo_timer=_solo(4.3),
        early_probes={"q_ppr": 1.9},
        telemetry=_INFLATED_TELEMETRY,
        prior_streaks={"q_ppr": 2},
    )
    assert cleared == {}
    assert standing["q_ppr"]["early_probe_cap"] == 2
    # a second consecutive clear is still allowed (streak 1 -> 2)
    streaks: dict[str, int] = {}
    standing, cleared = adjudicate_flags(
        candidates,
        solo_timer=_solo(4.3),
        early_probes={"q_ppr": 1.9},
        telemetry=_INFLATED_TELEMETRY,
        prior_streaks={"q_ppr": 1},
        clear_streaks=streaks,
    )
    assert "q_ppr" in cleared and streaks == {"q_ppr": 2}


def test_window_inflated_uses_neighbors():
    """A spike on the alphabetical NEIGHBOR (same wall-clock window)
    corroborates too — suite runs sorted, so adjacent queries share
    machine state."""
    from bench import window_inflated

    tele = dict(_CLEAN_TELEMETRY)
    tele["q_bbb"] = [11.0, 40.0]  # neighbor of q_ppr? no — of q_aaa
    # q_bbb is adjacent to q_aaa and q_ppr in sorted order
    assert window_inflated("q_ppr", tele) is True
    assert window_inflated("q_zzz", tele) is False


def test_adjudicate_early_probe_cannot_save_a_real_regression():
    """If the early probe ALSO exceeds the gate, the flag stands — the
    probe is an extra chance to prove window inflation, not an override."""
    from bench import adjudicate_flags

    candidates = {"q_bad": [1.8, 7.8]}
    standing, cleared = adjudicate_flags(
        candidates, solo_timer=_solo(6.5), early_probes={"q_bad": 6.0}
    )
    assert cleared == {}
    assert standing["q_bad"]["early"] == 6.0


def test_early_probe_list_covers_last_rounds_driver_flags():
    """The pinned probe list must contain the queries the LAST driver
    bench flagged as standing regressions (BENCH_r11.json
    "regressions": bleu/bpe-merges/delete-upsert/simhash/overlap-
    matrix) — the per-round refresh discipline the list documents."""
    from bench import _EARLY_PROBES

    for name in (
        "q_bleu_pairs",
        "q_bpe_merges",
        "q_delete_upsert_audit",
        "q_simhash_pairs",
        "q_source_overlap_matrix",
    ):
        assert name in _EARLY_PROBES


def test_only_a_full_run_at_the_baseline_sf_is_gated():
    """The committed baseline is a full-suite run at one SF: a subset
    (SPARK_GRAFT_BENCH_ONLY) or a run at another SF would flag every
    query against it, so neither is gated, probed early, or written over
    the committed BENCH_SUMMARY/BENCH_DETAIL."""
    import json
    from pathlib import Path

    from bench import baseline_gated

    doc = json.loads(
        (Path(__file__).resolve().parent.parent / "bench_baseline.json").read_text()
    )
    assert doc["sf"] == 0.1
    assert baseline_gated(0.1, None, doc)  # the default sf0.1 full run
    assert not baseline_gated(1.0, None, doc)
    assert not baseline_gated(0.01, None, doc)
    assert not baseline_gated(0.1, {"q01_pricing_summary"}, doc)
    assert not baseline_gated(0.1, None, None)  # no baseline to gate against
