#!/usr/bin/env python
"""Benchmark: run every registered query at $SPARK_GRAFT_SF_DIR (default
sf0.1) on local[$SPARK_GRAFT_CPUS] and print ONE JSON line:
{"metric": ..., "value": total_sec, "unit": "sec", "queries": {...}, "sf": ...}

Regression governance: if bench_baseline.json exists (the committed
prior-round per-query timings), any query slower than 1.5x its baseline
AND >1s absolute is reported on stderr and under the "regressions" key;
with SPARK_GRAFT_BENCH_STRICT=1 such regressions fail the run. Session-
shared derived-artifact caches are pre-built COLD before the loop and
gated as their own "shared_cache:*" pseudo-entries, so every consumer
query is timed (and solo-adjudicated) WARM — the same state its
baseline was recorded under. A compact
BENCH_SUMMARY.json (total + worst-5) is written next to this script each
run so driver-side artifact truncation can never hide bench state.

The printed line carries ONLY the driver contract (metric/value/unit/
queries/sf) plus small counters and the standing-regression map;
per-query telemetry, early probes, cleared-flag adjudication evidence
and window diagnostics are written to BENCH_DETAIL.json instead (r12:
the r11 line outgrew the driver's capture and broke the
round-over-round PERF comparison).
"""

from __future__ import annotations

import json
import os
import sys
import time

from dumpty_spark.queries import REGISTRY
from dumpty_spark.session import codegen_compiles, forget, get_session

# ---------------------------------------------------------------------------
# Early-session probes (VERDICT r9, next-round #1): any query the DRIVER's
# previous-round bench flagged as a standing regression gets timed
# immediately after warmup + cache prebuild — the cleanest window the
# session ever has — BEFORE the 336-query suite accumulates GC/scheduler
# state. A late-session flag whose early probe met the gate is then
# machine-wide window inflation BY DATA (the plan was fast when the
# session was clean), not narrative. Update this tuple each round from
# BENCH_r{N}.json's standing flags.
# ---------------------------------------------------------------------------
_EARLY_PROBES = (
    # r11 DRIVER bench standing flags (BENCH_r11.json "regressions"):
    # every one carried solo load1 4.2-9.1 + 378-991ms solo GC in its
    # telemetry row and four of five were untouched that round — probed
    # early so the next driver run disposes of them mechanically
    "q_bleu_pairs",
    "q_bpe_merges",
    "q_delete_upsert_audit",
    "q_simhash_pairs",
    "q_source_overlap_matrix",
    # adjudicated this round (overlap-vs-sequential A/B, kept overlap);
    # one more round of early-probe continuity
    "q_zorder_skipping",
)


def _gc_ms(spark) -> float:
    """Cumulative JVM GC time (ms) across all collectors — deltas around
    a query isolate ITS collection cost from ambient session state."""
    beans = (
        spark.sparkContext._jvm.java.lang.management.ManagementFactory
        .getGarbageCollectorMXBeans()
    )
    total = 0.0
    for i in range(beans.size()):
        t = beans.get(i).getCollectionTime()
        if t > 0:
            total += t
    return total

# ---------------------------------------------------------------------------
# Session-shared derived-artifact caches (VERDICT r7, What's wrong #1 /
# next-round #1): baselines for cache-CONSUMER queries must be recorded
# under the same cache state they are adjudicated under. The suite
# pre-builds every shared cache ONCE (timed, recorded as its own
# "shared_cache:*" pseudo-entry that flows through the identical
# regression gate), so every consumer's suite time AND its solo re-time
# are both WARM — no consumer's number silently includes the build cost
# depending on alphabetical position, and the build cost itself is
# gated explicitly instead of hiding inside whichever consumer ran
# first.
# ---------------------------------------------------------------------------


def _cache_builders():
    from dumpty_spark.queries import shared_graph, vector

    def _ann(spark, sf_dir):
        vector._shared_ann_artifacts(spark, sf_dir, nlist=16)
        vector._shared_exact_topk(spark, sf_dir)

    # pseudo-entry -> (build, the session.memo namespace it fills)
    return {
        "shared_cache:pair_graph": (shared_graph.copurchase_pairs, "pairs"),
        "shared_cache:jaccard_graph": (shared_graph.jaccard_pair_graph, "jaccard"),
        "shared_cache:ann_artifacts": (_ann, "ann"),
    }


def prebuild_shared_caches(spark, sf_dir: str) -> dict[str, float]:
    """Build (and time) every session-shared derived artifact cold, in a
    fixed order. Returns {pseudo_query_name: seconds}."""
    out: dict[str, float] = {}
    for name, (build, _namespace) in _cache_builders().items():
        t0 = time.perf_counter()
        build(spark, sf_dir)
        out[name] = round(time.perf_counter() - t0, 4)
    return out


def make_solo_timer(spark, sf_dir: str):
    """Solo re-timer matching baseline recording conditions exactly:
    a REGISTRY query re-runs WARM (shared caches left intact — the
    state its suite baseline was recorded under, post-prebuild); a
    "shared_cache:*" pseudo-entry re-runs COLD (its own cache cleared
    first — the state ITS baseline was recorded under).

    Min of TWO runs, symmetric with the main loop's >2s re-run rule:
    solo retimes execute at the very END of the bench, where a single
    measurement inherits whatever late-session GC/scheduler state the
    suite accumulated — the r9 clean-window runs showed EVERY solo
    2-4x its own suite time in one degraded window, which makes
    one-shot solo adjudication stand false flags (the inverse polarity
    of the r7 suite-only blind spot)."""
    builders = _cache_builders()

    def one(name: str) -> float:
        if name in builders:
            build, namespace = builders[name]
            forget(namespace)
            t0 = time.perf_counter()
            build(spark, sf_dir)
            elapsed = time.perf_counter() - t0
        else:
            t0 = time.perf_counter()
            REGISTRY[name].fn(spark, sf_dir).collect()
            elapsed = time.perf_counter() - t0
        spark.catalog.clearCache()
        spark.sparkContext._jvm.System.gc()
        return elapsed

    def solo_timer(name: str) -> dict:
        """min-of-two wall + the telemetry of the faster run: 1-min load
        average at start and the JVM GC-time delta across the run, so a
        standing flag carries machine-state evidence, not just a number."""
        best = None
        for _ in range(2):
            load1 = os.getloadavg()[0]
            g0 = _gc_ms(spark)
            t = one(name)
            rec = {
                "sec": t,
                "load1": round(load1, 2),
                "gc_ms": round(_gc_ms(spark) - g0, 1),
            }
            if best is None or rec["sec"] < best["sec"]:
                best = rec
        return best

    return solo_timer


def find_regressions(
    timings: dict[str, float],
    baseline: dict[str, float],
    ratio: float = 1.5,
    abs_slack_s: float = 1.0,
) -> dict[str, list[float]]:
    """Per-query regression detection vs a prior-round baseline: flagged
    when BOTH slower than ratio x baseline AND more than abs_slack_s
    absolute — the double gate keeps millisecond-scale noise and
    ambient-load jitter from flagging."""
    out: dict[str, list[float]] = {}
    for name, t in timings.items():
        base = baseline.get(name)
        if base and t > ratio * base and t - base > abs_slack_s:
            out[name] = [base, t]
    return out


def window_inflated(
    name: str, telemetry: dict[str, list[float]]
) -> bool:
    """Corroborate a 'window inflation' story with DATA (ADVICE r10):
    the flagged query's suite window counts as inflated only if its own
    run — or an alphabetically adjacent neighbor's (same wall-clock
    window, suite runs sorted) — shows elevated 1-min load or GC versus
    the session medians. Without this, any suite spike could be waved
    off as ambient with no evidence."""
    if name not in telemetry:
        return False
    loads = sorted(v[0] for v in telemetry.values())
    gcs = sorted(v[1] for v in telemetry.values())
    if not loads:
        return False
    med_load = loads[len(loads) // 2]
    med_gc = gcs[len(gcs) // 2]
    names = sorted(telemetry)
    i = names.index(name)
    neighborhood = names[max(0, i - 1): i + 2]
    for n in neighborhood:
        load1, gc_ms = telemetry[n][:2]
        if load1 > 1.25 * med_load + 0.5 or gc_ms > max(4 * med_gc, 500.0):
            return True
    return False


def window_summary(telemetry: dict[str, list[float]], flagged: set[str]) -> dict:
    """Run-level window quality (VERDICT r10 #7): median/p90 load, total
    GC and total codegen compiles expose how clean this session's
    machine window was, and each flag's suite position shows WHERE in
    the session it spiked — readable from the summary without opening
    BASELINE.md."""
    loads = sorted(v[0] for v in telemetry.values())
    suite_order = sorted(telemetry)
    return {
        "median_load1": loads[len(loads) // 2] if loads else None,
        "p90_load1": loads[int(len(loads) * 0.9)] if loads else None,
        "total_gc_ms": round(sum(v[1] for v in telemetry.values()), 1),
        "total_compiles": sum(v[2] for v in telemetry.values()),
        "flag_suite_position": {
            n: suite_order.index(n) for n in sorted(flagged) if n in telemetry
        },
        "suite_len": len(suite_order),
    }


def adjudicate_flags(
    candidates: dict[str, list[float]],
    solo_timer,
    early_probes: dict[str, float] | None = None,
    ratio: float = 1.5,
    abs_slack_s: float = 1.0,
    telemetry: dict[str, list[float]] | None = None,
    prior_streaks: dict[str, int] | None = None,
    clear_streaks: dict[str, int] | None = None,
) -> tuple[dict[str, dict], dict[str, dict]]:
    """Self-clearing flags (VERDICT r4, What's wrong #3) made MECHANICAL
    (VERDICT r9, next-round #1): a query that spikes inside the suite but
    times clean when re-run SOLO right after is ambient scheduling/GC
    luck, not a plan regression. Each candidate is re-timed min-of-two
    solo WITH telemetry (1-min load average + JVM GC delta); additionally,
    a candidate that was probed EARLY in the session (fresh post-warmup
    window, before the suite accumulated state) clears on its early-probe
    time — the plan was demonstrably fast when the machine was clean, so
    a late-session flag is window inflation by data. The flag STANDS only
    if BOTH the solo re-time and (when present) the early probe exceed
    the same double gate. Every record carries {base, suite, solo,
    solo_load1, solo_gc_ms[, early, cleared_by]} so the artifact shows
    the adjudication evidence, not just the verdict.

    Early-probe clears are BOUNDED (ADVICE r10): a query pinned in
    _EARLY_PROBES could otherwise never produce a standing flag, hiding
    a real regression that only manifests under accumulated suite state.
    Two guards: (a) the clear requires telemetry corroboration — the
    flagged suite window (query or an adjacent neighbor) must show
    elevated load1/gc_ms vs session medians, else the flag STANDS with
    ``early_probe_uncorroborated``; (b) a query may clear by early probe
    at most 2 consecutive rounds (streak carried in
    bench_baseline.json's ``early_probe_clear_streak``) — the third
    consecutive attempt STANDS with ``early_probe_cap`` so a human
    investigates instead of the probe auto-clearing forever."""
    early_probes = early_probes or {}
    telemetry = telemetry or {}
    prior_streaks = prior_streaks or {}
    standing: dict[str, dict] = {}
    cleared: dict[str, dict] = {}

    def gate(t: float, base: float) -> bool:
        return t > ratio * base and t - base > abs_slack_s

    for name, (base, suite_t) in sorted(candidates.items()):
        solo = solo_timer(name)
        rec = {
            "base": base,
            "suite": suite_t,
            "solo": round(float(solo["sec"]), 4),
            "solo_load1": solo["load1"],
            "solo_gc_ms": solo["gc_ms"],
        }
        if name in early_probes:
            rec["early"] = early_probes[name]
        if not gate(rec["solo"], base):
            rec["cleared_by"] = "solo"
            cleared[name] = rec
        elif name in early_probes and not gate(early_probes[name], base):
            streak = prior_streaks.get(name, 0)
            if streak >= 2:
                rec["early_probe_cap"] = streak
                standing[name] = rec
            elif not window_inflated(name, telemetry):
                rec["early_probe_uncorroborated"] = True
                standing[name] = rec
            else:
                rec["cleared_by"] = "early_probe"
                if clear_streaks is not None:
                    clear_streaks[name] = streak + 1
                cleared[name] = rec
        else:
            standing[name] = rec
    return standing, cleared


def baseline_gated(sf, only: set[str] | None, base_doc: dict | None) -> bool:
    """Whether a run is gated against ``base_doc`` (the committed
    bench_baseline.json, None when there is none). The baseline is a
    full-suite artifact at one SF, and a subset or another SF compared
    against it would flag everything: such a run skips the regression
    gate and the early probes, and writes suffixed side artifacts."""
    return only is None and base_doc is not None and base_doc.get("sf") == sf


def main() -> int:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = os.path.basename(sf_dir.rstrip("/")).replace("sf", "")
    sf = float(sf) if sf.replace(".", "").isdigit() else sf
    # SPARK_GRAFT_BENCH_ONLY (r12, VERDICT r11 next-round #4): comma-
    # separated query names restrict the timed loop — the knob that lets
    # the ×10 scale leg time the expensive subset at a bigger SF without
    # a 355-query session. Only a full run at the baseline's SF is gated
    # (baseline_gated).
    only_env = os.environ.get("SPARK_GRAFT_BENCH_ONLY", "").strip()
    only = {q for q in only_env.split(",") if q} if only_env else None
    here = os.path.dirname(os.path.abspath(__file__))
    baseline_path = os.path.join(here, "bench_baseline.json")
    base_doc = None
    if os.path.exists(baseline_path):
        with open(baseline_path) as fh:
            base_doc = json.load(fh)
    gated = baseline_gated(sf, only, base_doc)
    spark = get_session("dumpty-spark-bench")

    # JVM/codegen + Python-worker warmup on the smallest SF so per-query
    # timings measure the query, not JIT or the one-time worker spawn.
    warm_dir = "/root/testdata/sf0.001"
    if os.path.isdir(warm_dir):
        REGISTRY["q01_pricing_summary"].fn(spark, warm_dir).collect()
        REGISTRY["q_pandas_scalar_udf"].fn(spark, warm_dir).collect()

    # pre-build the session-shared caches COLD and record each build as
    # its own gated pseudo-entry — every consumer below then runs WARM,
    # the same state its baseline was recorded under (VERDICT r7 #1)
    timings: dict[str, float] = dict(prebuild_shared_caches(spark, sf_dir))

    # early-session probes: time last round's driver-flagged queries in
    # the freshest window the session has (post-warmup, post-prebuild,
    # pre-suite, min of two) — evidence for mechanical flag disposition
    early_probes: dict[str, float] = {}
    for name in _EARLY_PROBES if gated else ():
        if name in REGISTRY:
            runs = []
            for _ in range(2):
                t0 = time.perf_counter()
                REGISTRY[name].fn(spark, sf_dir).collect()
                runs.append(time.perf_counter() - t0)
                spark.catalog.clearCache()
                spark.sparkContext._jvm.System.gc()
            early_probes[name] = round(min(runs), 4)

    telemetry: dict[str, list[float]] = {}
    for name, spec in sorted(REGISTRY.items()):
        if only is not None and name not in only:
            continue
        load1 = os.getloadavg()[0]
        g0 = _gc_ms(spark)
        c0 = codegen_compiles(spark)[0]
        t0 = time.perf_counter()
        spec.fn(spark, sf_dir).collect()
        elapsed = time.perf_counter() - t0
        gc_d = _gc_ms(spark) - g0
        cg_d = codegen_compiles(spark)[0] - c0
        # caches are per-operator working sets; dropping them between
        # queries keeps measurements independent of suite order, and the
        # driver-side GC lets the ContextCleaner actually reclaim the
        # dropped blocks/broadcasts/shuffles (it only runs on GC), so a
        # query is never charged for its predecessors' leftovers
        spark.catalog.clearCache()
        spark.sparkContext._jvm.System.gc()
        if elapsed > 2.0:
            # slow first runs are dominated by one-time plan compile and
            # GC/scheduler luck (same wall-clock at sf0.001 and sf0.1,
            # measured) — re-run once and keep the min so the recorded
            # number tracks the query, not the JVM's mood
            load1b = os.getloadavg()[0]
            g0 = _gc_ms(spark)
            c0 = codegen_compiles(spark)[0]
            t1 = time.perf_counter()
            spec.fn(spark, sf_dir).collect()
            e2 = time.perf_counter() - t1
            if e2 < elapsed:
                elapsed, load1, gc_d = e2, load1b, _gc_ms(spark) - g0
                cg_d = codegen_compiles(spark)[0] - c0
            spark.catalog.clearCache()
            spark.sparkContext._jvm.System.gc()
        timings[name] = round(elapsed, 4)
        # [1-min load average at start, JVM GC ms during the kept run,
        # generated classes it compiled] — lets a reader separate
        # machine-wide inflation (high load/GC across NEIGHBORS too) from
        # a query-specific change (VERDICT r9 next-round #1: adjudication
        # by data, not narrative), and shows a run that paid for codegen
        # its warm baseline did not
        telemetry[name] = [round(load1, 2), round(gc_d, 1), cg_d]

    out = {
        "metric": "total_query_wall_sec",
        "value": round(sum(timings.values()), 4),
        "unit": "sec",
        "queries": timings,
        "sf": sf,
        # non-pseudo registry entries; the 3 "shared_cache:*" keys inside
        # "queries" are gated cache-build pseudo-entries, counted apart
        "n_queries": sum(1 for k in timings if not k.startswith("shared_cache:")),
        "n_shared_caches": sum(1 for k in timings if k.startswith("shared_cache:")),
    }
    # Telemetry, early probes, flag adjudication evidence and window
    # diagnostics go to BENCH_DETAIL.json, NOT the printed line: the r11
    # line grew past the driver's capture limit, which truncated
    # BENCH_r10/r11.json and broke the round-over-round comparison
    # (PERF_r11.json prev_bench_ok:false, n_common:0 — VERDICT r11,
    # What's wrong #3 / next-round #2). The printed line keeps exactly
    # the driver contract (metric/value/unit/queries/sf) plus the small
    # counters and standing-regression map; everything diagnostic lives
    # in the side file, same content as before, committed per round.
    detail = {
        "telemetry": telemetry,
        "early_probes": early_probes,
    }

    # regression gate vs the committed prior-round baseline
    regressions: dict = {}
    clear_streaks: dict[str, int] = {}
    if gated:
        baseline = base_doc.get("queries", {})
        candidates = find_regressions(timings, baseline)
        standing, cleared = adjudicate_flags(
            candidates,
            make_solo_timer(spark, sf_dir),
            early_probes,
            telemetry=telemetry,
            prior_streaks=base_doc.get("early_probe_clear_streak", {}),
            clear_streaks=clear_streaks,
        )
        for name, rec in sorted(standing.items()):
            print(
                f"REGRESSION {name}: base {rec['base']:.2f}s -> suite "
                f"{rec['suite']:.2f}s, solo {rec['solo']:.2f}s "
                f"(stands; load1 {rec['solo_load1']}, gc "
                f"{rec['solo_gc_ms']}ms"
                + (f", early {rec['early']:.2f}s" if "early" in rec else "")
                + ")",
                file=sys.stderr,
            )
        for name, rec in sorted(cleared.items()):
            print(
                f"cleared flag {name} by {rec['cleared_by']}: suite "
                f"{rec['suite']:.2f}s was ambient (solo {rec['solo']:.2f}s"
                + (f", early {rec['early']:.2f}s" if "early" in rec else "")
                + f" vs base {rec['base']:.2f}s)",
                file=sys.stderr,
            )
        regressions = standing
        detail["cleared_flags"] = cleared
    out["regressions"] = regressions

    worst = sorted(timings.items(), key=lambda kv: -kv[1])[:5]
    window = window_summary(
        telemetry, set(regressions) | set(detail.get("cleared_flags", {}))
    )
    detail["window"] = window
    # ungated runs (a subset, another SF) must not clobber the
    # committed full-suite side artifacts
    sfx = "" if gated else "_subset" if only is not None else f"_sf{sf}"
    with open(os.path.join(here, f"BENCH_DETAIL{sfx}.json"), "w") as fh:
        fh.write(json.dumps(detail) + "\n")
    with open(os.path.join(here, f"BENCH_SUMMARY{sfx}.json"), "w") as fh:
        fh.write(
            json.dumps(
                {
                    "total_sec": out["value"],
                    "n_queries": out["n_queries"],
                    "sf": out["sf"],
                    "worst5": dict(worst),
                    "n_regressions": len(regressions),
                    "early_probes": early_probes,
                    "standing": regressions,
                    "window": window,
                    # next round's baseline ratchet copies this into
                    # bench_baseline.json so the cap is cross-round state
                    "early_probe_clear_streak": clear_streaks,
                }
            )
            + "\n"
        )

    print(json.dumps(out))
    if regressions and os.environ.get("SPARK_GRAFT_BENCH_STRICT") == "1":
        return 1
    return 0


if __name__ == "__main__":
    sys.exit(main())
