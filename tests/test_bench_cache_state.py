"""Pins the bench regression-gate cache discipline (VERDICT r7 #1):
every shared-cache consumer is adjudicated under the SAME cache state
its baseline is recorded under.

Baselines come from a suite run where ``prebuild_shared_caches`` ran
first (all consumers warm, builds gated as their own pseudo-entries);
the solo re-timer must therefore (a) leave the shared caches intact
when re-timing a REGISTRY query, and (b) re-time a ``shared_cache:*``
pseudo-entry cold by clearing exactly its own cache.
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import bench  # noqa: E402
from dumpty_spark import session  # noqa: E402

NAMESPACES = ("pairs", "jaccard", "ann")


def _cache_keys():
    """The session memo's keys in each shared-cache namespace."""
    with session._MEMO_LOCK:
        return tuple({k for k in session._MEMO if k[1] == ns} for ns in NAMESPACES)


def test_prebuild_populates_every_gated_cache(spark, sf_smoke):
    for ns in NAMESPACES:
        session.forget(ns)
    timings = bench.prebuild_shared_caches(spark, sf_smoke)
    assert set(timings) == {
        "shared_cache:pair_graph",
        "shared_cache:jaccard_graph",
        "shared_cache:ann_artifacts",
    }
    assert all(t >= 0 for t in timings.values())
    pair, jac, ann = _cache_keys()
    assert pair and jac and ann
    # the ANN builder materializes all three session artifacts
    tags = {k[3] for k in ann}
    assert {"cn", "cents16", "exact5"} <= tags


def test_solo_timer_keeps_consumer_cache_state_warm(spark, sf_smoke):
    """Re-timing a consumer query must NOT clear the shared caches —
    its baseline was recorded warm (post-prebuild), and a cold solo
    would structurally overstate it (the r7 q_pagerank_parts artifact)."""
    bench.prebuild_shared_caches(spark, sf_smoke)
    before = _cache_keys()
    solo = bench.make_solo_timer(spark, sf_smoke)
    rec = solo("q_pagerank_parts")
    assert rec["sec"] > 0
    # telemetry travels with every solo re-time (VERDICT r9 #1)
    assert "load1" in rec and "gc_ms" in rec
    assert _cache_keys() == before  # identical cache state as baseline


def test_solo_timer_rebuilds_pseudo_entry_cold(spark, sf_smoke):
    """A shared_cache:* pseudo-entry re-times COLD: exactly its own
    cache cleared and rebuilt, the state its baseline was recorded in."""
    bench.prebuild_shared_caches(spark, sf_smoke)
    _, jac_before, _ = _cache_keys()
    solo = bench.make_solo_timer(spark, sf_smoke)
    rec = solo("shared_cache:pair_graph")
    assert rec["sec"] > 0
    pair, jac, _ = _cache_keys()
    assert pair  # rebuilt
    assert jac == jac_before  # other caches untouched
