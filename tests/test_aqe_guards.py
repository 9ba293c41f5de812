"""Generalized AQE-coalescing guard (VERDICT r2 task 6).

The failure class (SCALE.md, the triangle lesson): AQE coalesces
post-shuffle partitions BY BYTES, so a shuffle that is byte-small but
CPU-heavy (adjacency self-joins, banded pair explosion, per-row numpy
UDFs) collapses to a handful of tasks and serializes the CPU work. The
fix is an explicit parallelism pin (``repartition(defaultParallelism)``
/ ``ensure_parallelism``) on exactly those exchanges.

This test asserts the pin HOLDS for each guarded query: at sf0.01 —
where every shuffle is byte-small, i.e. maximum coalescing pressure —
the widest stage of the query must still run at >= defaultParallelism
tasks. A regression that drops a pin (or a refactor that reroutes
around ensure_parallelism) fails here, not in a bench number three
rounds later.

Guarded exchanges, by query:
- q_triangle_count        — degree-ordered adjacency shuffles
                            (queries/relational3.py, commit 321d54d)
- q_pagerank_parts        — edge-build + per-round aggregation
                            (operators/graph.py entry repartition)
- q_canonical_docs        — shingle explode via ensure_parallelism
- q_dedup_clusters        — same banding front-end
- q_minhash_lsh_pairs     — banding front-end
- q_simhash_pairs         — chunk-banding front-end
- q_ngram_jaccard_pairs   — shingle self-join front-end
- q_ann_ivf_topk          — normalized-corpus scan (ensure_parallelism)
- q_ann_lsh_topk          — SRP signature matmul (ensure_parallelism)
- q_bigram_lm             — tokenization front-end (ensure_parallelism)

The vector/ANN entries pin to ``_VEC_MIN_PARTS`` (8), not the full core
count, since the r11 optimization round: their per-row work is a
dim-sized matmul — tiny next to task + Arrow-python-worker fixed cost —
and flooring tiny local corpora to 32 partitions made every concurrent
pandas-UDF stage a fresh 32-worker fork wave (see
operators/similarity.py). The guard still catches the real failure
class (a lost pin lets AQE collapse the stage to 1-2 tasks); the
asserted floor is just the floor the operator deliberately pins. At
real corpus scale the scan is wider than any floor and
ensure_parallelism never coalesces down.

NOT guarded, deliberately: q_fuzzy_match — its deletion-variant
self-join is pure JVM column work whose shuffle BYTES grow with the
data, so AQE's byte-based coalescing sizes it correctly at every scale;
pinning it would only add an artificial exchange at small SF.
"""

from __future__ import annotations

import pytest

from dumpty_spark.queries import REGISTRY

# name -> the parallelism floor that query's pin guarantees: None means
# the session's defaultParallelism; vector/ANN stages deliberately pin
# the smaller _VEC_MIN_PARTS floor (see module docstring)
GUARDED = {
    "q_triangle_count": None,
    "q_pagerank_parts": None,
    "q_canonical_docs": None,
    "q_dedup_clusters": None,
    "q_minhash_lsh_pairs": None,
    "q_simhash_pairs": None,
    "q_ngram_jaccard_pairs": None,
    "q_ann_ivf_topk": "vec",
    "q_ann_lsh_topk": "vec",
    "q_bigram_lm": None,
}


def stage_task_counts(spark, fn, sf_dir: str, group: str) -> list[int]:
    sc = spark.sparkContext
    sc.setJobGroup(group, group, False)
    try:
        fn(spark, sf_dir).collect()
    finally:
        sc.setJobGroup(None, None, False)
    tracker = sc.statusTracker()
    counts = []
    for jid in tracker.getJobIdsForGroup(group):
        info = tracker.getJobInfo(jid)
        if info is None:
            continue
        for sid in info.stageIds:
            sinfo = tracker.getStageInfo(sid)
            if sinfo is not None:
                counts.append(sinfo.numTasks)
    return counts


@pytest.mark.parametrize("name", sorted(GUARDED))
def test_cpu_heavy_query_keeps_parallelism_floor(spark, sf_t2, name):
    # the guarded exchanges now live inside the session-shared artifact
    # builds (shared_graph caches) for several of these queries — clear
    # them so THIS job group measures the build path, which is where the
    # parallelism pin must hold
    from dumpty_spark.operators.similarity import _VEC_MIN_PARTS
    from dumpty_spark.session import forget

    forget("pairs")
    forget("jaccard")
    par = spark.sparkContext.defaultParallelism
    floor = _VEC_MIN_PARTS if GUARDED[name] == "vec" else par
    floor = min(floor, par)
    counts = stage_task_counts(spark, REGISTRY[name].fn, sf_t2, f"aqe-guard-{name}")
    assert counts, f"{name}: no stages observed"
    assert max(counts) >= floor, (
        f"{name}: widest stage ran {max(counts)} tasks < the pinned floor "
        f"{floor} — a parallelism pin was lost (AQE byte-based coalescing "
        f"has collapsed a CPU-heavy shuffle; see SCALE.md)"
    )
