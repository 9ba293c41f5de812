"""Execution-regime telemetry for the two-regime operators.

Nine operators pick between a small-input fast path and the distributed
loop (the 100 TB path): ``bounded_bfs``, ``kcore``, ``betweenness``,
``pagerank``, ``label_propagation``, ``personalized_pagerank`` and
``connected_components`` run driver-side below their edge limit,
``anf`` broadcasts its mask frame below its node limit, and
``covariance_spectrum`` iterates on the driver below its matrix-entry
limit. The choice is an internal planning decision, which made the
round-2 scale story unverifiable from the outside: nothing could
*observe* that a ×10 input actually crossed the gate. Every gate goes
through :func:`two_regime`, which decides and records the regime taken,
keyed by operator name; the scale sweep and the regime tests read it
back from ``LAST``.

``LAST`` is a plain module-level dict written only on the driver, and it
keeps the last record per operator. Registry queries may run on
concurrent driver threads (``run_overlapped``): two launches of one
operator at once leave whichever record came last, so a test that reads
``LAST`` runs the operator on one thread.
"""

from __future__ import annotations

import os

# operator name -> {"regime": "driver"|"broadcast"|"distributed", "size": int}
LAST: dict[str, dict] = {}


def force_distributed() -> bool:
    """True when SPARK_GRAFT_FORCE_DISTRIBUTED=1: every two-regime gate
    skips its driver fast path. The scale sweep sets this to measure a
    WITHIN-regime x10 ratio when an operator's gate legitimately crosses
    between the two SFs (driver at sf0.1, distributed at sf1): the
    cross-regime wall-clock ratio compares a numpy loop against a
    cluster loop and says nothing about the distributed path's scaling,
    which is the thing the linear-model cap exists to check."""
    return os.environ.get("SPARK_GRAFT_FORCE_DISTRIBUTED") == "1"


def record(op: str, regime: str, size: int) -> None:
    LAST[op] = {"regime": regime, "size": size}


def two_regime(op: str, n: int, limit: int, small: str = "driver") -> bool:
    """The gate every two-regime operator applies: True (take the
    ``small`` path) when ``0 < limit`` and ``n <= limit`` and the
    distributed path is not forced. Records the regime taken and ``n``
    under ``op``. Pass ``limit`` 0 to force the distributed path."""
    fast = limit > 0 and n <= limit and not force_distributed()
    record(op, small if fast else "distributed", n)
    return fast
