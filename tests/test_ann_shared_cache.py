"""The session-scoped ANN artifact cache (queries/vector._shared_get) is
read from concurrent driver threads: racing cold lookups of one key get
one frame, and stale-session eviction cannot fail under them."""

from __future__ import annotations

import threading
import time

from dumpty_spark.queries import vector


def test_cold_key_from_many_threads_gives_one_frame(spark):
    tag = "test-race"
    with vector._ANN_SHARED_LOCK:
        for i in range(50_000):
            vector._ANN_SHARED[(f"stale-app-{i}", "sf", tag)] = None
    barrier = threading.Barrier(8)
    got: list[object] = []
    errors: list[BaseException] = []

    def worker(k: int) -> None:
        def build():
            time.sleep(0.01 * (8 - k))  # builds finish in a spread order
            return spark.range(k + 1)

        try:
            barrier.wait()
            got.append(vector._shared_get(spark, "sf", tag, build))
        except BaseException as e:  # noqa: BLE001 - reported below
            errors.append(e)

    threads = [threading.Thread(target=worker, args=(k,)) for k in range(8)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    try:
        assert errors == []
        assert len(got) == 8
        assert len({id(g) for g in got}) == 1
        assert vector._shared_get(spark, "sf", tag, lambda: None) is got[0]
        app = spark.sparkContext.applicationId
        assert all(k[0] == app for k in vector._ANN_SHARED)
    finally:
        with vector._ANN_SHARED_LOCK:
            for k in [k for k in vector._ANN_SHARED if k[2] == tag]:
                del vector._ANN_SHARED[k]
