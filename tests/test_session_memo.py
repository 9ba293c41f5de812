"""``session.memo`` is read from concurrent driver threads (``run_overlapped``
and the threaded plan tests): eight threads asking at once for a cold key
get one build and one frame, and the eviction of 50,000 stale-session
entries cannot fail under them. Each cache that uses the memo is raced:
the bare memo (as the ANN artifacts use it), ``load_table``'s relations,
the co-purchase pair graph and the Jaccard pair graph."""

from __future__ import annotations

import os
import threading
import time

import pytest

from dumpty_spark import session
from dumpty_spark.queries import shared_graph
from dumpty_spark.sources import parquet as P

RACE_SF = "memo-race"  # a key no other test builds


def _bare(spark, sf_smoke, tmp_path, monkeypatch, builds):
    def get(k):
        def build():
            builds.append(k)
            time.sleep(0.01 * (8 - k))  # a racing build would finish late
            return spark.range(k + 1)

        return {"": session.memo(spark, ("ann", RACE_SF, "test-race"), build)}

    return get, ("ann", RACE_SF)


def _relation(spark, sf_smoke, tmp_path, monkeypatch, builds):
    names = ("region", "nation", "supplier", "part")
    sf = str(tmp_path / "cold")
    os.makedirs(sf)
    for n in names:
        os.link(P.table_path(sf_smoke, n), P.table_path(sf, n))
    footer_schema = P.footer_schema

    def counted(spark, path):
        builds.append(path)
        return footer_schema(spark, path)

    monkeypatch.setattr(P, "footer_schema", counted)

    def get(k):
        order = names[k % 4:] + names[:k % 4]
        return {n: P.load_table(spark, sf, n) for n in order}

    return get, ("relation", sf)


def _counted_loader(monkeypatch, builds, frame):
    def load_table(spark, sf_dir, name):
        builds.append(name)
        time.sleep(0.2)  # hold the build open while the other threads arrive
        return frame

    monkeypatch.setattr(shared_graph, "load_table", load_table)


def _pairs(spark, sf_smoke, tmp_path, monkeypatch, builds):
    li = spark.createDataFrame(
        [(1, 1), (1, 2), (1, 3), (2, 3), (2, 4)], "l_orderkey long, l_partkey long"
    )
    _counted_loader(monkeypatch, builds, li)
    return (
        lambda k: {"": shared_graph.copurchase_pairs(spark, RACE_SF)},
        ("pairs", RACE_SF),
    )


def _jaccard(spark, sf_smoke, tmp_path, monkeypatch, builds):
    docs = spark.createDataFrame(
        [(1, "the cat sat on the mat"), (2, "the cat sat on the mat"), (3, "a dog")],
        "doc_id long, text string",
    )
    _counted_loader(monkeypatch, builds, docs)
    return (
        lambda k: {"": shared_graph.jaccard_pair_graph(spark, RACE_SF)},
        ("jaccard", RACE_SF),
    )


CACHES = {"memo": _bare, "relation": _relation, "pairs": _pairs, "jaccard": _jaccard}


@pytest.mark.parametrize("cache", sorted(CACHES))
def test_cold_key_from_many_threads_builds_one_frame(
    spark, sf_smoke, tmp_path, monkeypatch, cache
):
    builds: list = []
    get, prefix = CACHES[cache](spark, sf_smoke, tmp_path, monkeypatch, builds)
    session.forget(*prefix)
    with session._MEMO_LOCK:
        for i in range(50_000):
            session._MEMO[(f"stale-app-{i}", "stale", i)] = None
    barrier = threading.Barrier(8)
    got: list[dict] = []
    errors: list[BaseException] = []

    def worker(k: int) -> None:
        try:
            barrier.wait()
            got.append(get(k))
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
        for name in got[0]:
            assert len({id(g[name]) for g in got}) == 1, name
        assert len(builds) == len(got[0])  # one build per cold key
        # a later caller gets the same frames
        assert {n: id(f) for n, f in get(0).items()} == {
            n: id(f) for n, f in got[0].items()
        }
        app = spark.sparkContext.applicationId
        assert all(k[0] == app for k in session._MEMO)
    finally:
        session.forget(*prefix)
        session.forget("stale")


def test_none_is_never_cached(spark):
    key = ("ann", RACE_SF, "test-none")
    assert session.memo(spark, key, lambda: None) is None
    frame = spark.range(1)
    try:
        assert session.memo(spark, key, lambda: frame) is frame
        assert session.memo(spark, key, lambda: None) is frame
    finally:
        session.forget(*key)


def test_relation_entries_are_bounded_lru(spark, sf_smoke, tmp_path, monkeypatch):
    """A session that loads tables from ever new directories (a fleet
    ingestion resolves each pass from a fresh one) keeps at most
    ``_RELATION_CAP`` relations, dropping the least recently used; hits,
    one build per cold key and other namespaces' entries survive the
    churn."""
    app = spark.sparkContext.applicationId
    cap = session._RELATION_CAP
    builds: list = []
    footer_schema = P.footer_schema

    def counted(spark, path):
        builds.append(path)
        return footer_schema(spark, path)

    monkeypatch.setattr(P, "footer_schema", counted)

    def relations():
        with session._MEMO_LOCK:
            return [k for k in session._MEMO if k[0] == app and k[1] == "relation"]

    ann_key = ("ann", RACE_SF, "test-lru")
    ann = session.memo(spark, ann_key, lambda: spark.range(1))
    dirs = []
    try:
        hot = P.load_table(spark, sf_smoke, "region")
        for i in range(cap // 2 + 3):  # more fresh directories than the cap holds
            d = str(tmp_path / f"fresh{i}")
            os.makedirs(d)
            for n in ("region", "nation"):
                os.link(P.table_path(sf_smoke, n), P.table_path(d, n))
            dirs.append(d)
            n0 = len(builds)
            first = {n: P.load_table(spark, d, n) for n in ("region", "nation")}
            assert len(builds) == n0 + 2  # one build per cold key
            again = {n: P.load_table(spark, d, n) for n in ("region", "nation")}
            assert {n: id(f) for n, f in again.items()} == {
                n: id(f) for n, f in first.items()
            }
            assert len(builds) == n0 + 2  # hits build nothing
            # a hot key stays: each hit makes it the most recently used
            assert P.load_table(spark, sf_smoke, "region") is hot
            assert len(relations()) <= cap
        assert len(relations()) == cap
        # the oldest directories went first and build again on demand
        assert ("relation", dirs[0], "region") not in {k[1:] for k in relations()}
        n0 = len(builds)
        P.load_table(spark, dirs[0], "region")
        assert len(builds) == n0 + 1
        assert session.memo(spark, ann_key, lambda: None) is ann
    finally:
        session.forget(*ann_key)
        for d in dirs:
            session.forget("relation", d)
