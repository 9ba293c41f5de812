"""Manifest-commit protocol for the at-rest mutators (VERDICT r2 task 2).

On a plain parquet directory the mutators (``delete_keys``/
``upsert_keys``/``merge_keys``/``compact_parquet`` in sinks/writers.py)
swap files in place — atomic per file via ``os.replace``, but a crash
between two file swaps leaves a HALF-MUTATED dataset visible to readers.
This module is the fix: the snapshot-isolation commit protocol that
Delta/Iceberg made standard (public designs — log + atomic pointer swap),
reduced to its minimum viable core for a filesystem parquet store. The
reference leans on the equivalent GCS manifest committer
(config.yaml.example:30-34); this is our native analog.

Layout::

    {root}/_VERSION              # pointer: the current version number
    {root}/_manifests/v{N}.json  # immutable: file list of snapshot N
    {root}/data/*.parquet        # immutable data files, never mutated

Protocol invariants:

- **Data files are immutable.** A mutation writes NEW files under
  ``data/`` (names prefixed with the target version, so a crashed
  attempt's leftovers can never collide with a later one), never touches
  existing ones.
- **Publish is ONE atomic step**: write manifest v{N+1}, then
  ``os.replace`` a temp file onto ``_VERSION``. POSIX rename is atomic,
  so every reader resolves either N or N+1 — never a mix. A crash
  anywhere before that final replace leaves ``_VERSION`` at N and the
  staged files unreferenced (invisible to readers, reclaimed by
  ``vacuum``).
- **Readers never list the directory.** ``read_store`` resolves
  ``_VERSION`` → manifest → explicit file list, so half-staged files are
  structurally unreadable, not just unlikely-to-be-read.
- Single writer assumed (like every at-rest store here); on a cluster
  the ``_VERSION`` swap maps to the object store's
  compare-and-swap/preconditioned copy.

Time travel falls out for free: ``read_store(..., version=N)`` reads any
retained snapshot.

The keyed mutators have no code of their own here: ``sinks.writers``
runs one path for both store kinds and forks only at the publish, where
a versioned store stages files (``_stage_dataframe``) and commits them
(``commit_mutation``) under ``_commit_lock``.
"""

from __future__ import annotations

import contextlib
import glob
import json
import os
import shutil

from pyspark.sql import DataFrame, SparkSession

_VERSION_FILE = "_VERSION"
_MANIFEST_DIR = "_manifests"
_DATA_DIR = "data"
_COMMIT_LOCK = ".commit.lock"


class ConcurrentWriteError(RuntimeError):
    """A second writer attempted to commit while another commit was in
    flight. The loser fails CLEANLY: nothing it staged is referenced by
    any manifest, the store stays readable at the winner's version, and
    vacuum reclaims the orphaned staging output."""


@contextlib.contextmanager
def _commit_lock(root: str):
    """Exclusive commit section: read-version → stage → publish must be
    one critical section, else two writers both read version N and both
    publish N+1 — the first commit silently vanishes (and their staged
    files, named for the same target version, can collide). O_EXCL file
    creation is the arbiter — atomic on POSIX and cheap, works for
    threads and processes alike; on an object store this maps to an
    if-not-exists precondition. Non-blocking by design: a real writer
    queue belongs in the orchestrator, not hidden in a storage
    primitive. A crash while holding leaves a stale lock; the error
    message names the file to remove (same contract as plans/state.py's
    run lock)."""
    os.makedirs(root, exist_ok=True)
    path = os.path.join(root, _COMMIT_LOCK)
    try:
        fd = os.open(path, os.O_CREAT | os.O_EXCL | os.O_WRONLY)
    except FileExistsError as e:
        raise ConcurrentWriteError(
            f"versioned store {root} has a commit in flight "
            f"(remove {path} if stale)"
        ) from e
    try:
        os.write(fd, str(os.getpid()).encode())
        yield
    finally:
        os.close(fd)
        with contextlib.suppress(FileNotFoundError):
            os.remove(path)


def is_versioned(root: str) -> bool:
    return os.path.isfile(os.path.join(root, _VERSION_FILE))


def current_version(root: str) -> int:
    with open(os.path.join(root, _VERSION_FILE)) as fh:
        return int(fh.read().strip())


def _manifest_path(root: str, version: int) -> str:
    return os.path.join(root, _MANIFEST_DIR, f"v{version}.json")


def read_manifest(root: str, version: int | None = None) -> dict:
    if version is None:
        version = current_version(root)
    with open(_manifest_path(root, version)) as fh:
        m = json.load(fh)
    m["version"] = version
    return m


def data_files(root: str, version: int | None = None) -> list[str]:
    """Absolute paths of the files in a snapshot, manifest order."""
    m = read_manifest(root, version)
    return [os.path.join(root, _DATA_DIR, f) for f in m["files"]]


def read_store(
    spark: SparkSession, root: str, version: int | None = None
) -> DataFrame:
    """Snapshot read: resolve pointer → manifest → explicit file list.
    An empty snapshot reads back as an empty frame with the schema
    recorded at last non-empty commit (parquet needs ≥1 file, so the
    manifest carries a schema sample file for the empty case)."""
    files = data_files(root, version)
    if not files:
        m = read_manifest(root, version)
        sample = m.get("schema_sample")
        if sample is None:
            raise ValueError(f"empty versioned store with no schema sample: {root}")
        return spark.read.parquet(os.path.join(root, _DATA_DIR, sample)).limit(0)
    # mergeSchema: a snapshot may legitimately mix file schemas after an
    # additive evolution (a commit_snapshot with a new column leaves
    # later keyed mutations carrying the wide schema while untouched
    # files keep the old one) — old files read the new columns as NULL
    return spark.read.option("mergeSchema", "true").parquet(*files)


def _stage_dataframe(
    df: DataFrame, root: str, version: int, tag: str, partitions: int | None = None
) -> list[str]:
    """Write df into data/ as immutable files named for the version that
    will reference them. Returns the new files' basenames (NOT yet
    visible: nothing references them until commit). ``partitions``
    shapes the files as every sink write does (``writers._sized``)."""
    from dumpty_spark.sinks.writers import _sized  # writers imports this module

    tmp = os.path.join(root, f"__stage_v{version}_{tag}")
    _sized(df, partitions).write.mode("overwrite").parquet(tmp)
    names = []
    os.makedirs(os.path.join(root, _DATA_DIR), exist_ok=True)
    for i, part in enumerate(
        sorted(p for p in glob.glob(os.path.join(tmp, "part-*")) if os.path.isfile(p))
    ):
        name = f"v{version}-{tag}-{i:05d}.parquet"
        os.replace(part, os.path.join(root, _DATA_DIR, name))
        names.append(name)
    shutil.rmtree(tmp)
    return names


# test seam: crash-injection hook, called at named points inside the
# commit sequence; tests monkeypatch it to raise and then assert readers
# still resolve the PRIOR snapshot (see tests/test_manifest_store.py)
_crash_hook = None


def _maybe_crash(point: str) -> None:
    if _crash_hook is not None:
        _crash_hook(point)


def _publish(root: str, version: int, files: list[str], schema_sample: str | None) -> None:
    """The single atomic step. Everything before the final os.replace is
    invisible to readers."""
    os.makedirs(os.path.join(root, _MANIFEST_DIR), exist_ok=True)
    manifest = {"files": files}
    if schema_sample:
        manifest["schema_sample"] = schema_sample
    _maybe_crash("pre_manifest")
    mpath = _manifest_path(root, version)
    with open(mpath + ".tmp", "w") as fh:
        json.dump(manifest, fh, indent=1)
    os.replace(mpath + ".tmp", mpath)
    _maybe_crash("pre_pointer_swap")
    vtmp = os.path.join(root, _VERSION_FILE + ".tmp")
    with open(vtmp, "w") as fh:
        fh.write(str(version))
    os.replace(vtmp, os.path.join(root, _VERSION_FILE))


def create_store(
    df: DataFrame, root: str, partitions: int | None = None
) -> dict:
    """Initialize a versioned store at ``root`` with snapshot v0."""
    os.makedirs(root, exist_ok=True)
    with _commit_lock(root):
        if is_versioned(root):
            raise ValueError(f"versioned store already exists at {root}")
        names = _stage_dataframe(df, root, 0, "full", partitions)
        _publish(root, 0, names, names[0] if names else None)
    return {"version": 0, "files": len(names)}


def commit_snapshot(
    df: DataFrame, root: str, partitions: int | None = None,
    _locked: bool = False,
) -> dict:
    """Full-replacement commit: stage a complete new snapshot, publish.
    The building block compaction uses; keyed ops use commit_mutation."""
    lock = contextlib.nullcontext() if _locked else _commit_lock(root)
    with lock:
        v = current_version(root) + 1
        names = _stage_dataframe(df, root, v, "full", partitions)
        _publish(root, v, names, names[0] if names else None)
    return {"version": v, "files": len(names)}


def commit_mutation(
    root: str,
    keep_files: list[str],
    staged: list[str],
    schema_sample: str | None = None,
    _locked: bool = False,
) -> dict:
    """Partial commit: next snapshot = kept basenames + staged basenames.
    Used by the keyed mutators (sinks/writers.py), which rewrite only
    hit files.

    ``_locked``: the keyed mutators hold the commit lock across their
    WHOLE read→stage→publish (a mutation's keep list is only valid
    against the snapshot it was computed from), so they pass True to
    skip re-acquiring here."""
    lock = contextlib.nullcontext() if _locked else _commit_lock(root)
    with lock:
        v = current_version(root) + 1
        files = list(keep_files) + list(staged)
        sample = schema_sample or (
            files[0] if files else read_manifest(root).get("schema_sample")
        )
        _publish(root, v, files, sample)
    return {"version": v, "files": len(files)}


def changes_between(
    spark: SparkSession,
    root: str,
    key_col: str,
    from_version: int,
    to_version: int | None = None,
) -> DataFrame:
    """Change data feed between two retained snapshots: (key, status)
    for every key added / removed / changed, computed from the two
    snapshot reads (E23 snapshot_diff under the hood). Because versions
    are immutable, the feed for a (from, to) pair is stable forever —
    the consumer contract a downstream incremental pipeline needs.

    Scale note: this is a full-outer join of two snapshots — O(store),
    not O(delta). When the DELTA is what's wanted cheaply, the mutators
    already return per-call stats; this read-side feed is for consumers
    that only see the store."""
    from dumpty_spark.operators.diff import snapshot_diff

    old = read_store(spark, root, from_version)
    new = read_store(spark, root, to_version)
    return snapshot_diff(old, new, [key_col])


def vacuum(root: str, keep_versions: int = 1) -> dict:
    """Reclaim: drop manifests older than the newest ``keep_versions``
    and every data file (and crashed staging dir) no retained manifest
    references. Run AFTER readers of old snapshots have drained — this
    is the only destructive step in the protocol, so it is the one the
    operator schedules, not the writer.

    Takes the commit lock: an in-flight commit's staged-but-not-yet-
    referenced files look exactly like reclaimable orphans to this scan,
    so vacuuming concurrently with a writer would delete the files the
    commit is about to publish."""
    with _commit_lock(root):
        cur = current_version(root)
        keep = set(range(max(0, cur - keep_versions + 1), cur + 1))
        referenced: set[str] = set()
        removed_manifests = 0
        for mp in glob.glob(os.path.join(root, _MANIFEST_DIR, "v*.json")):
            v = int(os.path.basename(mp)[1:-5])
            if v in keep:
                m = read_manifest(root, v)
                referenced.update(m["files"])
                if m.get("schema_sample"):
                    referenced.add(m["schema_sample"])
            else:
                os.remove(mp)
                removed_manifests += 1
        removed_files = 0
        for f in glob.glob(os.path.join(root, _DATA_DIR, "*.parquet")):
            if os.path.basename(f) not in referenced:
                os.remove(f)
                removed_files += 1
        for d in glob.glob(os.path.join(root, "__stage_v*")):
            shutil.rmtree(d, ignore_errors=True)
            removed_files += 1
    return {
        "removed_files": removed_files,
        "removed_manifests": removed_manifests,
    }


def compact_versioned(
    spark: SparkSession, root: str, target_bytes: int = 50 * 1024 * 1024
) -> dict:
    """Small-files compaction as a full-replacement snapshot commit —
    readers of the old snapshot are never exposed to the rewrite (the
    plain-directory compactor has a brief readers-see-nothing window
    between its two renames; here there is none)."""
    from dumpty_spark.sinks.writers import advise_partitions

    # lock held across read→rewrite→publish: the compacted snapshot is a
    # rewrite of the files read HERE — a commit landing in between would
    # be silently replaced with recompacted stale data otherwise
    with _commit_lock(root):
        m = read_manifest(root)
        files = data_files(root)
        observed = sum(os.path.getsize(f) for f in files)
        n_files = advise_partitions(observed, len(files), target_bytes)
        out = commit_snapshot(
            read_store(spark, root), root, n_files, _locked=True
        )
    out.update({"files_before": len(m["files"]), "files_after": out.pop("files")})
    return out
