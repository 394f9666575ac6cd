"""Process-lifetime artifact policy (operators/artifacts.py): artifact dirs
register for atexit removal, a corpus rewrite drops the superseded cache
ENTRY while leaving the old dir on disk until exit (a still-held lazy reader
over the old path must keep working), ``write_once`` records an entry only
after a successful build, and ``release_persisted_artifacts(keep=)`` releases
exactly the frames registered after the mark."""

import os
import pathlib
import sys

sys.path.insert(0, str(pathlib.Path(__file__).resolve().parents[1]))

import pytest  # noqa: E402

from ocr_engine_spark.operators.artifacts import (  # noqa: E402
    _ARTIFACT_DIRS, _PERSISTED_CAP, _cleanup_artifact_dirs, _persist_tracked,
    artifact_tmpdir, evict_stale_artifacts, persisted_artifact_count,
    release_persisted_artifacts, write_once,
)


class _Frame:
    """Stand-in for a persisted DataFrame: records persist/unpersist."""

    live = False

    def persist(self, level):
        self.live = True
        return self

    def unpersist(self):
        self.live = False


def test_artifact_tmpdir_registers_for_cleanup():
    d = artifact_tmpdir("test_hygiene_")
    assert os.path.isdir(d)
    assert d in _ARTIFACT_DIRS
    _ARTIFACT_DIRS.remove(d)
    os.rmdir(d)


def test_evict_drops_superseded_entries_but_keeps_dirs():
    d_old = artifact_tmpdir("test_hygiene_")
    path_old = d_old + "/pairs.parquet"
    os.makedirs(path_old)
    cache = {
        ("sf", 0.5, "md5", 1.0): path_old,
        ("other_sf", 0.5, "md5", 1.0): "unrelated",
    }
    evict_stale_artifacts(cache, ("sf", 0.5, "md5", 2.0))
    # superseded (same prefix, older mtime) ENTRY evicted ...
    assert ("sf", 0.5, "md5", 1.0) not in cache
    # ... but the dir survives for still-held lazy readers, and stays
    # registered for atexit reclamation
    assert os.path.isdir(path_old)
    assert d_old in _ARTIFACT_DIRS
    # unrelated keys untouched
    assert cache == {("other_sf", 0.5, "md5", 1.0): "unrelated"}
    _ARTIFACT_DIRS.remove(d_old)
    os.rmdir(path_old)
    os.rmdir(d_old)


def test_cleanup_removes_registered_dirs_without_touching_others():
    # simulate the atexit pass on an ISOLATED registry: invoking the real
    # global handler mid-process would delete artifacts other tests' caches
    # still point at (order-dependent breakage under -p random / xdist)
    d = artifact_tmpdir("test_hygiene_")
    _ARTIFACT_DIRS.remove(d)
    saved = list(_ARTIFACT_DIRS)
    _ARTIFACT_DIRS[:] = [d]
    try:
        _cleanup_artifact_dirs()
        assert not _ARTIFACT_DIRS
        assert not os.path.exists(d)
    finally:
        _ARTIFACT_DIRS[:] = saved


def test_release_keep_is_exact_at_the_registry_cap():
    """A block that registers a frame into a full registry evicts the oldest
    one; ``keep=mark`` still releases exactly the block's own frame."""
    release_persisted_artifacts()
    try:
        old = [_persist_tracked(_Frame()) for _ in range(_PERSISTED_CAP)]
        mark = persisted_artifact_count()
        own = _persist_tracked(_Frame())
        assert not old[0].live  # evicted at the cap
        assert release_persisted_artifacts(keep=mark) == 1
        assert not own.live
        assert all(f.live for f in old[1:])
        assert persisted_artifact_count() == mark
    finally:
        release_persisted_artifacts()


def test_write_once_failed_build_records_nothing(tmp_path):
    """A build that raises leaves no cache entry, frees what it persisted
    (the registry is back at its mark) and is rebuilt by the next call."""
    cache: dict = {}
    mark = persisted_artifact_count()
    frame = _Frame()

    def failing(path):
        _persist_tracked(frame)
        raise RuntimeError("build failed")

    with pytest.raises(RuntimeError):
        write_once(cache, str(tmp_path), ("p",), "test_hygiene_", failing)
    assert cache == {}
    assert persisted_artifact_count() == mark
    assert not frame.live

    built = []
    path = write_once(cache, str(tmp_path), ("p",), "test_hygiene_",
                      built.append)
    assert built == [path]
    assert cache == {(str(tmp_path), "p", -1.0): path}
    # a hit reads the recorded path without building again
    assert write_once(cache, str(tmp_path), ("p",), "test_hygiene_",
                      built.append) == path
    assert built == [path]
