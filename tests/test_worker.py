"""Python worker setup: ``worker.skip_zip_rereads`` keeps a reused worker
from re-reading its zip archives' directories on every task."""

import shutil
import sys
import zipimport

import pytest

from ocr_engine_spark.worker import skip_zip_rereads


def test_second_task_in_a_reused_worker_keeps_the_zip_directory(spark):
    """The cached directory of each zip on the worker's path is the same
    object in every later task of the same worker: PySpark's per-task
    ``importlib.invalidate_caches()`` no longer re-reads the archive."""
    import pyarrow as pa

    def probe(batches):
        import os
        import zipimport

        from ocr_engine_spark.worker import skip_zip_rereads

        skip_zip_rereads()
        for _ in batches:
            pass
        cache = zipimport._zip_directory_cache
        yield pa.RecordBatch.from_pydict({
            "pid": [os.getpid()],
            "archive": [[p for p in cache]],
            "dir_id": [[id(cache[p]) for p in cache]],
        })

    schema = "pid long, archive array<string>, dir_id array<long>"
    # collect, not first: a task whose output is not drained does not hand
    # its worker back for reuse.  Idle workers take turns, so run jobs until
    # one worker has run two of them.
    job = spark.range(1, numPartitions=1).mapInArrow(probe, schema)
    first = {}
    for _ in range(16):
        r = job.collect()[0]
        if r.pid in first:
            break
        first[r.pid] = dict(zip(r.archive, r.dir_id))
    else:
        pytest.fail("no worker ran a second task")
    if not first[r.pid]:
        pytest.skip("no zip archive on the Python workers' path")
    dirs = dict(zip(r.archive, r.dir_id))
    for archive, dir_id in first[r.pid].items():
        assert dirs.get(archive) == dir_id, archive


@pytest.mark.skipif(not (3, 10) <= sys.version_info[:2] < (3, 13),
                    reason="invalidate_caches re-reads eagerly only here")
def test_skip_zip_rereads_makes_invalidate_caches_a_noop(tmp_path,
                                                         monkeypatch):
    import zipfile

    archive = tmp_path / "a.zip"
    with zipfile.ZipFile(archive, "w") as zf:
        zf.writestr("mod_a.py", "X = 1\n")
    monkeypatch.setattr(zipimport.zipimporter, "invalidate_caches",
                        zipimport.zipimporter.invalidate_caches)
    importer = zipimport.zipimporter(str(archive))
    before = zipimport._zip_directory_cache[str(archive)]
    skip_zip_rereads()
    with zipfile.ZipFile(archive, "a") as zf:
        zf.writestr("mod_b.py", "Y = 2\n")
    importer.invalidate_caches()
    assert zipimport._zip_directory_cache[str(archive)] is before
    # an archive at a new path gets a new importer with its own directory
    other = tmp_path / "b.zip"
    shutil.copyfile(archive, other)
    assert "mod_b.py" in zipimport.zipimporter(str(other))._files
