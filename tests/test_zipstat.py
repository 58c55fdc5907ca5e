"""Stat-keyed zip-importer invalidation (``sparklucene._zipstat``).

``importlib.invalidate_caches()`` must not re-read an unchanged archive's
central directory, must still pick up a rewritten archive in every
importer of it, and must tolerate a deleted archive. No Spark needed.
"""

import importlib
import os
import sys
import zipfile
import zipimport

import pytest

from sparklucene import _zipstat


@pytest.fixture
def zip_on_path(tmp_path, monkeypatch):
    """An archive with ``zs_a`` at its root and ``zs_sub/zs_c`` under a
    subdirectory, on ``sys.path`` through two importers (root and
    subdirectory). Yields (archive, importers, reads), where ``reads``
    lists the archives ``zipimport._read_directory`` was called on."""
    archive = str(tmp_path / "mods.zip")
    with zipfile.ZipFile(archive, "w") as z:
        z.writestr("zs_a.py", "X = 'a'\n")
        z.writestr("zs_sub/zs_c.py", "X = 'c'\n")
    entries = [archive, os.path.join(archive, "zs_sub")]
    saved_path = list(sys.path)
    saved_cache = dict(sys.path_importer_cache)
    reads: list[str] = []
    real_read = zipimport._read_directory

    def counting_read(path):
        reads.append(path)
        return real_read(path)

    monkeypatch.setattr(zipimport, "_read_directory", counting_read)
    sys.path[:0] = entries
    try:
        importlib.import_module("zs_a")
        importlib.import_module("zs_c")
        yield archive, [sys.path_importer_cache[e] for e in entries], reads
    finally:
        sys.path[:] = saved_path
        sys.path_importer_cache.clear()
        sys.path_importer_cache.update(saved_cache)
        zipimport._zip_directory_cache.pop(archive, None)
        for m in ("zs_a", "zs_b", "zs_c", "zs_d"):
            sys.modules.pop(m, None)


def test_package_import_installs_it():
    assert zipimport.zipimporter.invalidate_caches is _zipstat.invalidate_caches


def test_unchanged_archive_is_not_reread(zip_on_path):
    archive, importers, reads = zip_on_path
    assert all(isinstance(i, zipimport.zipimporter) for i in importers)
    # an importer with no stamp yet always re-reads, once
    reads.clear()
    importlib.invalidate_caches()
    assert reads.count(archive) == len(importers)
    reads.clear()
    for _ in range(3):
        importlib.invalidate_caches()
    assert reads.count(archive) == 0


def test_rewritten_archive_is_reread_by_every_importer(zip_on_path):
    archive, importers, reads = zip_on_path
    importlib.invalidate_caches()
    with zipfile.ZipFile(archive, "w") as z:
        z.writestr("zs_a.py", "X = 'a'\n")
        z.writestr("zs_b.py", "X = 'b'\n")
        z.writestr("zs_sub/zs_c.py", "X = 'c'\n")
        z.writestr("zs_sub/zs_d.py", "X = 'd'\n")
    reads.clear()
    importlib.invalidate_caches()
    assert reads.count(archive) == len(importers)
    assert importlib.import_module("zs_b").X == "b"    # root importer
    assert importlib.import_module("zs_d").X == "d"    # subdir importer
    for imp in importers:
        assert os.path.join("zs_sub", "zs_d.py") in imp._files


def test_deleted_archive_empties_the_importers(zip_on_path):
    archive, importers, _ = zip_on_path
    importlib.invalidate_caches()
    st = os.stat(archive)
    with open(archive, "rb") as f:
        data = f.read()
    os.remove(archive)
    importlib.invalidate_caches()  # raises nothing
    assert all(imp._files == {} for imp in importers)
    assert archive not in zipimport._zip_directory_cache
    # restored with the same (mtime, size): the emptied importers re-read
    with open(archive, "wb") as f:
        f.write(data)
    os.utime(archive, ns=(st.st_atime_ns, st.st_mtime_ns))
    importlib.invalidate_caches()
    for imp in importers:
        assert "zs_a.py" in imp._files
