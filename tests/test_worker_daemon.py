"""The worker daemon's zip importer: invalidate_caches() re-reads an
archive only when its (st_mtime_ns, st_size) changed. Spark-free."""

from __future__ import annotations

import importlib
import importlib.machinery
import sys
import zipfile
import zipimport

from colcrush._worker_daemon import StatZipImporter, install


def _write_zip(path, members: dict[str, str]) -> None:
    with zipfile.ZipFile(path, "w") as z:
        for name, src in members.items():
            z.writestr(name, src)


def _count_reads(monkeypatch) -> list:
    calls = []
    real = zipimport._read_directory

    def counting(archive):
        calls.append(archive)
        return real(archive)

    monkeypatch.setattr(zipimport, "_read_directory", counting)
    return calls


def test_unchanged_archive_is_not_reread(tmp_path, monkeypatch):
    archive = tmp_path / "lib.zip"
    _write_zip(archive, {"cc_zip_a.py": "X = 1\n"})
    imp = StatZipImporter(str(archive))
    calls = _count_reads(monkeypatch)
    imp.invalidate_caches()
    imp.invalidate_caches()
    assert calls == []
    # the stock importer re-reads the whole directory every time
    stock = zipimport.zipimporter(str(archive))
    stock.invalidate_caches()
    assert calls == [str(archive)]


def test_rewritten_archive_is_reread_and_new_module_imports(tmp_path, monkeypatch):
    archive = str(tmp_path / "lib.zip")
    _write_zip(archive, {"cc_zip_a.py": "X = 1\n"})
    monkeypatch.setattr(sys, "path_hooks", list(sys.path_hooks))
    monkeypatch.setattr(sys, "path_importer_cache", dict(sys.path_importer_cache))
    monkeypatch.syspath_prepend(archive)
    for name in ("cc_zip_a", "cc_zip_b"):
        monkeypatch.delitem(sys.modules, name, raising=False)
    # a stock importer cached before install() is dropped and rebuilt
    importlib.machinery.PathFinder.find_spec("cc_zip_a")
    assert type(sys.path_importer_cache[archive]) is zipimport.zipimporter
    install()
    assert archive not in sys.path_importer_cache
    assert importlib.import_module("cc_zip_a").X == 1
    assert type(sys.path_importer_cache[archive]) is StatZipImporter

    # the rewrite adds a member, so the archive's size changes
    _write_zip(archive, {"cc_zip_a.py": "X = 1\n", "cc_zip_b.py": "Y = 2\n"})
    calls = _count_reads(monkeypatch)
    importlib.invalidate_caches()
    assert calls.count(archive) == 1
    assert importlib.import_module("cc_zip_b").Y == 2
    importlib.invalidate_caches()
    assert calls.count(archive) == 1
