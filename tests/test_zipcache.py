"""zipcache: PySpark's per-task ``importlib.invalidate_caches()`` must not
re-read the directory of an unchanged zip on ``sys.path``, and must still
pick up a changed one (what ``addPyFile`` relies on). No Spark needed."""

from __future__ import annotations

import importlib
import sys
import zipfile
import zipimport

import pytest

import tika_addons_spark  # noqa: F401  (installs the hook)
from tika_addons_spark import zipcache


def _write_zip(path: str, modules: dict[str, str]) -> None:
    with zipfile.ZipFile(path, "w") as z:
        for name, src in modules.items():
            z.writestr(f"{name}.py", src)


@pytest.fixture
def archive(tmp_path, monkeypatch):
    path = str(tmp_path / "mods.zip")
    _write_zip(path, {"zipcache_mod_a": "VALUE = 1\n"})
    monkeypatch.syspath_prepend(path)
    yield path
    for name in ("zipcache_mod_a", "zipcache_mod_b"):
        sys.modules.pop(name, None)
    sys.path_importer_cache.pop(path, None)
    zipimport._zip_directory_cache.pop(path, None)


@pytest.mark.skipif(sys.version_info >= (3, 12), reason="hook is for < 3.12")
def test_unchanged_zip_is_not_reread_and_changed_zip_is(archive, monkeypatch):
    assert zipcache.installed()
    assert importlib.import_module("zipcache_mod_a").VALUE == 1
    importlib.invalidate_caches()  # first call records the archive's stamp

    reads = []
    read_directory = zipimport._read_directory

    def counting(path):
        reads.append(path)
        return read_directory(path)

    monkeypatch.setattr(zipimport, "_read_directory", counting)
    for _ in range(5):
        importlib.invalidate_caches()
    assert reads == []
    with pytest.raises(ImportError):
        importlib.import_module("zipcache_mod_b")

    _write_zip(archive, {"zipcache_mod_a": "VALUE = 1\n", "zipcache_mod_b": "VALUE = 2\n"})
    importlib.invalidate_caches()
    assert archive in reads
    assert importlib.import_module("zipcache_mod_b").VALUE == 2


@pytest.mark.skipif(sys.version_info < (3, 12), reason="CPython >= 3.12 is lazy")
def test_hook_not_installed_on_312_and_later():
    zipcache.install()
    assert not zipcache.installed()
