"""The zip-listing cache (ocr_translate_spark.zipcache), without Spark.

PySpark's worker runs ``importlib.invalidate_caches()`` before every task;
an unchanged archive must not be re-read, a rewritten one must be.
"""

from __future__ import annotations

import importlib
import sys
import zipfile
import zipimport

import pytest

import ocr_translate_spark  # noqa: F401  (installs the cache)

pytestmark = pytest.mark.skipif(
    sys.version_info >= (3, 13),
    reason="CPython 3.13+ drops zip listings lazily; the cache is not installed",
)


def _write_zip(path, modules):
    with zipfile.ZipFile(path, "w") as zf:
        for name in modules:
            zf.writestr(f"{name}.py", f"NAME = {name!r}\n")


def test_invalidate_caches_rereads_only_changed_archives(tmp_path, monkeypatch):
    archive = str(tmp_path / "mods.zip")
    _write_zip(archive, ["m1"])
    reads = []
    real_read = zipimport._read_directory

    def counting_read(path):
        if path == archive:
            reads.append(path)
        return real_read(path)

    monkeypatch.syspath_prepend(archive)
    try:
        assert importlib.import_module("m1").NAME == "m1"
        monkeypatch.setattr(zipimport, "_read_directory", counting_read)
        importlib.invalidate_caches()  # the first call after import stamps it
        reads.clear()
        for _ in range(3):
            importlib.invalidate_caches()
        assert reads == []

        _write_zip(archive, ["m1", "m2"])  # rewritten in place
        importlib.invalidate_caches()
        assert reads == [archive]
        assert importlib.import_module("m2").NAME == "m2"
    finally:
        for name in ("m1", "m2"):
            sys.modules.pop(name, None)
        sys.path_importer_cache.pop(archive, None)
        zipimport._zip_directory_cache.pop(archive, None)
