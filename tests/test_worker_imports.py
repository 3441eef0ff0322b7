"""Importing geotiff_spark makes ``importlib.invalidate_caches()`` — which
pyspark's worker calls at the start of every task — re-read a zip on
``sys.path`` only when the zip changed. No JVM needed."""

from __future__ import annotations

import importlib
import sys
import zipfile
import zipimport

import pytest

import geotiff_spark  # noqa: F401  (installs the stat-checked invalidation)


@pytest.fixture
def zip_on_path(tmp_path):
    """A one-module zip on sys.path, imported from once; sys.path,
    sys.path_importer_cache and sys.modules are restored afterwards."""
    archive = tmp_path / "mods.zip"
    with zipfile.ZipFile(archive, "w") as z:
        z.writestr("zmod_a.py", "VALUE = 'a'\n")
    saved_path = list(sys.path)
    saved_cache = dict(sys.path_importer_cache)
    saved_modules = set(sys.modules)
    sys.path.insert(0, str(archive))
    try:
        assert importlib.import_module("zmod_a").VALUE == "a"
        yield archive
    finally:
        sys.path[:] = saved_path
        sys.path_importer_cache.clear()
        sys.path_importer_cache.update(saved_cache)
        for name in set(sys.modules) - saved_modules:
            del sys.modules[name]
        zipimport._zip_directory_cache.pop(str(archive), None)


@pytest.mark.skipif(
    sys.version_info >= (3, 13),
    reason="CPython >= 3.13 re-reads zip directories lazily on its own",
)
def test_unchanged_zip_is_not_reread(zip_on_path, monkeypatch):
    reads = []
    real_read = zipimport._read_directory

    def counting_read(archive):
        reads.append(archive)
        return real_read(archive)

    monkeypatch.setattr(zipimport, "_read_directory", counting_read)
    importlib.invalidate_caches()
    reads.clear()
    importlib.invalidate_caches()
    assert reads == []
    assert importlib.import_module("zmod_a").VALUE == "a"


def test_rewritten_zip_is_reread(zip_on_path):
    importlib.invalidate_caches()
    importlib.invalidate_caches()
    with zipfile.ZipFile(zip_on_path, "w") as z:
        z.writestr("zmod_a.py", "VALUE = 'a'\n")
        z.writestr("zmod_b.py", "VALUE = 'b'\n")
    importlib.invalidate_caches()
    assert importlib.import_module("zmod_b").VALUE == "b"


def test_deleted_zip_does_not_raise(zip_on_path):
    importlib.invalidate_caches()
    zip_on_path.unlink()
    importlib.invalidate_caches()
    importlib.invalidate_caches()
    with pytest.raises(ImportError):
        importlib.import_module("zmod_gone")


@pytest.mark.parametrize("builder", [
    "minhash_signatures", "substring_fingerprints", "exact_substring_dedup",
    "bloom_membership_packed",
])
def test_text_udf_closures_import_the_engine(builder):
    """A UDF closure is pickled by value with the globals it names, and a
    module-level engine function among those is pickled by reference:
    unpickling it in the worker imports geotiff_spark, which installs the
    invalidation above. Each nested ``def`` of these builders is shipped
    to a worker, so each must name one. (Their lambdas build Column
    expressions on the driver and are never shipped.)"""
    import types

    from geotiff_spark.operators import dedup

    engine_fns = {name for name, obj in vars(dedup).items()
                  if isinstance(obj, types.FunctionType)
                  and obj.__module__ == dedup.__name__}
    nested = [c for c in getattr(dedup, builder).__code__.co_consts
              if isinstance(c, types.CodeType) and c.co_name != "<lambda>"]
    assert nested
    for code in nested:
        assert engine_fns & set(code.co_names), code.co_name
