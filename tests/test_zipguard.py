"""The zip-archive guard: ``importlib.invalidate_caches()`` skips the
directory re-read of an unchanged archive, still picks up a rewritten
one, and is installed in the Python workers that run engine closures."""

import importlib
import sys
import zipfile
import zipimport

import pyarrow as pa
import pytest

from pdf2ocr_spark import zipguard

pytestmark = pytest.mark.skipif(
    sys.version_info >= (3, 13),
    reason="CPython 3.13+ re-reads zip directories lazily; the guard is a no-op",
)

MODULES = ("zg_pkg", "zg_pkg.a", "zg_pkg.b")


def _write_zip(path, members):
    with zipfile.ZipFile(path, "w") as z:
        z.writestr("zg_pkg/__init__.py", "")
        for name in members:
            z.writestr(f"zg_pkg/{name}.py", f"VALUE = {name!r}\n")


@pytest.fixture()
def archive(tmp_path, monkeypatch):
    path = str(tmp_path / "mods.zip")
    _write_zip(path, ["a"])
    monkeypatch.syspath_prepend(path)
    yield path
    for name in MODULES:
        sys.modules.pop(name, None)
    for key in [k for k in sys.path_importer_cache if k.startswith(path)]:
        del sys.path_importer_cache[key]
    zipimport._zip_directory_cache.pop(path, None)


def _count_reads(monkeypatch, archive):
    reads = []
    real = zipimport._read_directory

    def counting(path):
        if path == archive:
            reads.append(path)
        return real(path)

    monkeypatch.setattr(zipimport, "_read_directory", counting)
    return reads


def _zip_importers(archive):
    return [
        f
        for f in sys.path_importer_cache.values()
        if isinstance(f, zipimport.zipimporter) and f.archive == archive
    ]


def test_package_import_installs_guard():
    assert zipimport.zipimporter.invalidate_caches is zipguard._invalidate_caches


def test_unchanged_archive_is_not_reread(archive, monkeypatch):
    assert importlib.import_module("zg_pkg.a").VALUE == "a"
    assert len(_zip_importers(archive)) == 2  # the archive root + zg_pkg/
    importlib.invalidate_caches()  # the first call after import reads once
    reads = _count_reads(monkeypatch, archive)
    importlib.invalidate_caches()
    importlib.invalidate_caches()
    assert reads == []


def test_rewritten_archive_is_reread_once(archive, monkeypatch):
    assert importlib.import_module("zg_pkg.a").VALUE == "a"
    importlib.invalidate_caches()
    _write_zip(archive, ["a", "b"])
    reads = _count_reads(monkeypatch, archive)
    importlib.invalidate_caches()
    assert reads == [archive]  # one read shared by both importers
    assert importlib.import_module("zg_pkg.b").VALUE == "b"


def test_engine_closure_worker_holds_guard(spark):
    """A Python task that runs engine code re-reads no zip archive on its
    worker's next ``invalidate_caches()`` (the call every reused worker
    makes before each task)."""
    from pdf2ocr_spark.kernel.emit import extract_document

    def probe(batches):
        import importlib
        import zipimport

        spans = [{"kind": "page", "text": "x", "media_ref": None, "offset": 0}]
        rows = extract_document("0", spans, ("text",), "eng", None)
        importlib.invalidate_caches()
        real, reads = zipimport._read_directory, []
        zipimport._read_directory = lambda p: reads.append(p) or real(p)
        try:
            importlib.invalidate_caches()
        finally:
            zipimport._read_directory = real
        for _ in batches:
            yield pa.RecordBatch.from_pylist(
                [{
                    "guard": zipimport.zipimporter.invalidate_caches.__module__,
                    "spans": len(rows),
                    "reads": len(reads),
                }]
            )

    out = (
        spark.range(1)
        .mapInArrow(probe, "guard string, spans long, reads long")
        .collect()
    )
    assert len(out) == 1
    assert out[0]["guard"] == "pdf2ocr_spark.zipguard"
    assert out[0]["spans"] > 0
    assert out[0]["reads"] == 0
