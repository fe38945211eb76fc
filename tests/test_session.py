from __future__ import annotations

import importlib
import os
import sys
import zipfile
import zipimport

from gdal_scripts_spark import pydaemon


def _write_zip(path, modules):
    with zipfile.ZipFile(path, "w") as z:
        for name in modules:
            z.writestr(f"{name}.py", f"NAME = {name!r}\n")


def test_daemon_rereads_zip_only_when_changed(tmp_path, monkeypatch):
    archive = str(tmp_path / "mods.zip")
    _write_zip(archive, ["zdaemon_a"])
    monkeypatch.setattr(
        zipimport.zipimporter, "invalidate_caches", pydaemon.invalidate_caches)
    monkeypatch.syspath_prepend(archive)
    try:
        assert importlib.import_module("zdaemon_a").NAME == "zdaemon_a"
        imp = sys.path_importer_cache[archive]
        assert isinstance(imp, zipimport.zipimporter)

        importlib.invalidate_caches()  # first call reads and stamps
        files = imp._files
        importlib.invalidate_caches()
        assert imp._files is files  # unchanged archive: no re-read

        _write_zip(archive, ["zdaemon_a", "zdaemon_b"])
        importlib.invalidate_caches()
        assert imp._files is not files
        assert importlib.import_module("zdaemon_b").NAME == "zdaemon_b"

        os.remove(archive)  # os.stat fails: the original still runs
        importlib.invalidate_caches()
        assert imp._files == {}
    finally:
        for name in ("zdaemon_a", "zdaemon_b"):
            sys.modules.pop(name, None)
        sys.path_importer_cache.pop(archive, None)
        zipimport._zip_directory_cache.pop(archive, None)


def test_session_workers_run_engine_daemon(spark):
    import pyarrow as pa

    def probe(batches):
        import zipimport

        fn = zipimport.zipimporter.invalidate_caches
        for _ in batches:
            yield pa.RecordBatch.from_pydict({
                "name": [fn.__qualname__], "path": [fn.__code__.co_filename]})

    (name, path), = set(map(tuple, spark.range(2, numPartitions=2)
                            .mapInArrow(probe, "name string, path string").collect()))
    assert name == "invalidate_caches"
    assert os.path.samefile(path, pydaemon.__file__)
