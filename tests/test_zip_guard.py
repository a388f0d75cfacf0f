"""The worker-side guard on zipimporter.invalidate_caches (installed by
importing demeter_spark): unchanged archives are not re-read, rewritten ones
are."""

import importlib
import sys
import zipfile
import zipimport

import demeter_spark


def _write(path, modules):
    with zipfile.ZipFile(path, "w") as z:
        for name, src in modules.items():
            z.writestr(f"{name}.py", src)


def test_invalidate_caches_rereads_zip_only_when_changed(tmp_path, monkeypatch):
    archive = str(tmp_path / "mods.zip")
    _write(archive, {"zg_first": "X = 1\n"})
    monkeypatch.syspath_prepend(archive)
    monkeypatch.delitem(sys.modules, "zg_first", raising=False)
    monkeypatch.delitem(sys.modules, "zg_second", raising=False)
    try:
        import zg_first

        assert zg_first.X == 1
        reads = []
        real_read = zipimport._read_directory

        def counting_read(path):
            reads.append(path)
            return real_read(path)

        monkeypatch.setattr(zipimport, "_read_directory", counting_read)
        for _ in range(5):
            importlib.invalidate_caches()
        assert reads.count(archive) <= 1

        _write(archive, {"zg_first": "X = 1\n", "zg_second": "Y = 2\n"})
        importlib.invalidate_caches()
        import zg_second

        assert zg_second.Y == 2
    finally:
        sys.modules.pop("zg_first", None)
        sys.modules.pop("zg_second", None)
        sys.path_importer_cache.pop(archive, None)


def test_guard_install_is_idempotent():
    installed = zipimport.zipimporter.invalidate_caches
    assert installed._rereads_only_changed
    demeter_spark._guard_zip_directory_rereads()
    assert zipimport.zipimporter.invalidate_caches is installed
