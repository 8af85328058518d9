"""The local sessions' Python worker daemon (puddsketch_spark.spark.pydaemon):
its stat-checked zipimporter.invalidate_caches, the session wiring, the
daemon's import footprint and the working-directory guard in get_spark."""

import importlib.util
import os
import subprocess
import sys
import zipfile
import zipimport

from puddsketch_spark.spark import pydaemon
from puddsketch_spark.spark.session import _imports_pkg_from

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _write_zip(path, members):
    with zipfile.ZipFile(path, "w") as z:
        for name, value in members.items():
            z.writestr(f"{name}.py", f"VALUE = {value!r}\n")


def _load(importer, name):
    spec = importer.find_spec(name)
    assert spec is not None, name
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod.VALUE


def test_invalidate_caches_rereads_only_a_changed_archive(tmp_path, monkeypatch):
    archive = str(tmp_path / "lib.zip")
    _write_zip(archive, {"mod_a": 1})
    # two importers on one archive: each holds its own directory, so each
    # must notice the rewrite on its own
    imps = [zipimport.zipimporter(archive), zipimport.zipimporter(archive)]
    reads = []
    real_read = zipimport._read_directory
    monkeypatch.setattr(zipimport, "_read_directory",
                        lambda path: reads.append(path) or real_read(path))
    monkeypatch.setattr(zipimport.zipimporter, "invalidate_caches",
                        pydaemon.invalidate_caches)

    for imp in imps:
        imp.invalidate_caches()  # no stamp yet: reads, as the stock method
    assert len(reads) == 2
    for _ in range(5):
        for imp in imps:
            imp.invalidate_caches()
    assert len(reads) == 2  # unchanged archive: nothing re-read
    assert [_load(imp, "mod_a") for imp in imps] == [1, 1]

    _write_zip(archive, {"mod_a": 1, "mod_b": 2})
    assert imps[0].find_spec("mod_b") is None  # stale until invalidated
    for imp in imps:
        imp.invalidate_caches()
    assert len(reads) == 4
    assert [_load(imp, "mod_b") for imp in imps] == [2, 2]


def test_session_runs_our_daemon(spark):
    conf = spark.sparkContext.getConf()
    assert conf.get("spark.python.daemon.module") == "puddsketch_spark.spark.pydaemon"
    df = spark.range(0, 30, numPartitions=3)
    assert df.mapInArrow(lambda it: it, df.schema).count() == 30


def test_daemon_import_leaves_out_numpy_pandas_pyarrow():
    proc = subprocess.run(
        [sys.executable, "-c",
         "import sys, puddsketch_spark.spark.pydaemon; "
         "print(sorted(m for m in ('numpy', 'pandas', 'pyarrow') "
         "if m in sys.modules))"],
        capture_output=True, text=True, timeout=120, cwd=REPO,
    )
    assert proc.returncode == 0, proc.stderr[-2000:]
    assert proc.stdout.strip() == "[]"


def test_daemon_module_only_where_python_m_finds_this_package(tmp_path):
    other = tmp_path / "old_checkout"
    (other / "puddsketch_spark").mkdir(parents=True)
    empty = tmp_path / "empty"
    empty.mkdir()
    link = tmp_path / "repo_link"
    link.symlink_to(REPO)

    assert _imports_pkg_from([str(empty), "", REPO], REPO)
    assert _imports_pkg_from([str(link), str(other)], REPO)
    # another checkout in the working directory would shadow this package
    assert not _imports_pkg_from([str(other), REPO], REPO)
    assert not _imports_pkg_from([str(empty)], REPO)
