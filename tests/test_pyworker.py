"""The engine's Python worker daemon (spark/pyworker.py) and the session
settings that select it.

The daemon makes ``zipimporter.invalidate_caches`` lazy on CPython <
3.12: pyspark calls ``importlib.invalidate_caches()`` on every task, and
the stdlib refresh re-reads the central directory of ``pyspark.zip``
once per zip importer. These tests pin that an unchanged archive is not
re-read, that a changed or new archive still is, and that workers start
through the daemon whatever the driver's working directory.
"""

from __future__ import annotations

import importlib.util
import json
import os
import subprocess
import sys
import textwrap
import uuid
import zipfile
import zipimport

import pytest

from parquet_go_spark.spark import pyworker, session

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

needs_lazy_patch = pytest.mark.skipif(
    sys.version_info >= (3, 12), reason="CPython 3.12+ refreshes zip directories lazily itself"
)


def _write_zip(path, modules: dict[str, str]) -> None:
    with zipfile.ZipFile(path, "w") as z:
        for name, src in modules.items():
            z.writestr(name, src)


def _load(importer, name: str):
    spec = importer.find_spec(name)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


@pytest.fixture
def reads(monkeypatch):
    """Patched refresh installed; counts ``zipimport._read_directory``."""
    calls = []
    real = zipimport._read_directory

    def counting(archive):
        calls.append(archive)
        return real(archive)

    monkeypatch.setattr(zipimport, "_read_directory", counting)
    monkeypatch.setattr(zipimport.zipimporter, "invalidate_caches", pyworker._invalidate_caches)
    monkeypatch.setattr(pyworker, "_stamps", {})
    return calls


@needs_lazy_patch
def test_unchanged_archive_is_not_reread(tmp_path, reads):
    zp = str(tmp_path / "lib.zip")
    _write_zip(zp, {"pw_root.py": "X = 1\n", "pkg/__init__.py": "", "pkg/pw_leaf.py": "Y = 2\n"})
    importers = [zipimport.zipimporter(zp), zipimport.zipimporter(zp + "/pkg/")]
    assert reads == [zp]  # the second importer shares the first read
    try:
        for imp in importers:  # no stamp recorded yet: one shared read
            imp.invalidate_caches()
        assert reads == [zp, zp]
        for _ in range(5):
            for imp in importers:
                imp.invalidate_caches()
        assert reads == [zp, zp]
        assert importers[0]._files is importers[1]._files is zipimport._zip_directory_cache[zp]
        assert _load(importers[1], "pw_leaf").Y == 2
    finally:
        zipimport._zip_directory_cache.pop(zp, None)


@needs_lazy_patch
def test_rewritten_archive_is_reread_once(tmp_path, reads):
    zp = str(tmp_path / "lib.zip")
    _write_zip(zp, {"pw_mod.py": "X = 1\n"})
    importers = [zipimport.zipimporter(zp), zipimport.zipimporter(zp)]
    try:
        importers[0].invalidate_caches()
        del reads[:]
        # new size
        _write_zip(zp, {"pw_mod.py": "X = 1\n", "pw_new.py": "Z = 3\n"})
        for imp in importers:
            imp.invalidate_caches()
        assert reads == [zp]
        assert _load(importers[1], "pw_new").Z == 3
        # same size, new mtime
        st = os.stat(zp)
        _write_zip(zp, {"pw_mod.py": "X = 7\n", "pw_new.py": "Z = 3\n"})
        assert os.stat(zp).st_size == st.st_size
        os.utime(zp, ns=(st.st_atime_ns, st.st_mtime_ns + 10**9))
        for imp in importers:
            imp.invalidate_caches()
        assert reads == [zp, zp]
        assert _load(importers[0], "pw_mod").X == 7
    finally:
        zipimport._zip_directory_cache.pop(zp, None)


@needs_lazy_patch
def test_deleted_archive_gets_the_stdlib_refresh(tmp_path, reads):
    zp = str(tmp_path / "lib.zip")
    _write_zip(zp, {"pw_mod.py": "X = 1\n"})
    imp = zipimport.zipimporter(zp)
    imp.invalidate_caches()
    del reads[:]
    os.remove(zp)
    imp.invalidate_caches()
    # the stdlib tries the read, drops the archive from the shared cache
    # and leaves the importer empty
    assert reads == [zp]
    assert imp._files == {}
    assert zp not in zipimport._zip_directory_cache
    assert zp not in pyworker._stamps
    assert imp.find_spec("pw_mod") is None


def test_install_is_gated_on_python_version(monkeypatch):
    monkeypatch.setattr(zipimport.zipimporter, "invalidate_caches", pyworker._stdlib_invalidate)
    assert pyworker.install() is (sys.version_info < (3, 12))
    patched = zipimport.zipimporter.invalidate_caches is pyworker._invalidate_caches
    assert patched is (sys.version_info < (3, 12))


def test_worker_pythonpath_leads_with_the_package_root(monkeypatch):
    assert os.path.isdir(os.path.join(session.PACKAGE_ROOT, "parquet_go_spark"))
    monkeypatch.setenv("PYTHONPATH", os.pathsep.join(["/elsewhere", session.PACKAGE_ROOT, ""]))
    assert session._worker_pythonpath() == os.pathsep.join([session.PACKAGE_ROOT, "/elsewhere"])
    monkeypatch.delenv("PYTHONPATH")
    assert session._worker_pythonpath() == session.PACKAGE_ROOT


@pytest.mark.spark
def test_tasks_run_in_the_engine_daemon_and_import_added_zips(spark, tmp_path):
    """Zips shipped with ``addPyFile`` mid-session are new archives:
    the next task on a reused worker must import them."""
    import pyarrow as pa

    sc = spark.sparkContext
    names = []
    for k in range(2):
        name = f"pw_added_{uuid.uuid4().hex[:12]}"
        zp = tmp_path / f"{name}.zip"
        _write_zip(zp, {f"{name}.py": f"VALUE = {k}\n"})
        sc.addPyFile(str(zp))
        names.append(name)

        def probe(batches, names=tuple(names)):
            import importlib
            import zipimport

            from parquet_go_spark.spark import pyworker

            values = [importlib.import_module(n).VALUE for n in names]
            lazy = zipimport.zipimporter.invalidate_caches is pyworker._invalidate_caches
            for _ in batches:
                pass
            yield pa.RecordBatch.from_pydict(
                {"values": [json.dumps(values)], "lazy": [lazy], "stamps": [len(pyworker._stamps)]}
            )

        row = (
            spark.range(1, numPartitions=1)
            .mapInArrow(probe, "values string, lazy boolean, stamps long")
            .collect()[0]
        )
        assert json.loads(row["values"]) == list(range(k + 1))
        if sys.version_info < (3, 12):
            # the daemon's own start-up read stamped pyspark's archives
            assert row["lazy"] and row["stamps"] >= 1


def test_session_outside_the_repo_without_pythonpath(tmp_path):
    """Workers import the daemon from the package root that the session
    puts on ``spark.executorEnv.PYTHONPATH``, not from the working
    directory or the driver's environment."""
    script = tmp_path / "drive.py"
    script.write_text(
        textwrap.dedent(
            f"""
            import json, sys
            sys.path.insert(0, {REPO!r})
            from parquet_go_spark.spark.session import get_spark

            def ident(batches):
                yield from batches

            spark = get_spark(app="pyworker-cwd", cores=1, extra={{"spark.ui.showConsoleProgress": "false"}})
            rows = spark.range(5, numPartitions=1).mapInArrow(ident, "id long").collect()
            print(json.dumps(sorted(r.id for r in rows)))
            spark.stop()
            """
        )
    )
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    env["SPARK_DRIVER_MEM"] = "1g"
    proc = subprocess.run(
        [sys.executable, str(script)], cwd=tmp_path, env=env,
        capture_output=True, text=True, timeout=300,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    assert json.loads(proc.stdout.strip().splitlines()[-1]) == [0, 1, 2, 3, 4]
