"""The worker daemon's zip directory cache (table_computing_spark.worker_daemon)."""

from __future__ import annotations

import importlib
import json
import os
import subprocess
import sys
import textwrap
import zipfile
import zipimport

import pytest

from table_computing_spark import worker_daemon

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
EAGER = not hasattr(zipimport.zipimporter, "_get_files")


def _write_archive(path, value, extra=False):
    with zipfile.ZipFile(path, "w") as zf:
        zf.writestr("zdc_probe/__init__.py", "")
        zf.writestr("zdc_probe/sub.py", f"VALUE = {value}\n")
        if extra:
            zf.writestr("zdc_probe/extra.py", "EXTRA = True\n")


def _forget_probe(archive):
    for name in ("zdc_probe", "zdc_probe.sub", "zdc_probe.extra"):
        sys.modules.pop(name, None)
    sys.path_importer_cache.pop(archive, None)


@pytest.mark.skipif(not EAGER, reason="this interpreter's zipimporter reads lazily")
def test_directory_reread_only_when_archive_changes(tmp_path, monkeypatch):
    archive = str(tmp_path / "probe.zip")
    _write_archive(archive, 1)
    reads = []
    real_read = zipimport._read_directory

    def counting_read(path):
        if path == archive:
            reads.append(path)
        return real_read(path)

    monkeypatch.setattr(zipimport, "_read_directory", counting_read)
    monkeypatch.setattr(
        zipimport.zipimporter, "invalidate_caches", worker_daemon._invalidate_caches
    )
    monkeypatch.syspath_prepend(archive)
    try:
        assert importlib.import_module("zdc_probe.sub").VALUE == 1
        importlib.invalidate_caches()  # the first call reads and stamps
        reads.clear()
        for _ in range(3):
            importlib.invalidate_caches()
        assert reads == []

        _write_archive(archive, 2, extra=True)
        st = os.stat(archive)
        os.utime(archive, ns=(st.st_atime_ns, st.st_mtime_ns + 1_000_000))
        importlib.invalidate_caches()
        importlib.invalidate_caches()
        assert len(reads) == 1
        for name in ("zdc_probe", "zdc_probe.sub"):
            sys.modules.pop(name, None)
        assert importlib.import_module("zdc_probe.sub").VALUE == 2
        assert importlib.import_module("zdc_probe.extra").EXTRA

        os.remove(archive)
        importlib.invalidate_caches()
        assert archive not in zipimport._zip_directory_cache
        assert archive not in worker_daemon._read_stamps
        assert sys.path_importer_cache[archive]._files == {}
    finally:
        _forget_probe(archive)


_PROBE = textwrap.dedent(
    """
    import json, sys
    sys.path.insert(0, sys.argv[1])
    import pandas as pd
    from table_computing_spark.session import get_spark

    def probe(batches):
        import zipimport
        try:
            from caller_module import CALLER
        except ImportError:
            CALLER = None
        fn = zipimport.zipimporter.invalidate_caches
        for _ in batches:
            yield pd.DataFrame({
                "qualname": [fn.__qualname__],
                "file": [fn.__code__.co_filename],
                "lazy": [hasattr(zipimport.zipimporter, "_get_files")],
                "caller": [CALLER],
            })

    rows = []
    for extra in ({}, {"spark.executorEnv.PYTHONPATH": sys.argv[2]}):
        spark = get_spark("worker-daemon-probe", **{"spark.sql.shuffle.partitions": "1"}, **extra)
        rows.append(spark.range(1, numPartitions=1).mapInPandas(
            probe, "qualname string, file string, lazy boolean, caller string"
        ).first().asDict())
        spark.stop()
    print(json.dumps(rows))
    """
)


def test_session_workers_run_the_daemon_outside_the_repo(tmp_path):
    """A driver started outside the repo runs Python UDFs and its
    workers carry the replacement invalidate_caches, with and without a
    caller's own executor PYTHONPATH, which is kept beside the package's."""
    script = tmp_path / "probe.py"
    script.write_text(_PROBE)
    caller_dir = tmp_path / "caller"
    caller_dir.mkdir()
    (caller_dir / "caller_module.py").write_text("CALLER = 'kept'\n")
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    env.update(SPARK_GRAFT_CPUS="1", SPARK_GRAFT_DRIVER_MEM="1g")
    out = subprocess.run(
        [sys.executable, str(script), ROOT, str(caller_dir)],
        cwd=tmp_path, env=env, capture_output=True, text=True, timeout=300,
    )
    assert out.returncode == 0, out.stderr[-3000:]
    default, with_caller = json.loads(out.stdout.strip().splitlines()[-1])
    assert default["caller"] is None
    assert with_caller["caller"] == "kept"
    for row in (default, with_caller):
        if row["lazy"]:
            assert row["qualname"] == "zipimporter.invalidate_caches"
        else:
            assert row["qualname"] == worker_daemon._invalidate_caches.__qualname__
            assert os.path.samefile(row["file"], worker_daemon.__file__)
