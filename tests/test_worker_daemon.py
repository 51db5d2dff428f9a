"""h3ron_spark.worker_daemon: the zip-directory re-read guard, the
daemon's stdout protocol, and that the session's UDF workers are forked
from it with the h3core tables already built."""

from __future__ import annotations

import importlib
import os
import select
import struct
import subprocess
import sys
import zipfile
import zipimport

from h3ron_spark import worker_daemon

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _write_zip(path, members: dict[str, str], mtime_s: int) -> None:
    with zipfile.ZipFile(path, "w") as z:
        for name, src in members.items():
            z.writestr(name, src)
    os.utime(path, (mtime_s, mtime_s))


def test_unchanged_archive_is_not_reread(tmp_path, monkeypatch):
    archive = str(tmp_path / "pkg.zip")
    members = {
        "zdpkg/__init__.py": "",
        "zdpkg/sub/__init__.py": "",
        "zdpkg/sub/a.py": "A = 1\n",
    }
    _write_zip(archive, members, 1_600_000_000)
    # restore the stock method and the guard's state at teardown
    monkeypatch.setattr(
        zipimport.zipimporter, "invalidate_caches", zipimport.zipimporter.invalidate_caches
    )
    monkeypatch.setattr(worker_daemon, "_read_stamps", {})
    monkeypatch.syspath_prepend(archive)
    try:
        import zdpkg.sub.a  # noqa: F401  three importers of one archive

        importers = [
            v for k, v in sys.path_importer_cache.items() if k.startswith(archive)
        ]
        assert len(importers) >= 2
        worker_daemon.install()

        reads = []
        stock_read = zipimport._read_directory

        def spy(path):
            reads.append(path)
            return stock_read(path)

        monkeypatch.setattr(zipimport, "_read_directory", spy)
        for _ in range(5):
            importlib.invalidate_caches()
        assert reads.count(archive) == 0

        _write_zip(archive, {**members, "zdpkg/sub/b.py": "B = 2\n"}, 1_600_000_100)
        importlib.invalidate_caches()
        assert reads.count(archive) == 1
        from zdpkg.sub import b

        assert b.B == 2
        importlib.invalidate_caches()
        assert reads.count(archive) == 1
    finally:
        for name in [m for m in sys.modules if m.split(".")[0] == "zdpkg"]:
            del sys.modules[name]
        for key in [k for k in sys.path_importer_cache if k.startswith(archive)]:
            del sys.path_importer_cache[key]
        zipimport._zip_directory_cache.pop(archive, None)


def _port_then_exit_code(module: str) -> int:
    """Start ``python -m module``, read the 4-byte port the JVM would
    read from its stdout, then close its stdin and return its exit code."""
    proc = subprocess.Popen(
        [sys.executable, "-m", module],
        cwd=REPO,
        stdin=subprocess.PIPE,
        stdout=subprocess.PIPE,
        stderr=subprocess.DEVNULL,
    )
    try:
        ready, _, _ = select.select([proc.stdout], [], [], 120)
        assert ready, f"{module} wrote no port"
        raw = proc.stdout.read(4)
        assert len(raw) == 4, raw
        (port,) = struct.unpack("!i", raw)
        assert 1 <= port <= 65535
        proc.stdin.close()
        return proc.wait(timeout=60)
    finally:
        if proc.poll() is None:
            proc.kill()
            proc.wait()


def test_daemon_keeps_the_stdout_protocol():
    code = _port_then_exit_code("h3ron_spark.worker_daemon")
    assert code == _port_then_exit_code("pyspark.daemon")


def test_session_workers_fork_from_the_daemon(spark):
    from pyspark.sql.functions import udf

    def probe(_):
        import sys
        import zipimport

        # read the table without importing h3core here
        derive = sys.modules.get("h3ron_spark.h3core.derive")
        return "%s|%s" % (
            zipimport.zipimporter.invalidate_caches.__module__,
            derive is not None and derive._FACE_IJK_BC is not None,
        )

    got = spark.range(1, numPartitions=1).select(udf(probe)("id")).first()[0]
    assert got == "h3ron_spark.worker_daemon|True"
