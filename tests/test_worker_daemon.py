"""The package's Python worker daemon (``worker_daemon.py``): zip importers
that re-read an archive only when it changed, the sessions that fork
their workers from it, and the guard that keeps Spark's own daemon where
workers cannot import the package."""

from __future__ import annotations

import importlib
import os
import sys
import zipfile
import zipimport

import pytest

from fs2_kafka_streams_spark import session, worker_daemon

DAEMON = "fs2_kafka_streams_spark.worker_daemon"
REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


@pytest.mark.skipif(
    sys.version_info >= (3, 13), reason="3.13 re-reads zip archives lazily"
)
def test_stamped_importer_rereads_only_a_changed_archive(
    tmp_path, monkeypatch
):
    archive = str(tmp_path / "mods.zip")

    def write(**modules):
        with zipfile.ZipFile(archive, "w") as zf:
            for name, body in modules.items():
                zf.writestr(f"{name}.py", body)

    write(zd_mod_a="A = 1\n")
    monkeypatch.setattr(
        zipimport.zipimporter, "invalidate_caches",
        worker_daemon.invalidate_caches,
    )
    monkeypatch.setattr(worker_daemon, "_STAMPS", {})
    monkeypatch.syspath_prepend(archive)
    for name in ("zd_mod_a", "zd_mod_b"):
        monkeypatch.delitem(sys.modules, name, raising=False)
    try:
        assert importlib.import_module("zd_mod_a").A == 1
        importlib.invalidate_caches()  # stamps the archive

        # a rewrite changes the size, and the mtime a second later
        st = os.stat(archive)
        write(zd_mod_a="A = 1\n", zd_mod_b="B = 2\n")
        os.utime(archive, ns=(st.st_atime_ns, st.st_mtime_ns + 10**9))
        importlib.invalidate_caches()
        assert importlib.import_module("zd_mod_b").B == 2

        reads: list[str] = []
        read_directory = zipimport._read_directory

        def spy(path):
            reads.append(path)
            return read_directory(path)

        monkeypatch.setattr(zipimport, "_read_directory", spy)
        importlib.invalidate_caches()
        assert archive not in reads
    finally:
        sys.path_importer_cache.pop(archive, None)


def test_python_tasks_fork_from_the_worker_daemon(spark):
    """The test session starts in the repo root, so its Python workers
    run under the package's daemon, with the stamped importer installed
    (a pass-through on 3.13)."""
    assert spark.sparkContext.getConf().get(
        "spark.python.daemon.module") == DAEMON
    got = (
        spark.sparkContext.parallelize([0], 1)
        .mapPartitions(
            lambda _: [zipimport.zipimporter.invalidate_caches.__module__]
        )
        .collect()
    )
    assert got == [DAEMON if sys.version_info < (3, 13) else "zipimport"]


def test_guard_keeps_sparks_daemon_where_workers_cannot_import(
    tmp_path, monkeypatch
):
    """No JVM is involved: with no gateway up, the workers' cwd is this
    process's cwd."""
    monkeypatch.setattr(session.SparkContext, "_jvm", None)
    monkeypatch.setattr(session.site, "getsitepackages", lambda: [])
    monkeypatch.setattr(session.site, "getusersitepackages", lambda: "")
    monkeypatch.delenv("PYTHONPATH", raising=False)

    monkeypatch.chdir(tmp_path)
    assert session.worker_daemon_conf("local[4]") == {}
    monkeypatch.setenv("PYTHONPATH", os.pathsep.join(["elsewhere", REPO]))
    assert session.worker_daemon_conf("local[4]") == {
        "spark.python.daemon.module": DAEMON
    }

    monkeypatch.delenv("PYTHONPATH")
    monkeypatch.chdir(REPO)
    assert session.worker_daemon_conf("local") == {
        "spark.python.daemon.module": DAEMON
    }
    # executors of a cluster, or local-cluster, start elsewhere
    for master in ("spark://host:7077", "local-cluster[2,1,1024]", "yarn"):
        assert session.worker_daemon_conf(master) == {}
