"""The package's Python worker daemon (daemon.py): its zip directory
re-read happens only when an archive changed, and Spark runs Python tasks
under it."""

from __future__ import annotations

import importlib
import os
import sys
import zipfile
import zipimport

from german_newspaper_crawler_spark import daemon


def _write_zip(path, modules: dict[str, str]) -> None:
    tmp = f"{path}.tmp"
    with zipfile.ZipFile(tmp, "w") as z:
        for name, src in modules.items():
            z.writestr(f"{name}.py", src)
    os.replace(tmp, path)  # a new archive, as a redeploy writes it


def test_stamped_invalidate_rereads_only_changed_archives(tmp_path, monkeypatch):
    archive = str(tmp_path / "mods.zip")
    _write_zip(archive, {"gncs_zip_mod_a": "X = 1\n"})
    monkeypatch.setattr(
        zipimport.zipimporter, "invalidate_caches",
        daemon.stamped(zipimport.zipimporter.invalidate_caches),
    )
    reads = []
    real_read = zipimport._read_directory

    def counting_read(path):
        reads.append(path)
        return real_read(path)

    monkeypatch.setattr(zipimport, "_read_directory", counting_read)
    monkeypatch.syspath_prepend(archive)
    for name in ("gncs_zip_mod_a", "gncs_zip_mod_b"):
        monkeypatch.delitem(sys.modules, name, raising=False)

    import gncs_zip_mod_a

    assert gncs_zip_mod_a.X == 1
    n_import = reads.count(archive)  # the importer read it when created
    importlib.invalidate_caches()  # no stamp yet: the first call reads
    n_first = reads.count(archive)
    assert n_first == n_import + 1
    for _ in range(3):
        importlib.invalidate_caches()
    assert reads.count(archive) == n_first  # unchanged: never re-read

    _write_zip(archive, {"gncs_zip_mod_a": "X = 1\n", "gncs_zip_mod_b": "Y = 2\n"})
    importlib.invalidate_caches()
    assert reads.count(archive) == n_first + 1
    import gncs_zip_mod_b

    assert gncs_zip_mod_b.Y == 2


def test_package_daemon_only_for_local_masters(monkeypatch):
    from german_newspaper_crawler_spark import session

    monkeypatch.setattr(session, "_daemon_importable", lambda: True)
    assert session._use_package_daemon("local")
    assert session._use_package_daemon("local[4]")
    assert session._use_package_daemon("local[*]")
    # executors of a cluster master may not have the package on their path
    for master in ("spark://h:7077", "yarn", "local-cluster[2,1,1024]", "k8s://h"):
        assert not session._use_package_daemon(master)
    monkeypatch.setattr(session, "_daemon_importable", lambda: False)
    assert not session._use_package_daemon("local[4]")


def test_python_tasks_run_under_selected_daemon(spark):
    from german_newspaper_crawler_spark import session

    conf = spark.sparkContext.getConf().get("spark.python.daemon.module")
    if session._use_package_daemon(spark.sparkContext.master):
        assert conf == session.DAEMON_MODULE
        want = ("stamped.<locals>.invalidate_caches", session.DAEMON_MODULE)
    else:  # e.g. the package is not importable from the daemon's cwd
        assert conf is None
        want = ("zipimporter.invalidate_caches", "pyspark.daemon")

    def probe(batches):
        import zipimport

        for pdf in batches:
            pdf["wrapper"] = zipimport.zipimporter.invalidate_caches.__qualname__
            pdf["main"] = sys.modules["__main__"].__spec__.name
            yield pdf

    rows = spark.range(4).mapInPandas(
        probe, "id long, wrapper string, main string"
    ).collect()
    assert len(rows) == 4
    # the worker was forked from the selected daemon
    assert {(r["wrapper"], r["main"]) for r in rows} == {want}
