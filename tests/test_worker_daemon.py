"""The engine's Python worker daemon: the stat-guarded zip directory cache.

The unit tests drive ``worker_daemon.invalidate_caches`` on zipimporters in
this process, with no Spark. The Spark tests check that workers of the
``get_spark`` session run the guard, that ``addPyFile`` zips still import on
reused workers, and that engine UDFs import the engine in workers when the
package is importable only through the driver's ``sys.path``.
"""

from __future__ import annotations

import importlib
import os
import subprocess
import sys
import textwrap
import time
import types
import uuid
import zipfile
import zipimport

import pandas as pd
import pytest

from apache_flink_spark import worker_daemon

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _write_zip(path, modules):
    with zipfile.ZipFile(path, "w") as z:
        for name, body in modules.items():
            z.writestr(f"{name}.py", body)


def _modname(stem):
    return f"afs_wd_{stem}_{uuid.uuid4().hex[:8]}"


@pytest.fixture
def guard(monkeypatch):
    monkeypatch.setattr(worker_daemon, "_read_at", {})
    monkeypatch.setattr(
        zipimport.zipimporter, "invalidate_caches", worker_daemon.invalidate_caches
    )


@pytest.fixture
def reads(monkeypatch):
    """Archive paths passed to ``zipimport._read_directory``, in order."""
    calls = []
    real = zipimport._read_directory

    def counting(archive):
        calls.append(archive)
        return real(archive)

    monkeypatch.setattr(zipimport, "_read_directory", counting)
    return calls


@pytest.fixture
def on_path(monkeypatch):
    """Put archives on ``sys.path``; forget their importers and modules after."""
    added = []

    def add(archive, *modules):
        monkeypatch.syspath_prepend(str(archive))
        added.append((str(archive), modules))

    yield add
    for archive, modules in added:
        sys.path_importer_cache.pop(archive, None)
        zipimport._zip_directory_cache.pop(archive, None)
        for m in modules:
            sys.modules.pop(m, None)


def test_unchanged_archive_is_not_reread(tmp_path, guard, reads):
    arc = str(tmp_path / "a.zip")
    _write_zip(arc, {"m": "X = 1\n"})
    first = zipimport.zipimporter(arc)
    second = zipimport.zipimporter(arc)  # served from _zip_directory_cache
    assert reads == [arc]
    first.invalidate_caches()  # no stamp yet in this process: reads
    for imp in (first, second, first, second):
        imp.invalidate_caches()
    assert reads == [arc, arc]
    assert second._files is first._files


@pytest.mark.parametrize("change", ["size", "mtime"])
def test_rewritten_archive_is_reread(tmp_path, guard, reads, on_path, change):
    name = _modname("rewrite")
    arc = tmp_path / "r.zip"
    _write_zip(arc, {name: "X = 1\n"})
    on_path(arc, name)
    assert importlib.import_module(name).X == 1
    importlib.invalidate_caches()
    n = reads.count(str(arc))
    importlib.invalidate_caches()
    assert reads.count(str(arc)) == n  # unchanged: skipped

    st = os.stat(arc)
    if change == "size":
        _write_zip(arc, {name: "X = 22\n"})
        assert os.stat(arc).st_size != st.st_size
    else:
        _write_zip(arc, {name: "X = 2\n"})
        assert os.stat(arc).st_size == st.st_size
        os.utime(arc, ns=(st.st_atime_ns, st.st_mtime_ns + 10**9))
    sys.modules.pop(name)
    importlib.invalidate_caches()
    assert reads.count(str(arc)) == n + 1
    assert importlib.import_module(name).X == (22 if change == "size" else 2)


def test_zip_added_to_sys_path_later_imports(tmp_path, guard, on_path):
    first, later = _modname("first"), _modname("later")
    _write_zip(tmp_path / "first.zip", {first: "X = 1\n"})
    on_path(tmp_path / "first.zip", first)
    importlib.import_module(first)
    importlib.invalidate_caches()
    _write_zip(tmp_path / "later.zip", {later: "X = 7\n"})
    on_path(tmp_path / "later.zip", later)
    importlib.invalidate_caches()
    assert importlib.import_module(later).X == 7


def test_stat_failure_falls_back_to_a_reread(tmp_path, guard, reads, monkeypatch):
    arc = str(tmp_path / "s.zip")
    _write_zip(arc, {"m": "X = 1\n"})
    imp = zipimport.zipimporter(arc)
    imp.invalidate_caches()
    assert worker_daemon._read_at[arc]

    def failing_stat(path):
        raise OSError("stat failed")

    monkeypatch.setattr(worker_daemon, "os", types.SimpleNamespace(stat=failing_stat))
    imp.invalidate_caches()
    imp.invalidate_caches()
    assert reads == [arc] * 4  # every call re-reads, as the original does
    assert arc not in worker_daemon._read_at

    # a vanished archive: the original empties the importer and the cache
    monkeypatch.setattr(worker_daemon, "os", os)
    imp.invalidate_caches()
    assert worker_daemon._read_at[arc]
    os.remove(arc)
    imp.invalidate_caches()
    assert imp._files == {}
    assert arc not in zipimport._zip_directory_cache


def test_workers_run_the_guard(spark):
    def probe(it):
        from apache_flink_spark import worker_daemon as wd

        guarded = zipimport.zipimporter.invalidate_caches is wd.invalidate_caches
        for _ in it:
            yield pd.DataFrame({"guarded": [guarded], "archives": [len(wd._read_at)]})

    rows = spark.range(0, 4, 1, 2).mapInPandas(
        probe, "guarded boolean, archives int"
    ).collect()
    assert rows
    assert all(r.guarded for r in rows)
    assert all(r.archives > 0 for r in rows)  # the daemon read pyspark.zip once


def test_add_py_file_imports_on_reused_workers(spark, tmp_path):
    name = _modname("shipped")
    arc = tmp_path / f"{name}.zip"
    _write_zip(arc, {name: "VALUE = 41\n"})

    def mark(it):
        time.sleep(0.5)  # hold every slot, so every idle worker runs this
        yield from it

    def shipped(it):
        mod = importlib.import_module(name)
        for _ in it:
            yield pd.DataFrame({"v": [mod.VALUE + 1]})

    n = spark.sparkContext.defaultParallelism
    spark.range(0, n, 1, n).mapInPandas(mark, "id long").collect()
    spark.sparkContext.addPyFile(str(arc))
    rows = spark.range(0, 1, 1, 1).mapInPandas(
        shipped, "v long"
    ).collect()
    # every worker of the pool has run a task before: the shipped zip came
    # after their guard had stamped the archives already on sys.path
    assert [r.v for r in rows] == [42]


def test_engine_udfs_import_from_driver_sys_path_only(tmp_path, sf_dir):
    """The package is importable only through the driver's ``sys.path``:
    no PYTHONPATH and a cwd outside the repository. A caller's executor
    PYTHONPATH still reaches the workers."""
    extra = tmp_path / "extra"
    extra.mkdir()
    (extra / "afs_wd_extra.py").write_text("SHIFT = 10\n")
    script = textwrap.dedent(
        f"""
        import sys
        sys.path.insert(0, {REPO!r})
        from apache_flink_spark.queries.registry import QUERIES
        from apache_flink_spark.session import get_spark

        spark = get_spark(
            master="local[2]",
            extra_conf={{"spark.executorEnv.PYTHONPATH": {str(extra)!r}}},
        )
        rows = QUERIES["mr_adjacent_pair"](spark, {sf_dir!r}).collect()
        print("mr_adjacent_pair", len(rows))

        def double(it):
            for pdf in it:
                yield pdf * 2

        out = spark.range(0, 4, 1, 2).mapInPandas(double, "id long").collect()
        print("mapInPandas", sorted(r.id for r in out))

        def shift(it):
            from afs_wd_extra import SHIFT
            for pdf in it:
                yield pdf + SHIFT

        out = spark.range(0, 2, 1, 2).mapInPandas(shift, "id long").collect()
        print("caller PYTHONPATH", sorted(r.id for r in out))
        spark.stop()
        """
    )
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    env["SPARK_GRAFT_DRIVER_MEM"] = "1g"
    proc = subprocess.run(
        [sys.executable, "-c", script], cwd=tmp_path, env=env,
        capture_output=True, text=True, timeout=600,
    )
    assert proc.returncode == 0, proc.stderr[-4000:]
    lines = proc.stdout.splitlines()
    assert any(ln.startswith("mr_adjacent_pair ") for ln in lines), proc.stdout
    assert "mapInPandas [0, 2, 4, 6]" in lines, proc.stdout
    assert "caller PYTHONPATH [10, 11]" in lines, proc.stdout
