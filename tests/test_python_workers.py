"""Python-worker set-up of ``session.get_spark``: the ``pydaemon`` guard on
``zipimporter.invalidate_caches``, its wiring for ``local[...]`` masters,
and the package on the workers' path."""

from __future__ import annotations

import os
import subprocess
import sys
import textwrap
import zipfile
import zipimport

import pytest

from map_reduce_implementation_spark import pydaemon
from map_reduce_implementation_spark.session import (
    PACKAGE_ROOT,
    _with_worker_conf,
    merge_pythonpath,
)

DAEMON = "map_reduce_implementation_spark.pydaemon"
PYTHONPATH = "spark.executorEnv.PYTHONPATH"


def _write_zip(path, modules: dict[str, str]) -> None:
    tmp = f"{path}.tmp"
    with zipfile.ZipFile(tmp, "w") as zf:
        for name, src in modules.items():
            zf.writestr(f"{name}.py", src)
    os.replace(tmp, path)  # a rewrite gives the archive a new inode


def _load(importer, name):
    spec = importer.find_spec(name)
    assert spec is not None, f"{name} not found in {importer.archive}"
    module = type(sys)(name)
    spec.loader.exec_module(module)
    return module


def test_guard_rereads_only_changed_archives(tmp_path, monkeypatch):
    calls = []

    def counting(self):
        calls.append(self.archive)
        original(self)

    original = pydaemon._original_invalidate_caches
    monkeypatch.setattr(pydaemon, "_original_invalidate_caches", counting)
    monkeypatch.setattr(pydaemon, "_read_stamps", {})

    archive = str(tmp_path / "mods.zip")
    _write_zip(archive, {"mr_zip_a": "VALUE = 'a'\n"})
    imp, other = zipimport.zipimporter(archive), zipimport.zipimporter(archive)

    pydaemon.invalidate_caches(imp)  # first sight: read and stamp
    assert len(calls) == 1
    for _ in range(3):
        pydaemon.invalidate_caches(imp)
        pydaemon.invalidate_caches(other)
    assert len(calls) == 1, "unchanged archive was re-read"
    assert _load(imp, "mr_zip_a").VALUE == "a"

    _write_zip(archive, {"mr_zip_a": "VALUE = 'a'\n", "mr_zip_b": "VALUE = 'b'\n"})
    pydaemon.invalidate_caches(imp)
    assert len(calls) == 2, "rewritten archive was not re-read"
    assert _load(imp, "mr_zip_b").VALUE == "b"
    # a second importer of the same archive adopts the fresh directory
    pydaemon.invalidate_caches(other)
    assert len(calls) == 2
    assert _load(other, "mr_zip_b").VALUE == "b"

    os.remove(archive)
    pydaemon.invalidate_caches(imp)  # stat fails: fall through
    pydaemon.invalidate_caches(imp)
    assert len(calls) == 4


def test_merge_pythonpath_keeps_caller_value_and_appends_once():
    assert merge_pythonpath(None) == PACKAGE_ROOT
    assert merge_pythonpath("") == PACKAGE_ROOT
    mine = os.pathsep.join(["/srv/libs", "relative/dir"])
    merged = merge_pythonpath(mine)
    assert merged == mine + os.pathsep + PACKAGE_ROOT
    assert merge_pythonpath(merged) == merged
    assert merge_pythonpath(PACKAGE_ROOT) == PACKAGE_ROOT


def test_worker_conf_local_masters_only():
    for master in ("local", "local[4]", "local[*]"):
        conf = _with_worker_conf(master, {PYTHONPATH: "/srv/libs", "k": "v"})
        assert conf[PYTHONPATH] == "/srv/libs" + os.pathsep + PACKAGE_ROOT
        assert conf["k"] == "v"
        if sys.version_info < (3, 13):
            assert conf["spark.python.daemon.module"] == DAEMON
        else:
            assert "spark.python.daemon.module" not in conf
    # a caller's own daemon module wins
    own = {"spark.python.daemon.module": "my.daemon"}
    assert _with_worker_conf("local[2]", own)["spark.python.daemon.module"] == "my.daemon"
    # executors elsewhere may not see this checkout: stock daemon, caller's path
    remote = {PYTHONPATH: "/srv/libs"}
    assert _with_worker_conf("spark://host:7077", remote) == remote
    assert _with_worker_conf("yarn", {}) == {}


@pytest.mark.skipif(sys.version_info >= (3, 13), reason="3.13+ runs the stock daemon")
def test_local_tasks_run_under_pydaemon(spark):
    def probe(_):
        import pyspark

        yield zipimport.zipimporter.invalidate_caches.__module__, pyspark.__file__

    got = set(spark.sparkContext.parallelize(range(4), 4).mapPartitions(probe).collect())
    for module, pyspark_file in got:
        assert module == DAEMON
        # the workers keep importing Spark's own pyspark.zip build
        assert f"{os.sep}pyspark.zip{os.sep}" in pyspark_file, pyspark_file


def test_workers_import_package_outside_repo_root(tmp_path):
    """Map functions and the MinHash kernel are pickled by reference, so
    the workers must import the package even when the calling process
    found it only through its own ``sys.path`` and runs elsewhere."""
    script = textwrap.dedent(
        f"""
        import sys
        sys.path.insert(0, {PACKAGE_ROOT!r})
        from map_reduce_implementation_spark.core.mapreduce import (
            MapReduceSpec, letter_counter_map, letter_counter_reduce, run_mapreduce)
        from map_reduce_implementation_spark.operators.dedup import (
            minhash_signatures_arrow)
        from map_reduce_implementation_spark.session import get_spark

        spark = get_spark(app_name="outside_repo", master="local[2]",
                          shuffle_partitions=2)
        with open("corpus.txt", "w") as fh:
            fh.write("Hello World\\n" * 40)
        spec = MapReduceSpec("corpus.txt", 2, letter_counter_map, letter_counter_reduce)
        print("COUNTER", " ".join(run_mapreduce(spark, spec).lines))
        shingles = spark.createDataFrame(
            [(1, "ab"), (1, "bc"), (2, "ab"), (3, "cd")], "doc_id long, shingle string")
        rows = minhash_signatures_arrow(shingles, 8, bands=2).collect()
        print("MINHASH", sorted((r.doc_id, len(r.sig), len(r.bands)) for r in rows))
        spark.stop()
        """
    )
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    env.setdefault("SPARK_GRAFT_DRIVER_MEM", "1g")
    proc = subprocess.run(
        [sys.executable, "-c", script],
        cwd=tmp_path,
        env=env,
        capture_output=True,
        text=True,
        timeout=600,
    )
    out = proc.stdout + proc.stderr
    assert "ModuleNotFoundError" not in out, out[-4000:]
    assert proc.returncode == 0, out[-4000:]
    assert "COUNTER A 0 B 0 C 0 D 40 E 40 " in proc.stdout
    assert "MINHASH [(1, 8, 2), (2, 8, 2), (3, 8, 2)]" in proc.stdout
