"""The engine's Python worker daemon: a zip import cache that re-reads only what changed.

The unit cases run in a fresh interpreter that loads
``scio_db_spark/python_daemon.py`` by path and installs its patch, so
this pytest process keeps the stdlib ``zipimporter``. The worker case
checks the patch from inside a Python worker of the shared session.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import textwrap

import pytest

_MODULE = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    "scio_db_spark",
    "python_daemon.py",
)

# Loads the module by path (no pyspark import), optionally installs the
# patch, and gives the case a counter of zipimport._read_directory calls.
_PRELUDE = """
import importlib, importlib.util, json, os, sys, zipfile, zipimport
if os.environ.get("FAKE_VERSION"):
    sys.version_info = tuple(int(p) for p in os.environ["FAKE_VERSION"].split(".")) + ("final", 0)
stdlib_method = zipimport.zipimporter.invalidate_caches
spec = importlib.util.spec_from_file_location("python_daemon", os.environ["DAEMON_MODULE"])
python_daemon = importlib.util.module_from_spec(spec)
spec.loader.exec_module(python_daemon)
installed = python_daemon.install() if os.environ["PATCH"] == "1" else False
reads = []
_read_directory = zipimport._read_directory
def _counting(path):
    reads.append(path)
    return _read_directory(path)
zipimport._read_directory = _counting
def write_zip(path, files):
    with zipfile.ZipFile(path, "w") as z:
        for name, src in files.items():
            z.writestr(name, src)
tmp = sys.argv[1]
"""


def _run(case: str, tmp_path, patch: bool = True, fake_version: str = "") -> dict:
    env = dict(
        os.environ,
        DAEMON_MODULE=_MODULE,
        PATCH="1" if patch else "0",
        FAKE_VERSION=fake_version,
    )
    out = subprocess.run(
        [sys.executable, "-c", _PRELUDE + textwrap.dedent(case), str(tmp_path)],
        env=env,
        capture_output=True,
        text=True,
        timeout=120,
        check=True,
    ).stdout
    return json.loads(out.strip().splitlines()[-1])


_UNCHANGED_ZIP = """
zpath = os.path.join(tmp, "lib.zip")
write_zip(zpath, {
    "pa/__init__.py": "", "pa/m.py": "X = 1",
    "pb/__init__.py": "", "pb/m.py": "Y = 2",
})
sys.path.insert(0, zpath)
import pa.m, pb.m
before = len(reads)
per_call = []
for _ in range(2):
    n = len(reads)
    importlib.invalidate_caches()
    per_call.append(len(reads) - n)
import pa.m as again
print(json.dumps({"installed": installed, "import_reads": before,
                  "per_call": per_call, "x": again.X}))
"""


@pytest.mark.skipif(sys.version_info >= (3, 13), reason="stdlib is lazy on 3.13+")
def test_unchanged_zip_is_not_read_again(tmp_path):
    # Three importers share lib.zip: the root and one per subpackage.
    r = _run(_UNCHANGED_ZIP, tmp_path)
    assert r["installed"] is True
    assert r["import_reads"] == 1
    # The first call reads the archive once to stamp it, then never.
    assert r["per_call"] == [1, 0]
    assert r["x"] == 1
    # The stdlib method re-reads once per importer on every call.
    assert _run(_UNCHANGED_ZIP, tmp_path, patch=False)["per_call"] == [3, 3]


@pytest.mark.parametrize("patch", [True, False], ids=["patched", "stdlib"])
def test_rewritten_zip_is_read_again(tmp_path, patch):
    r = _run(
        """
        zpath = os.path.join(tmp, "mods.zip")
        write_zip(zpath, {"zmod_a.py": "A = 1"})
        sys.path.insert(0, zpath)
        import zmod_a
        importlib.invalidate_caches()
        write_zip(zpath, {"zmod_b.py": "B = 'two'"})
        del sys.modules["zmod_a"]
        importlib.invalidate_caches()
        import zmod_b
        try:
            import zmod_a
            a_gone = False
        except ImportError:
            a_gone = True
        print(json.dumps({"b": zmod_b.B, "a_gone": a_gone}))
        """,
        tmp_path,
        patch=patch,
    )
    assert r == {"b": "two", "a_gone": True}


def test_new_file_in_path_directory_is_importable(tmp_path):
    # The addFile case: a .py lands in a sys.path directory after that
    # directory's listing was cached; FileFinder invalidation is untouched.
    r = _run(
        """
        d = os.path.join(tmp, "files")
        os.mkdir(d)
        with open(os.path.join(d, "first_mod.py"), "w") as f:
            f.write("V = 1")
        sys.path.insert(0, d)
        import first_mod
        with open(os.path.join(d, "late_mod.py"), "w") as f:
            f.write("V = 2")
        importlib.invalidate_caches()
        import late_mod
        print(json.dumps({"v": late_mod.V, "installed": installed}))
        """,
        tmp_path,
    )
    assert r == {"v": 2, "installed": sys.version_info < (3, 13)}


@pytest.mark.parametrize("fake_version", ["", "3.13.0"], ids=["native", "as_3_13"])
def test_stdlib_method_kept_from_3_13(tmp_path, fake_version):
    r = _run(
        """
        print(json.dumps({"installed": installed,
                          "stdlib": zipimport.zipimporter.invalidate_caches is stdlib_method,
                          "py313": sys.version_info >= (3, 13)}))
        """,
        tmp_path,
        fake_version=fake_version,
    )
    assert r["installed"] is not r["py313"]
    assert r["stdlib"] is r["py313"]


@pytest.mark.skipif(sys.version_info >= (3, 13), reason="stdlib is lazy on 3.13+")
def test_workers_fork_from_patched_daemon(spark):
    # Nested, so cloudpickle ships it by value: workers cannot import
    # this test module.
    def zip_cache(it):
        import importlib
        import zipimport

        import pandas as pd

        reads = []
        read_directory = zipimport._read_directory

        def counting(path):
            reads.append(path)
            return read_directory(path)

        zipimport._read_directory = counting
        try:
            importlib.invalidate_caches()
        finally:
            zipimport._read_directory = read_directory
        for _ in it:
            pass
        patched = zipimport.zipimporter.invalidate_caches.__module__ != "zipimport"
        yield pd.DataFrame({"patched": [patched], "reads": [len(reads)]})

    rows = (
        spark.range(4, numPartitions=2)
        .mapInPandas(zip_cache, "patched boolean, reads long")
        .collect()
    )
    assert [(r.patched, r.reads) for r in rows] == [(True, 0), (True, 0)]


_REPO = os.path.dirname(os.path.dirname(_MODULE))


def _driver(script: str, **kwargs) -> str:
    """Run ``script`` as a driver in a fresh interpreter; its stdout."""
    return subprocess.run(
        [sys.executable, "-c", script],
        capture_output=True,
        text=True,
        timeout=300,
        check=True,
        **kwargs,
    ).stdout


def test_live_session_without_daemon_conf_keeps_working():
    # A session someone else started without the conf: SessionFactory
    # returns that session and names the core confs its context keeps,
    # and its workers keep forking from pyspark's daemon.
    script = """
import warnings
import pandas as pd
from pyspark.sql import SparkSession
spark = (SparkSession.builder.master("local[1]").config("spark.ui.enabled", "false")
         .config("spark.driver.memory", "1g").getOrCreate())
from scio_db_spark.session import SessionFactory
with warnings.catch_warnings(record=True) as caught:
    warnings.simplefilter("always")
    same = SessionFactory.create("live") is spark
for w in caught:
    print("WARNING", w.category.__name__, w.message)
print("PARTITIONS", spark.conf.get("spark.sql.shuffle.partitions"))
def module(it):
    import zipimport
    for _ in it:
        pass
    yield pd.DataFrame({"m": [zipimport.zipimporter.invalidate_caches.__module__]})
rows = spark.range(1).mapInPandas(module, "m string").collect()
print(same, spark.sparkContext.getConf().get("spark.python.daemon.module"), rows[0].m)
"""
    lines = _driver(
        script, cwd=_REPO, env=dict(os.environ, PYTHONPATH=_REPO)
    ).strip().splitlines()
    assert lines[-1] == "True None zipimport"
    assert "PARTITIONS 32" in lines
    warned = [line for line in lines if line.startswith("WARNING ")]
    assert len(warned) == 1 and warned[0].startswith("WARNING RuntimeWarning ")
    assert "spark.driver.memory='1g'" in warned[0]
    assert "spark.python.daemon.module=None" in warned[0]
    assert "spark.sql.shuffle.partitions" not in warned[0]


def test_live_session_same_warehouse_dir_is_not_named(tmp_path):
    # Spark stores the warehouse dir qualified (file:/...): asking a
    # live session again for the same path names nothing, and asking
    # for another path names the conf.
    script = f"""
import warnings
from scio_db_spark.session import SessionFactory
conf = {{"spark.ui.enabled": "false"}}
for wh in ("wh1", "wh1", "wh2"):
    conf["spark.sql.warehouse.dir"] = {str(tmp_path)!r} + "/" + wh
    with warnings.catch_warnings(record=True) as caught:
        warnings.simplefilter("always")
        SessionFactory.create("live", master="local[1]", extra_conf=conf)
    print("WARNED", wh, len(caught), *(w.message for w in caught))
"""
    lines = [
        line for line in _driver(
            script, cwd=_REPO, env=dict(os.environ, PYTHONPATH=_REPO)
        ).splitlines()
        if line.startswith("WARNED ")
    ]
    assert lines[:2] == ["WARNED wh1 0", "WARNED wh1 0"]
    assert lines[2].startswith("WARNED wh2 1 SessionFactory: the running")
    assert "spark.sql.warehouse.dir='file:" in lines[2]
    assert lines[2].count("=") == 1


def test_workers_import_package_from_any_directory(tmp_path):
    # A driver started outside the checkout, which it only has on its
    # own sys.path (the tools/ bootstrap): the daemon and the UDF still
    # find scio_db_spark in the workers.
    script = f"""
import sys
sys.path.insert(0, {_REPO!r})
from scio_db_spark.session import SessionFactory
spark = SessionFactory.create(master="local[2]")
def passthrough(it):
    yield from it
print("COUNT", spark.range(4, numPartitions=2).mapInPandas(passthrough, "id long").count())
"""
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    out = _driver(script, cwd=tmp_path, env=env)
    assert out.strip().splitlines()[-1] == "COUNT 4"
