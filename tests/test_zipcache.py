"""Stat-keyed zip importer invalidation (``_zipcache``).

Each test runs in its own interpreter so the pytest process's
``zipimport`` is never patched. The prelude puts a one-module zip on
``sys.path``, imports it, marks the process as a Spark Python worker and
counts calls to ``zipimport._read_directory``.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

from processor_post_timeseries_spark import session

_PRELUDE = r"""
import importlib, json, os, sys, zipfile, zipimport

archive = os.path.join(sys.argv[1], "mods.zip")

def write(*mods):
    with zipfile.ZipFile(archive, "w") as z:
        for m in mods:
            z.writestr(f"{m}.py", f"NAME = {m!r}\n")

write("m1")
sys.path.insert(0, archive)
import m1

stock = zipimport.zipimporter.invalidate_caches
from processor_post_timeseries_spark import _zipcache  # not a worker yet: no patch
assert zipimport.zipimporter.invalidate_caches is stock
from pyspark.core.files import SparkFiles
SparkFiles._is_running_on_worker = True

reads = []
_read = zipimport._read_directory

def counting(path):
    reads.append(path)
    return _read(path)

zipimport._read_directory = counting

def invalidate():
    reads.clear()
    importlib.invalidate_caches()
    return len(reads)
"""


def _run(body: str, tmp_path) -> dict:
    """Run the prelude, then ``body``, which prints one JSON object."""
    pkg_dir = os.path.dirname(os.path.abspath(session.__file__))
    out = subprocess.run(
        [sys.executable, "-c", _PRELUDE + body, str(tmp_path)],
        cwd=os.path.dirname(pkg_dir), capture_output=True, text=True, timeout=120,
    )
    assert out.returncode == 0, out.stderr
    return json.loads(out.stdout.strip().splitlines()[-1])


def test_unchanged_archive_is_not_reread(tmp_path):
    got = _run("""
_zipcache.install()
primed = invalidate()
print(json.dumps({"primed": primed, "again": [invalidate() for _ in range(3)]}))
""", tmp_path)
    assert got["primed"] >= 1
    assert got["again"] == [0, 0, 0]


def test_changed_archive_is_reread_once(tmp_path):
    got = _run("""
_zipcache.install()
invalidate()
write("m1", "m2")
n = invalidate()
import m2
print(json.dumps({"reads": n, "m2": m2.NAME, "after": invalidate()}))
""", tmp_path)
    assert got == {"reads": 1, "m2": "m2", "after": 0}


def test_missing_archive_leaves_an_empty_importer(tmp_path):
    got = _run("""
_zipcache.install()
invalidate()
os.remove(archive)
invalidate()
print(json.dumps({"files": len(sys.path_importer_cache[archive]._files)}))
""", tmp_path)
    assert got == {"files": 0}


def test_install_twice_wraps_once(tmp_path):
    got = _run("""
_zipcache.install()
patched = zipimport.zipimporter.invalidate_caches
_zipcache.install()
same = zipimport.zipimporter.invalidate_caches is patched
invalidate()
write("m1", "m2")
print(json.dumps({"patched": patched is not stock, "same": same, "reads": invalidate()}))
""", tmp_path)
    assert got == {"patched": True, "same": True, "reads": 1}


def test_python_313_is_left_stock(tmp_path):
    got = _run("""
real = sys.version_info
sys.version_info = (3, 13, 0, "final", 0)
try:
    _zipcache.install()
finally:
    sys.version_info = real
print(json.dumps({"stock": zipimport.zipimporter.invalidate_caches is stock}))
""", tmp_path)
    assert got == {"stock": True}
