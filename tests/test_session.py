from __future__ import annotations

import json
import os
import subprocess
import sys
import zipfile
import zipimport

from processor_post_timeseries_spark import session


def test_package_zip_is_private_to_the_process_and_complete():
    """Each driver process ships its own zip: a second process on the
    same host gets another path (and removes it at exit), and the zip
    holds every module of the package."""
    pkg_dir = os.path.dirname(os.path.abspath(session.__file__))
    pkg_name = os.path.basename(pkg_dir)
    mine = session.package_zip()
    assert session.package_zip() == mine
    assert os.path.basename(mine) == f"{pkg_name}.zip"

    other = subprocess.run(
        [sys.executable, "-c",
         "from processor_post_timeseries_spark.session import package_zip; print(package_zip())"],
        cwd=os.path.dirname(pkg_dir), capture_output=True, text=True, check=True,
    ).stdout.strip()
    assert other and other != mine
    assert not os.path.exists(other)

    want = {
        os.path.join(pkg_name, os.path.relpath(os.path.join(root, f), pkg_dir))
        for root, _dirs, files in os.walk(pkg_dir) for f in files if f.endswith(".py")
    }
    with zipfile.ZipFile(mine) as z:
        assert z.testzip() is None
        assert set(z.namelist()) == want


_WORKER_SCRIPT = r"""
import importlib, json, os, zipimport

import numpy as np
import pyarrow as pa

stock = zipimport.zipimporter.invalidate_caches

from processor_post_timeseries_spark.functions.codec import dod_encode_array
from processor_post_timeseries_spark.session import get_spark


def probe(batches):
    # the engine reference makes this kernel's unpickle import the engine
    dod_encode_array(np.zeros(1, np.int32))
    reads = []
    read = zipimport._read_directory

    def counting(path):
        reads.append(path)
        return read(path)

    zipimport._read_directory = counting
    try:
        importlib.invalidate_caches()
    finally:
        zipimport._read_directory = read
    for _b in batches:
        pass
    yield pa.RecordBatch.from_pydict({"pid": [os.getpid()], "reads": [len(reads)]})


spark = get_spark("zipcache-worker", master="local[2]",
                  extra_conf={"spark.driver.memory": "1g"})
# barrier stages run both tasks at once, so each job uses both workers
jobs = [[(r.pid, r.reads) for r in spark.range(2, numPartitions=2)
         .mapInArrow(probe, "pid long, reads long", barrier=True).collect()]
        for _ in range(2)]
spark.stop()
print(json.dumps({"jobs": jobs,
                  "driver_stock": zipimport.zipimporter.invalidate_caches is stock}))
"""


def test_worker_tasks_reread_no_zip_directory_after_the_first_engine_task():
    """Once a worker has run an engine task, its next task's
    ``importlib.invalidate_caches()`` reads no zip directory, and the
    driver's zipimport stays stock."""
    pkg_dir = os.path.dirname(os.path.abspath(session.__file__))
    out = subprocess.run([sys.executable, "-c", _WORKER_SCRIPT], cwd=os.path.dirname(pkg_dir),
                         capture_output=True, text=True, timeout=600)
    assert out.returncode == 0, out.stderr[-4000:]
    got = json.loads(out.stdout.strip().splitlines()[-1])
    first, second = got["jobs"]
    assert {pid for pid, _n in second} <= {pid for pid, _n in first}
    assert [n for _pid, n in second] == [0, 0]
    assert got["driver_stock"]
    assert not getattr(zipimport.zipimporter.invalidate_caches, "_stat_keyed", False)


_FS_SCRIPT = r"""
from processor_post_timeseries_spark.session import get_spark

spark = get_spark("fs-probe", master="local[1]", extra_conf={"spark.driver.memory": "1g"})
jvm = spark.sparkContext._jvm
fs = jvm.org.apache.hadoop.fs.FileSystem.get(
    jvm.java.net.URI("file:///"), spark.sparkContext._jsc.hadoopConfiguration())
print(fs.getClass().getName(), fs.getRawFileSystem().getClass().getName())
spark.stop()
"""


def test_fresh_session_resolves_file_scheme_to_the_nio_filesystem():
    """A fresh ``get_spark`` session loads the shipped jar: ``file:///``
    resolves to the NIO filesystem, not a silent fallback to the stock
    ``RawLocalFileSystem``, which forks ``chmod`` for every file it
    creates."""
    pkg_dir = os.path.dirname(os.path.abspath(session.__file__))
    out = subprocess.run([sys.executable, "-c", _FS_SCRIPT], cwd=os.path.dirname(pkg_dir),
                         capture_output=True, text=True, timeout=600)
    assert out.returncode == 0, out.stderr[-4000:]
    got = out.stdout.strip().splitlines()[-1].split()
    assert got == ["pts.fs.NioLocalFileSystem", "pts.fs.NioRawLocalFileSystem"]
