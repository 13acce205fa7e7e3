"""The once-per-worker import cache (session.install_worker_import_cache).

The helper patches process-wide state (zipimporter, gc), so each case
runs in its own interpreter.  The unit cases fake a TaskContext and
need no Spark session; the last case runs real Python workers from a
cwd outside the repository, so they import gdal_spark from the
shipped archive.
"""

import json
import os
import subprocess
import sys
import zipimport

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

eager_only = pytest.mark.skipif(
    hasattr(zipimport.zipimporter, "_get_files"),
    reason="this interpreter's zipimporter already invalidates lazily",
)

PRELUDE = f"""
import gc, importlib, json, os, sys, zipfile, zipimport
sys.path.insert(0, {ROOT!r})
from pyspark import TaskContext
from gdal_spark import session

ARC = os.path.abspath("mods.zip")

def write_zip(*names):
    with zipfile.ZipFile(ARC, "w") as zf:
        for name in names:
            zf.writestr(name + ".py", "VALUE = %r\\n" % name)

reads = []
_read = zipimport._read_directory

def counting_read(archive):
    reads.append(archive)
    return _read(archive)

zipimport._read_directory = counting_read

def reads_per(calls):
    del reads[:]
    for _ in range(calls):
        importlib.invalidate_caches()
    return len(reads)

write_zip("alpha")
sys.path.insert(0, ARC)
import alpha
"""


def _run(tmp_path, script):
    """Run ``script`` in a fresh interpreter with cwd ``tmp_path`` and
    return the JSON its last output line holds."""
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    out = subprocess.run(
        [sys.executable, "-c", script],
        cwd=tmp_path, env=env, capture_output=True, text=True, timeout=600,
    )
    assert out.returncode == 0, out.stderr[-3000:]
    return json.loads(out.stdout.strip().splitlines()[-1])


@eager_only
def test_unchanged_archive_is_not_reread(tmp_path):
    res = _run(tmp_path, PRELUDE + """
before = reads_per(3)
TaskContext._getOrCreate()
session.install_worker_import_cache()
first = reads_per(1)
print(json.dumps({"before": before, "first": first, "after": reads_per(5)}))
""")
    # eager: one full directory read per importer per call
    assert res["before"] == 3
    # the first patched call records the archive's stat, then no reads
    assert res["first"] == 1
    assert res["after"] == 0


@eager_only
def test_rewritten_archive_is_reread(tmp_path):
    res = _run(tmp_path, PRELUDE + """
TaskContext._getOrCreate()
session.install_worker_import_cache()
reads_per(2)
write_zip("alpha", "beta")
n = reads_per(1)
import beta
importlib.reload(alpha)
print(json.dumps({"reads": n, "beta": beta.VALUE, "alpha": alpha.VALUE,
                  "again": reads_per(3)}))
""")
    assert res == {"reads": 1, "beta": "beta", "alpha": "alpha", "again": 0}


def test_noop_outside_tasks(tmp_path):
    res = _run(tmp_path, PRELUDE + """
eager = zipimport.zipimporter.invalidate_caches
session.install_worker_import_cache()
print(json.dumps({
    "task": TaskContext.get() is not None,
    "patched": zipimport.zipimporter.invalidate_caches is not eager,
    "frozen": gc.get_freeze_count(),
    "lazy": hasattr(zipimport.zipimporter, "_get_files"),
    "reads": reads_per(3),
}))
""")
    assert not res["task"] and not res["patched"] and res["frozen"] == 0
    assert res["reads"] == (0 if res["lazy"] else 3)


@eager_only
def test_install_twice_patches_once(tmp_path):
    res = _run(tmp_path, PRELUDE + """
eager = zipimport.zipimporter.invalidate_caches
TaskContext._getOrCreate()
session.install_worker_import_cache()
frozen = gc.get_freeze_count()
garbage = [[i] for i in range(1000)]
session.install_worker_import_cache()
reads_per(1)
write_zip("alpha", "gamma")
fn = zipimport.zipimporter.invalidate_caches
print(json.dumps({
    "patched": fn is session._stat_checked_invalidate,
    "wraps_eager": fn.eager is eager,
    "frozen_once": frozen > 0 and gc.get_freeze_count() <= frozen,
    "reads": reads_per(1),
}))
""")
    assert res == {"patched": True, "wraps_eager": True,
                   "frozen_once": True, "reads": 1}


SPARK_SCRIPT = f"""
import json, sys
sys.path.insert(0, {ROOT!r})
from gdal_spark.session import get_spark

spark = get_spark("import-cache", master="local[2]", shuffle_partitions=2)
spark.sparkContext.setLogLevel("ERROR")


def probe(batches):
    import importlib, os, time, zipimport
    from pyspark import TaskContext
    import gdal_spark
    from gdal_spark import session

    # _ZIP_STATS is filled by the patched call at task start, so it is
    # empty only in the task that first imported gdal_spark here.
    first = not session._ZIP_STATS
    t0 = time.perf_counter()
    importlib.invalidate_caches()
    ms = (time.perf_counter() - t0) * 1e3
    active = hasattr(zipimport.zipimporter.invalidate_caches, "eager")
    for b in batches:
        yield b.assign(y=b.id * 3 + 1, part=TaskContext.get().partitionId(),
                       pid=os.getpid(), first=first, active=active, ms=ms,
                       origin=gdal_spark.__file__)


schema = ("id long, y long, part int, pid long, first boolean, "
          "active boolean, ms double, origin string")
runs = []
for _ in range(2):
    df = spark.range(0, 1600, 1, 16).mapInPandas(probe, schema)
    runs.append(df.toPandas().to_dict("list"))
spark.stop()
print(json.dumps(runs))
"""


@eager_only
def test_spark_workers_keep_import_cache(tmp_path):
    first, second = _run(tmp_path, SPARK_SCRIPT)
    for run in (first, second):
        assert sorted(zip(run["id"], run["y"])) == [
            (i, 3 * i + 1) for i in range(1600)]
        assert all(run["active"])
        assert all("gdal_spark_pyfiles.zip" in o for o in run["origin"])
    tasks = {(r, part): (pid, is_first, ms)
             for r, run in enumerate((first, second))
             for part, pid, is_first, ms in zip(
                 run["part"], run["pid"], run["first"], run["ms"])}
    assert len(tasks) == 32
    later = {}
    for pid, is_first, ms in tasks.values():
        if not is_first:
            later.setdefault(pid, []).append(ms)
    # each worker pays one directory read per archive, in its first task
    assert sum(map(len, later.values())) >= 16
    for pid, ms in later.items():
        assert sorted(ms)[len(ms) // 2] < 5.0, (pid, ms)
