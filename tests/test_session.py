"""How Python workers see this package: the zip-directory cache kept across
tasks (``session.keep_zip_directories``) and the Spark thread-locals that
``_run_parallel`` carries into its pool threads."""

import importlib
import os
import sys
import warnings
import zipfile
import zipimport

import pandas as pd
import pytest
from pyspark.sql import types as T

from bliss_rs_spark.sources.index_store import _run_parallel

_PROBE_SCHEMA = T.StructType(
    [
        T.StructField("pid", T.LongType()),
        T.StructField("task", T.LongType()),
        T.StructField("same", T.LongType()),
    ]
)


def test_worker_keeps_zip_directory_across_tasks(spark):
    """PySpark's worker calls importlib.invalidate_caches() before every
    task; once a worker has imported the package, a later task in the same
    process must find the zip directory dict its previous task saw, not a
    fresh re-read of the archive."""

    def probe(batches):
        import os
        import sys
        import types
        import zipimport

        import bliss_rs_spark  # noqa: F401  (what unpickling a kernel does)

        for _ in batches:
            pass
        zips = [
            p for p in sys.path
            if p.endswith(".zip") and p in zipimport._zip_directory_cache
        ]
        if not zips:
            yield pd.DataFrame({"pid": [os.getpid()], "task": [0], "same": [-1]})
            return
        pyspark_zip = [p for p in zips if os.path.basename(p) == "pyspark.zip"]
        path = (pyspark_zip or zips)[0]
        # every dict seen stays referenced by a module that outlives the
        # task, so an id can never be recycled between tasks
        keep = sys.modules.setdefault("_zip_probe", types.ModuleType("_zip_probe"))
        seen = keep.__dict__.setdefault("seen", [])
        cur = zipimport._zip_directory_cache[path]
        same = int(bool(seen) and seen[-1] is cur)
        seen.append(cur)
        yield pd.DataFrame({"pid": [os.getpid()], "task": [len(seen)], "same": [same]})

    # a worker's first task installs the wrapper after its caches were
    # invalidated, its second task keys each importer: from the third on,
    # nothing is re-read.  Idle workers are handed out oldest first, so
    # run jobs until one worker has had three tasks.
    rows, later = [], []
    for _ in range(64):
        rows += spark.range(1, numPartitions=1).mapInPandas(probe, _PROBE_SCHEMA).collect()
        if rows[-1]["same"] == -1:
            pytest.skip("no zip archive on the workers' sys.path")
        later = [r for r in rows if r["task"] >= 3]
        if len(later) >= 2:
            break
    assert later, rows
    assert all(r["same"] == 1 for r in later), rows


@pytest.fixture
def zip_on_path(tmp_path):
    path = str(tmp_path / "zipmods.zip")
    added = []

    def write(modules):
        with zipfile.ZipFile(path, "w") as z:
            for name, src in modules.items():
                z.writestr(f"{name}.py", src)
        added.extend(modules)

    sys.path.insert(0, path)
    yield path, write
    sys.path.remove(path)
    sys.path_importer_cache.pop(path, None)
    zipimport._zip_directory_cache.pop(path, None)
    for name in added:
        sys.modules.pop(name, None)


def test_unchanged_zip_is_not_reread_and_changed_zip_is(zip_on_path):
    path, write = zip_on_path
    write({"zipmod_a": "X = 1\n"})
    importlib.invalidate_caches()
    assert importlib.import_module("zipmod_a").X == 1
    importlib.invalidate_caches()  # keys the importer on the archive
    before = zipimport._zip_directory_cache[path]
    importlib.invalidate_caches()
    assert zipimport._zip_directory_cache[path] is before  # not re-read
    size = os.stat(path).st_size
    write({"zipmod_a": "X = 1\n", "zipmod_b": "Y = 2\n"})  # in place
    assert os.stat(path).st_size != size
    importlib.invalidate_caches()
    assert zipimport._zip_directory_cache[path] is not before
    assert importlib.import_module("zipmod_b").Y == 2


def test_keep_zip_directories_wraps_once():
    from bliss_rs_spark.session import keep_zip_directories

    keep_zip_directories()
    wrapped = zipimport.zipimporter.invalidate_caches
    keep_zip_directories()
    assert zipimport.zipimporter.invalidate_caches is wrapped


def test_run_parallel_carries_tags_without_warning(spark):
    tag = "bliss-run-parallel-probe"
    spark.addTag(tag)
    try:
        with warnings.catch_warnings(record=True) as caught:
            warnings.simplefilter("always")
            got = _run_parallel([lambda: set(spark.getTags())] * 2)
    finally:
        spark.removeTag(tag)
    assert all(tag in tags for tags in got)
    assert not [
        w for w in caught
        if issubclass(w.category, UserWarning)
        and "Spark session is not provided" in str(w.message)
    ]
