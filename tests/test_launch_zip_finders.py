"""``udfs.release_launch_zip_finders``: every engine mapInPandas function,
and every per-group function (applyInPandas, applyInPandasWithState),
drops the worker's launch-path zip importers when it ends, so the next
task's ``importlib.invalidate_caches()`` does not re-read those
archives' directories.  ``--py-files`` archives and ``FileFinder``s
stay."""

import os
import sys
import zipfile
import zipimport
from importlib.machinery import FileFinder

import pandas as pd
import pytest

from jsonld_spark import udfs


def _zip(path) -> str:
    path.parent.mkdir(parents=True, exist_ok=True)
    with zipfile.ZipFile(path, "w") as z:
        z.writestr("pkg/__init__.py", "")
    return str(path)


def _importer_cache(tmp_path, monkeypatch) -> tuple[dict, set]:
    """A ``sys.path_importer_cache`` like a warm worker's: importers of
    two launch archives (one of them also for a subpackage), of a
    ``--py-files`` archive under a SparkFiles root, and a FileFinder.
    Returns the cache and the keys that must survive a release."""
    launch_zip = _zip(tmp_path / "python" / "lib" / "pyspark.zip")
    launch_jar = _zip(tmp_path / "jars" / "spark-core.jar")
    user_zip = _zip(tmp_path / "spark-1" / "userFiles-1" / "x.zip")
    user_dir = str(tmp_path / "spark-1" / "userFiles-1")
    cache = {
        launch_zip: zipimport.zipimporter(launch_zip),
        launch_zip + "/pkg": zipimport.zipimporter(launch_zip + "/pkg"),
        launch_jar: zipimport.zipimporter(launch_jar),
        user_zip: zipimport.zipimporter(user_zip),
        user_dir: FileFinder(user_dir),
    }
    monkeypatch.setattr(sys, "path_importer_cache", cache)
    monkeypatch.setenv("PYTHONPATH", os.pathsep.join([launch_zip, launch_jar]))
    return cache, {user_zip, user_dir}


def test_release_drops_launch_path_importers_only(tmp_path, monkeypatch):
    cache, kept = _importer_cache(tmp_path, monkeypatch)
    udfs.release_launch_zip_finders()
    assert set(cache) == kept


def test_release_without_pythonpath_drops_nothing(tmp_path, monkeypatch):
    cache, _ = _importer_cache(tmp_path, monkeypatch)
    before = dict(cache)
    monkeypatch.delenv("PYTHONPATH")
    udfs.release_launch_zip_finders()
    assert cache == before


def test_pages_fn_closed_early_still_releases(tmp_path, monkeypatch):
    cache, kept = _importer_cache(tmp_path, monkeypatch)
    fn = udfs.pages_fn(
        None, "v0", lambda url, html, c: [(url,)], columns=["url"]
    )
    batch = pd.DataFrame({"url": ["http://e.com/a"], "html": [None]})
    gen = fn(iter([batch, batch]))
    assert list(next(gen)["url"]) == ["http://e.com/a"]
    assert set(cache) > kept  # released when the function ends
    gen.close()
    assert set(cache) == kept


class _State:
    """The part of pyspark's ``GroupState`` the stateful functions use."""

    def __init__(self, value=None):
        self.value = value

    @property
    def exists(self):
        return self.value is not None

    @property
    def get(self):
        return self.value

    def update(self, value):
        self.value = value


class _Frame:
    """A DataFrame stand-in that keeps the function handed to
    ``applyInPandas``."""

    def __init__(self):
        self.fns = []

    def select(self, *cols):
        return self

    def groupBy(self, *cols):
        return self

    def applyInPandas(self, fn, schema):
        self.fns.append(fn)


def _group_calls():
    """One call of each per-group function on a one-row group; each
    returns the function's frames as a list."""
    from jsonld_spark.operators.materialize import materialize_graphs
    from jsonld_spark.streaming.stateful import _first_seen_fn, _near_dup_fn

    triples = _Frame()
    materialize_graphs(triples)
    (fold,) = triples.fns
    quads = pd.DataFrame({
        "graph": [None], "subj": ["http://e.com/s"], "pred": ["http://e.com/p"],
        "obj": ["x"], "obj_is_literal": [True], "obj_datatype": [None],
        "obj_lang": [None],
    })
    pages = pd.DataFrame({"url": ["http://e.com/b"],
                          "warc_ts": [pd.Timestamp("2024-01-01")]})
    return {
        "fold": lambda: [fold(quads)],
        "first_seen": lambda: list(_first_seen_fn(("http://e.com/b",), iter([pages]), _State())),
        "first_seen_again": lambda: list(
            _first_seen_fn(("http://e.com/b",), iter([pages]), _State((True,)))
        ),
        "near_dup": lambda: list(_near_dup_fn((1, 7), iter([pages]), _State(("http://e.com/a",)))),
    }


@pytest.mark.parametrize(
    "name, frames", [("fold", 1), ("first_seen", 1), ("first_seen_again", 0), ("near_dup", 1)]
)
def test_per_group_functions_release(tmp_path, monkeypatch, name, frames):
    """The grouped functions run once per group; each return path
    releases."""
    call = _group_calls()[name]
    cache, kept = _importer_cache(tmp_path, monkeypatch)
    out = call()
    assert len(out) == frames and all(len(f) == 1 for f in out)
    assert set(cache) == kept


# pyspark submodules a worker does not load by itself, cheap to import
_UNLOADED = [
    "pyspark.install",
    "pyspark.sql.avro.functions",
    "pyspark.sql.protobuf.functions",
    "pyspark.mllib.common",
    "pyspark.sql.connect.utils",
    "pyspark.ml.linalg",
]


def test_reused_worker_starts_without_launch_zip_finders(spark):
    """A one-partition page stage run until its worker is reused: the
    reused worker's task starts with no launch-path zip importer left
    for ``invalidate_caches`` to re-read, and a pyspark submodule it
    had not loaded still imports (from the pyspark zip) afterwards."""
    candidates = list(_UNLOADED)

    def page_rows(url, html, cache):
        import importlib
        import os
        import sys
        import zipimport

        launch = {
            os.path.abspath(p)
            for p in os.environ.get("PYTHONPATH", "").split(os.pathsep)
            if p
        }
        n_finders = sum(
            1
            for f in list(sys.path_importer_cache.values())
            if isinstance(f, zipimport.zipimporter) and f.archive in launch
        )
        name = next((m for m in candidates if m not in sys.modules), None)
        origin = importlib.import_module(name).__file__ if name else None
        yield (url, os.getpid(), len(launch), n_finders, origin)

    cols = ["url", "pid", "n_launch", "n_finders", "origin"]
    fn = udfs.pages_fn(None, "v0", page_rows, columns=cols)
    pages = spark.createDataFrame(
        [("http://e.com/a", None)], "url string, html binary"
    ).coalesce(1)
    stage = pages.mapInPandas(
        fn,
        "url string, pid long, n_launch long, n_finders long, origin string",
    )
    seen: dict[int, int] = {}
    reused = []
    for _ in range(8):
        (row,) = stage.collect()
        assert row.n_launch > 0  # the worker has a launch PYTHONPATH
        assert row.origin is not None and ".zip" in row.origin, row
        if row.pid in seen:
            reused.append(row)
        seen[row.pid] = row.n_finders
        if len(reused) >= 2:
            break
    assert reused, f"no worker was reused in 8 runs: {seen}"
    assert [r.n_finders for r in reused] == [0] * len(reused), reused
