"""The Python worker daemon's zip-index hook (worker_daemon.py): an
archive's directory is re-read only when the archive changed, and the
session's workers really run with the hook."""

from __future__ import annotations

import importlib
import sys
import zipfile
import zipimport

import pandas as pd
import pytest
from pyspark.sql import functions as F

from kafka_flink_slack_pipeline_spark import worker_daemon

HOOKED = sys.version_info < (3, 13)  # 3.13's zipimport invalidates lazily


def _write_zip(path, modules: dict[str, str]) -> None:
    with zipfile.ZipFile(path, "w") as z:  # "w" rewrites in place: same inode
        for name, src in modules.items():
            z.writestr(f"{name}.py", src)


@pytest.mark.skipif(not HOOKED, reason="the hook is only installed below Python 3.13")
def test_zip_is_reread_only_when_changed(tmp_path, monkeypatch):
    # restored at teardown: the test process keeps the stock zipimporter
    monkeypatch.setattr(
        zipimport.zipimporter, "invalidate_caches", zipimport.zipimporter.invalidate_caches
    )
    assert worker_daemon.install()
    archive = str(tmp_path / "mods.zip")
    _write_zip(archive, {"zhook_a": "X = 1\n"})
    monkeypatch.syspath_prepend(archive)
    reads = []
    read_directory = zipimport._read_directory
    monkeypatch.setattr(
        zipimport, "_read_directory", lambda p: reads.append(p) or read_directory(p)
    )
    try:
        assert importlib.import_module("zhook_a").X == 1
        importlib.invalidate_caches()  # first pass under the hook reads and stamps
        reads.clear()

        importlib.invalidate_caches()
        assert archive not in reads  # unchanged: not re-read

        _write_zip(archive, {"zhook_a": "X = 1\n", "zhook_b": "Y = 2\n"})
        importlib.invalidate_caches()
        assert reads.count(archive) == 1
        assert importlib.import_module("zhook_b").Y == 2
    finally:
        for name in ("zhook_a", "zhook_b"):
            sys.modules.pop(name, None)
        sys.path_importer_cache.pop(archive, None)


def test_session_workers_run_with_the_hook(spark):
    # defined here, not at module level, so it pickles by value to the workers
    @F.pandas_udf("boolean")
    def hooked(ids: pd.Series) -> pd.Series:
        from kafka_flink_slack_pipeline_spark import worker_daemon as hook

        return pd.Series([hook.installed()] * len(ids))

    rows = spark.range(8).repartition(4).select(hooked("id").alias("h")).collect()
    assert [r.h for r in rows] == [HOOKED] * 8
