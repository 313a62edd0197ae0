"""Session-scoped resources: the per-session memo and the scratch root
that Spark deletes on stop."""
from __future__ import annotations

import json
import os
import subprocess
import sys
import tempfile
from types import SimpleNamespace

import pytest

from sciencebeam_parser_spark import session

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SF_DIR = "/root/testdata/sf0.001"


def _stub_session(app_id):
    return SimpleNamespace(sparkContext=SimpleNamespace(applicationId=app_id))


class TestSessionMemo:
    @pytest.fixture(autouse=True)
    def _private_memo(self, monkeypatch):
        # stub applicationIds must not evict the live test session's memos
        monkeypatch.setattr(session, "_MEMO", {})

    def test_factory_runs_once_per_app_and_key(self):
        calls = []

        def factory(tag):
            return lambda: calls.append(tag) or object()

        a = _stub_session("app-a")
        first = session.session_memo(a, "k1", factory("k1"))
        assert session.session_memo(a, "k1", factory("k1")) is first
        other = session.session_memo(a, "k2", factory("k2"))
        assert other is not first
        assert calls == ["k1", "k2"]

    def test_new_app_drops_old_apps_entries(self):
        a, b = _stub_session("app-a"), _stub_session("app-b")
        old = session.session_memo(a, "k", object)
        session.session_memo(a, "k2", object)
        new = session.session_memo(b, "k", object)
        assert new is not old
        assert set(session._MEMO) == {("app-b", "k")}

    def test_raising_factory_memoizes_nothing(self):
        a = _stub_session("app-a")

        def boom():
            raise RuntimeError("factory failed")

        with pytest.raises(RuntimeError):
            session.session_memo(a, "k", boom)
        assert ("app-a", "k") not in session._MEMO
        assert session.session_memo(a, "k", lambda: 7) == 7


_RESIDUE_SCRIPT = """
import json, os, sys
from pyspark import SparkFiles
from sciencebeam_parser_spark.plans.models import WeightTableLabelModel
from sciencebeam_parser_spark.queries import REGISTRY
from sciencebeam_parser_spark.session import get_spark

spark = get_spark("residue", master="local[1]", shuffle_partitions=1)
app = spark.sparkContext.applicationId
root = SparkFiles.getRootDirectory()
REGISTRY["q149_partition_pruned_scan"].build(spark, sys.argv[1]).count()
WeightTableLabelModel.distribute(spark, "residue", {"a": {"bias": 1.0}})
sbp = os.path.join(root, "sbp")
used = sorted(os.listdir(sbp)) if os.path.isdir(sbp) else []
spark.stop()
print(json.dumps({"app": app, "root": root, "used": used}))
"""


def test_stopped_session_leaves_no_residue():
    env = dict(os.environ, SPARK_DRIVER_MEMORY="1g", PYTHONPATH=REPO)
    out = subprocess.run(
        [sys.executable, "-c", _RESIDUE_SCRIPT, SF_DIR],
        cwd=REPO, env=env, capture_output=True, text=True, timeout=300,
    )
    assert out.returncode == 0, out.stderr[-2000:]
    got = json.loads(out.stdout.strip().splitlines()[-1])
    app_ids = (got["app"], got["app"].replace("-", "_"))
    leftovers = [
        n for n in os.listdir(tempfile.gettempdir())
        if any(a in n for a in app_ids)
    ]
    assert leftovers == []
    # both stores were written under the session's scratch root, which
    # Spark removed on stop
    assert got["used"] == ["model", "part_sf0.001"]
    assert not os.path.exists(got["root"])


def test_warm_python_task_rereads_no_zip_archive(spark):
    # every task's set-up calls importlib.invalidate_caches(); with
    # pyspark's own daemon each call re-reads ~16 zip directories
    def zip_rereads(_):
        import importlib
        import zipimport

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
        yield len(reads)

    rdd = spark.sparkContext.parallelize(range(4), 4)
    rdd.mapPartitions(zip_rereads).collect()  # warm the workers
    assert rdd.mapPartitions(zip_rereads).collect() == [0, 0, 0, 0]


def test_warm_arrow_task_collects_only_what_it_made(spark):
    # after every task the worker runs a full gc.collect(); the daemon
    # freezes its pre-imported heap, so that walk skips pyspark.worker,
    # numpy, pandas and pyarrow (~77k objects with pyspark's own daemon)
    def heap(batches):
        import gc

        import pandas as pd

        for _ in batches:
            pass
        yield pd.DataFrame(
            {"tracked": [len(gc.get_objects())], "frozen": [gc.get_freeze_count()]}
        )

    df = spark.range(0, 4, 1, 4)
    df.mapInPandas(heap, "tracked long, frozen long").collect()  # warm
    rows = df.mapInPandas(heap, "tracked long, frozen long").collect()
    assert len(rows) == 4
    for row in rows:
        assert row.tracked < 15_000, rows
        assert row.frozen > 50_000, rows
