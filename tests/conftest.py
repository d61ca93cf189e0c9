"""Shared Spark session for the test suite.

One session per pytest run (JVM startup ~15 s); shuffle partitions kept
small — test fixtures are tiny and 200 empty tasks per shuffle would
dominate runtime.
"""

from __future__ import annotations

import os
import sys

import pytest

# Python workers must import test modules (KeyedProcessor subclasses
# defined in tests pickle by reference); extend PYTHONPATH before the
# JVM forks the first worker.
_TESTS_DIR = os.path.dirname(os.path.abspath(__file__))
_REPO_DIR = os.path.dirname(_TESTS_DIR)
os.environ["PYTHONPATH"] = os.pathsep.join(
    p for p in (_TESTS_DIR, _REPO_DIR, os.environ.get("PYTHONPATH")) if p
)
sys.path.insert(0, _TESTS_DIR)

from flink_essentials_spark.session import get_spark  # noqa: E402


@pytest.fixture(scope="session")
def spark():
    s = get_spark("fes-tests", shuffle_partitions=8)
    yield s


@pytest.fixture
def recorder(spark):
    """A metrics.ProgressRecorder listening to the session for one test."""
    from flink_essentials_spark.metrics import ProgressRecorder

    rec = ProgressRecorder()
    spark.streams.addListener(rec)
    yield rec
    spark.streams.removeListener(rec)


@pytest.fixture(scope="session")
def stripped_sf(tmp_path_factory):
    """A copy of the sf0.001 testdata whose events.parquet carries no
    column statistics, so footer-derived bounds are unavailable."""
    import shutil

    import pyarrow.parquet as pq

    src = "/root/testdata/sf0.001"
    dst = tmp_path_factory.mktemp("sf0.001_stripped")
    for f in os.listdir(src):
        if f == "events.parquet":
            pq.write_table(pq.read_table(os.path.join(src, f)), str(dst / f), write_statistics=False)
        else:
            shutil.copyfile(os.path.join(src, f), str(dst / f))
    return str(dst)
