from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from delta_lake_proxy_spark.session import build_session  # noqa: E402

SF_DIR = "/root/testdata/sf0.001"


def pytest_configure(config):
    config.addinivalue_line(
        "markers",
        "full: slow multi-SF sweep / capstone — skipped unless "
        "SPARK_GRAFT_FULL_TESTS=1 (r18, verdict r17 #7: the 685-test suite "
        "outgrew the driver's verify window; the default run must finish "
        "inside it, the full suite stays one env var away)",
    )


def pytest_collection_modifyitems(config, items):
    if os.environ.get("SPARK_GRAFT_FULL_TESTS"):
        return
    skip = pytest.mark.skip(
        reason="slow sweep/capstone; set SPARK_GRAFT_FULL_TESTS=1 to run"
    )
    for item in items:
        if "full" in item.keywords:
            item.add_marker(skip)


@pytest.fixture(scope="session")
def spark():
    # cpus=8 stays pinned (r18): a local[32] probe sped one file up 1.6x
    # but broke a core-count-sensitive checksum pin
    # (test_dv_dml_and_row_tracking_checksums — written-file counts follow
    # parallelism) and showed no whole-suite gain; the driver-window fix
    # is the @pytest.mark.full gate above, not the session size.
    s = build_session("spark-graft-tests", cpus=8)
    yield s
    s.stop()


@pytest.fixture
def count_jobs(spark):
    """``count_jobs(fn) -> (fn(), Spark jobs fn ran)``: read from the status
    store once the listener bus drains (job ids are consecutive)."""
    sc = spark.sparkContext._jsc.sc()

    def last_job_id():
        sc.listenerBus().waitUntilEmpty()
        jobs = sc.statusStore().jobsList(None)  # newest first
        return jobs.apply(0).jobId() if jobs.size() else -1

    def count(fn):
        before = last_job_id()
        out = fn()
        return out, last_job_id() - before

    return count


@pytest.fixture
def count_tip_resolutions():
    """``count_tip_resolutions(fn, table_path) -> (fn(), tips, listings)``:
    how often ``fn`` resolved a log tip (``deltalog.latest_version``) and
    listed ``table_path``'s ``_delta_log/`` directory."""
    from unittest import mock

    from delta_lake_proxy_spark import deltalog

    def count(fn, table_path):
        log_dir = os.path.abspath(deltalog.log_path(table_path))
        real_latest, real_listdir = deltalog.latest_version, os.listdir
        n = {"tips": 0, "listings": 0}

        def latest(p):
            n["tips"] += 1
            return real_latest(p)

        def listdir(p="."):
            if os.path.abspath(p) == log_dir:
                n["listings"] += 1
            return real_listdir(p)

        with mock.patch.object(deltalog, "latest_version", latest), mock.patch.object(
            os, "listdir", listdir
        ):
            out = fn()
        return out, n["tips"], n["listings"]

    return count


@pytest.fixture(scope="session")
def lineitem(spark):
    from delta_lake_proxy_spark.io import load_table

    return load_table(spark, SF_DIR, "lineitem")


@pytest.fixture(scope="session")
def gov_table(spark, lineitem, tmp_path_factory):
    """A delta-logged lineitem table partitioned by l_returnflag (A/N/R) —
    the analog of the reference's MIC-partitioned table (config.json:11-18)."""
    from delta_lake_proxy_spark.engine import write_governed_table

    path = str(tmp_path_factory.mktemp("gov") / "lineitem_gov")
    write_governed_table(spark, lineitem.repartition(1), path, ["l_returnflag"])
    return path


@pytest.fixture(scope="session")
def ym_table(spark, lineitem, tmp_path_factory):
    """Two-level year/month partitioned table mirroring test_config.json:10-19."""
    import pyspark.sql.functions as F

    from delta_lake_proxy_spark.engine import write_governed_table

    df = lineitem.withColumns(
        {"year": F.year("l_shipdate"), "month": F.month("l_shipdate")}
    ).repartition(1)
    path = str(tmp_path_factory.mktemp("ym") / "lineitem_ym")
    write_governed_table(spark, df, path, ["year", "month"])
    return path
