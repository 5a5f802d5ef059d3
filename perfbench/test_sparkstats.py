"""The benchmark's own tests: reading Spark's record is free and exact.

Run from the repository root: ``python3 -m pytest perfbench -q``.
"""

from __future__ import annotations

import os
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from perfbench import layers  # noqa: E402
from perfbench.sparkstats import SparkStats  # noqa: E402
from perfbench.trace import Span, self_times  # noqa: E402


@pytest.fixture(scope="module")
def spark():
    from gdal_spark.session import get_spark

    os.environ.setdefault("SPARK_DRIVER_MEM", "1g")
    s = get_spark(app_name="perfbench_tests", cores=2, shuffle_partitions=2,
                  extra_conf={"spark.ui.showConsoleProgress": "false"})
    yield s
    s.stop()


def test_reading_the_record_runs_no_spark_job(spark):
    from gdal_spark import testdata
    from gdal_spark.operators.extract import extract_features

    pages = spark.createDataFrame(testdata.pages_pdf(500)[["url", "text"]])
    counts = extract_features(pages).groupBy("kind").count()
    spark.sparkContext.setJobGroup("perfbench-test", "extract count")
    rows = counts.collect()
    stats = SparkStats(spark)

    before = stats.job_count()
    rec = stats.group("perfbench-test", [counts._jdf.queryExecution()])
    after = stats.job_count()

    assert after == before
    assert rec.job_ids and all(s.status for s in rec.stages)
    # the extract node is found, evaluated once, and its row count is
    # the number of features the query counted
    extract = [n for n in rec.nodes if layers.is_extract(n)]
    assert len(extract) == 1
    assert extract[0].metrics[layers.PY_ROWS] == sum(r["count"] for r in rows)
    assert any(n.name == "Exchange" for n in rec.nodes)


def test_self_time_subtracts_covered_child_time():
    spans = [
        Span("t", 1, None, "job", "perfbench", 0.0, 10.0),
        Span("t", 2, 1, "plan", "cover", 1.0, 4.0),
        Span("t", 3, 1, "action", "spark", 3.0, 9.0),
        Span("t", 4, 3, "stage", "spark", 5.0, 6.0),
    ]
    got = self_times(spans)
    assert got["perfbench"] == pytest.approx(10.0 - 8.0)  # [1, 9] covered
    assert got["cover"] == pytest.approx(3.0)
    assert got["spark"] == pytest.approx((6.0 - 1.0) + 1.0)
