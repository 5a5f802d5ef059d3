"""Shared fixtures: one local SparkSession per test session."""

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


@pytest.fixture(scope="session")
def spark():
    from gdal_spark.session import get_spark

    s = get_spark(app_name="gdal_spark_tests", cores=8, shuffle_partitions=8)
    yield s
    s.stop()


@pytest.fixture
def uneven_partitions(spark):
    """An 8-partition point layer (gid, name, score, geometry) whose
    partition k holds the 10k + 5 rows with gid // 100 == k; returns
    (frame, per-partition row counts)."""
    import pandas as pd

    from gdal_spark import wkb

    def attrs(batches):
        for b in batches:
            gid = b["id"]
            yield pd.DataFrame({
                "gid": gid,
                "name": "n" + gid.astype(str),
                "score": gid / 8.0,
                "geometry": [wkb.point(float(g), float(g % 7)) for g in gid],
            })

    df = (
        spark.range(0, 800, 1, 8)
        .where("id % 100 < 10 * (id div 100) + 5")
        .mapInPandas(
            attrs, "gid long, name string, score double, geometry binary"
        )
    )
    return df, [10 * k + 5 for k in range(8)]
