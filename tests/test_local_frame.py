"""Literal frames built by ``session.local_frame``: Arrow local
relations that Spark reads without starting a job."""

import itertools
import os

import pytest
from pyspark.sql.types import (
    ArrayType,
    DoubleType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from osm_inertial_flow_partitioner_spark.session import local_frame

PACKAGE = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    "osm_inertial_flow_partitioner_spark",
)

_groups = itertools.count()

SCHEMA = StructType([
    StructField("root", LongType()),
    StructField("pid", IntegerType()),
    StructField("offset", LongType(), False),
    StructField("name", StringType()),
    StructField("rings", ArrayType(ArrayType(DoubleType()))),
])
ROWS = [
    (0, 1, 0, "a", [[0.5, 1.5], [2.0]]),
    (7, 2, 13, "b", []),
]


def _collect_counting_jobs(spark, df):
    sc = spark.sparkContext
    group = f"local-frame-{next(_groups)}"
    sc.setJobGroup(group, group)
    try:
        rows = df.collect()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty(10_000)
    return rows, len(sc.statusTracker().getJobIdsForGroup(group))


@pytest.mark.parametrize("rows", [ROWS, []], ids=["rows", "empty"])
def test_local_frame_runs_no_job_and_keeps_schema(spark, rows):
    df = local_frame(spark, rows, SCHEMA)
    assert df.schema == SCHEMA  # nullability included
    got, jobs = _collect_counting_jobs(spark, df)
    assert jobs == 0
    assert [tuple(r) for r in got] == rows


@pytest.mark.parametrize("rows", [[(3, 1, 9)], []], ids=["rows", "empty"])
def test_local_frame_parses_ddl_schema(spark, rows):
    df = local_frame(spark, rows, "root long, path long, n long")
    assert df.schema == spark.createDataFrame([], "root long, path long, n long").schema
    got, jobs = _collect_counting_jobs(spark, df)
    assert jobs == 0
    assert [tuple(r) for r in got] == rows


@pytest.mark.parametrize(
    "path", ["operators/partitioner.py", "sources/extract.py"]
)
def test_tiler_literal_frames_are_local_relations(path):
    # a list-built frame runs Python-worker tasks on every read; every
    # literal frame on the tiler path goes through local_frame
    with open(os.path.join(PACKAGE, path)) as f:
        assert "createDataFrame(" not in f.read()
