"""SparkSession builder with engine-tuned defaults.

Designed for a multi-executor cluster (spark-submit --py-files); in the
sandbox it runs local[N]. AQE is on for runtime re-planning and skew-join
splitting (north_rule: explicit skew handling); Arrow is on because every
kernel boundary is a pandas/Arrow UDF.
"""

from __future__ import annotations

import os

import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.pandas.types import to_arrow_schema
from pyspark.sql.types import StructType, _parse_datatype_string


def get_spark(
    app_name: str = "osm-inertial-flow-partitioner-spark",
    cpus: int | str | None = None,
    shuffle_partitions: int | None = None,
) -> SparkSession:
    if cpus is None:
        cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
    master = os.environ.get("SPARK_MASTER_URL", f"local[{cpus}]")
    if shuffle_partitions is None:
        env_sp = os.environ.get("SPARK_GRAFT_SHUFFLE_PARTITIONS")
        if env_sp:
            shuffle_partitions = int(env_sp)
        else:
            # partition count should track DATA SIZE, not core count —
            # at a fixed input, halving cores must not double partition
            # size (a local[8] run at 200k docs OOM'd purely because its
            # partitions were 4x local[32]'s). Floor well above the core
            # count; AQE coalesces small partitions back down at runtime.
            # Round 6 raised the floor to 4x cores: cogrouped
            # applyInPandas kernels hash ONE GROUP to one pre-AQE
            # partition, so with #partitions ~ #cores two of the
            # handful of per-cell kernels regularly collide into one
            # task and serialize (profiled: an 8-cell local-finish
            # round ran 29s wall on 70 exec-s). 4x cores makes
            # collisions rare while AQE still coalesces byte-light
            # exchanges back down.
            try:
                shuffle_partitions = max(4 * int(str(cpus)), 32)
            except ValueError:
                shuffle_partitions = 32
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        # AQE sizes post-shuffle partitions by BYTES, which starves
        # compute-bound Python-kernel stages: a finish-kernel cogroup
        # (61 recursive-bisection kernels, ~6.5MB of shuffle data) was
        # coalesced to 5 tasks by the default 1MB minPartitionSize —
        # a 3-6x serialization of pure numpy compute (round-6 stage
        # profile). 64k keeps parallelismFirst's totalBytes/parallelism
        # target as the binding term instead. At production shuffle
        # sizes (>> 1MB/partition) this knob is inert.
        .config("spark.sql.adaptive.coalescePartitions.minPartitionSize", "64k")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "65536")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
        # Spark renders the FULL physical-plan string for the SQL
        # listener event on every action, and tree rendering expands
        # DAG-shared subtrees — a lineage where one lazy frame is
        # referenced from two places per iteration renders O(2^rounds)
        # lines even though the plan object is small. The default cap
        # (~2 GB) makes that an unbounded driver-heap allocation: at
        # 200k docs / local[8] the per-round checkpoint action died
        # with OutOfMemoryError inside QueryExecution.explainString
        # (StringConcat.append), not in any data path. Bound the render
        # (truncation only affects UI/event strings, never semantics).
        .config(
            "spark.sql.maxPlanStringLength",
            os.environ.get("SPARK_GRAFT_MAX_PLAN_STRING", "2097152"),
        )
        .config("spark.sql.ui.retainedExecutions", "50")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "8g"))
    )
    return builder.getOrCreate()


def local_frame(spark: SparkSession, rows, schema: StructType | str) -> DataFrame:
    """A literal frame of ``rows`` (tuples in ``schema`` order) kept by
    Spark as a driver-side Arrow ``LocalRelation``.

    ``spark.createDataFrame(list_of_rows, schema)`` pickles the rows
    into a Python RDD, so every action that reads the frame runs
    ``defaultParallelism`` Python-worker tasks (350-450 ms for two rows
    at local[4]). An Arrow table below
    ``spark.sql.execution.arrow.localRelationThreshold`` becomes a
    ``LocalRelation`` that is read without a Spark job. The table is
    built here from the rows, not through pandas: an empty pandas frame
    silently takes the pickled path, while a zero-row table stays a
    zero-row ``LocalRelation``. The schema is kept exactly: names,
    types and nullability."""
    if isinstance(schema, str):
        schema = _parse_datatype_string(schema)
    arrow_schema = to_arrow_schema(schema)
    columns = list(zip(*rows)) if rows else [()] * len(arrow_schema)
    table = pa.Table.from_arrays(
        [pa.array(c, type=f.type) for c, f in zip(columns, arrow_schema)],
        schema=arrow_schema,
    )
    return spark.createDataFrame(table, schema)
