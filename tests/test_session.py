"""jobs/session.py: get_spark's master resolution and heap sizing, and the
Arrow-built driver frame helper.

Under spark-submit the launcher's --master must win: builder.master() is
only called when a master was explicitly passed or when running
standalone. That decision and the default heap are pure functions, so
they're testable without launching a second JVM.
"""

from __future__ import annotations

from pyspark.sql import functions as F
from pyspark.sql.types import (
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

from manga_ocr_spark.jobs.session import (
    _default_driver_memory,
    _resolve_master,
    arrow_frame,
    default_cpus,
)

GB = 1 << 30


def test_explicit_master_always_wins():
    assert _resolve_master("local[4]", {"PYSPARK_GATEWAY_PORT": "5"}, 32) == "local[4]"
    assert _resolve_master("yarn", {}, 32) == "yarn"


def test_under_spark_submit_master_is_left_to_the_launcher():
    # spark-submit's gateway is up -> do NOT set a master (None = leave
    # the launcher's --master in the JVM conf untouched)
    assert _resolve_master(None, {"PYSPARK_GATEWAY_PORT": "5"}, 32) is None


def test_standalone_defaults_to_local_cpus():
    assert _resolve_master(None, {}, 8) == "local[8]"


def test_default_cpus_are_the_host_cpus_unless_overridden():
    import os

    assert default_cpus({}) == len(os.sched_getaffinity(0))
    assert default_cpus({"SPARK_GRAFT_CPUS": "2"}) == 2


def test_default_heap_is_half_of_physical_memory_under_the_per_slot_rule():
    # 15 GB swapless host, 4 slots: the old rule asked for 16g
    assert _default_driver_memory(4, 15 * GB) == f"{15 * 1024 // 2}m"
    # big host: the per-slot rule (1.5 GB/slot, floor 16 GB) is the ceiling
    assert _default_driver_memory(32, 256 * GB) == "49152m"
    assert _default_driver_memory(4, 256 * GB) == "16384m"
    # tiny host: never below 1 GB
    assert _default_driver_memory(4, 1 * GB) == "1024m"
    # no sysconf: the per-slot rule alone
    assert _default_driver_memory(8, None) == "16384m"


SCHEMA = StructType(
    [
        StructField("name", StringType()),
        StructField("n", LongType()),
        StructField("band", IntegerType()),
        StructField("ts", TimestampType()),
    ]
)


def _plans_python_rdd(df) -> bool:
    return "PythonRDD" in df._jdf.queryExecution().toRdd().toDebugString()


def test_arrow_frame_keeps_schema_and_starts_no_python_workers(spark):
    import datetime as dt

    rows = [("a", 1, None, dt.datetime(2023, 11, 14, 22, 13, 20)), ("b", 2, 3, None)]
    df = arrow_frame(spark, rows, SCHEMA)
    assert df.schema == SCHEMA
    assert not _plans_python_rdd(df)
    # the list path this helper replaces DOES plan a PythonRDD
    assert _plans_python_rdd(spark.createDataFrame(rows, SCHEMA))
    got = df.select("name", "n", "band", F.unix_timestamp("ts").alias("ts")).collect()
    # naive datetimes are UTC wall time
    assert [tuple(r) for r in got] == [("a", 1, None, 1700000000), ("b", 2, 3, None)]


def test_arrow_frame_is_one_partition(spark):
    # a LocalRelation scans in min(rows, default.parallelism) tasks; a
    # driver-built frame of a few rows must write in one task
    rows = [(str(i), i, i, None) for i in range(20)]
    assert arrow_frame(spark, rows, SCHEMA).rdd.getNumPartitions() == 1


def test_arrow_frame_empty_rows_write_a_typed_frame(spark, tmp_path):
    df = arrow_frame(spark, [], SCHEMA)
    assert df.schema == SCHEMA and df.count() == 0
    out = str(tmp_path / "empty")
    df.write.parquet(out)
    back = spark.read.parquet(out)
    assert back.schema == SCHEMA and back.count() == 0
