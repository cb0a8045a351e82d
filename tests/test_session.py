"""jobs/session.py: get_spark's master resolution and heap sizing, and the
driver's parquet file writer.

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

from manga_ocr_spark.jobs.session import _default_driver_memory, _resolve_master, default_cpus

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


def test_write_parquet_reads_back_in_spark_types(spark, tmp_path):
    # a driver-written file reads back with the schema's Spark types:
    # TimestampType (not TIMESTAMP_NTZ), a naive datetime as UTC wall
    # time; empty rows still carry the schema; replace swaps the dir
    import datetime as dt
    import os

    from manga_ocr_spark.jobs.session import write_parquet

    out = str(tmp_path / "t")
    rows = [("a", 1, None, dt.datetime(2023, 11, 14, 22, 13, 20)), ("b", 2, 3, None)]
    write_parquet(spark, out, rows, SCHEMA)
    write_parquet(spark, out, [], SCHEMA)
    back = spark.read.parquet(out)
    assert back.schema == SCHEMA
    got = back.select("name", "n", "band", F.unix_timestamp("ts").alias("ts")).collect()
    assert sorted(tuple(r) for r in got) == [("a", 1, None, 1700000000), ("b", 2, 3, None)]
    write_parquet(spark, out, [], SCHEMA, replace=True)
    assert spark.read.parquet(out).count() == 0
    # published by a rename: one part file, and no tmp file left behind
    names = os.listdir(out)
    assert [n[:5] for n in names if not n.endswith(".crc")] == ["part-"], names
