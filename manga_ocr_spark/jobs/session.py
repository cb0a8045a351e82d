"""SparkSession construction with the engine's tuned defaults.

Every knob here is chosen for the 100 TB posture and merely *also* works at
sandbox scale:

- Arrow execution on (the whole engine is Arrow-batched pandas UDFs —
  BASELINE.json ``input_hint``: "no per-row Python").
- ``arrow.maxRecordsPerBatch`` 1024: batch memory = rows x payload size
  must stay bounded (SURVEY.md §4 X2/X12) — 1024 rows x ~50 KB typical
  web page ≈ 50 MB/batch; the 2 MB per-doc input cap bounds the worst
  case at 2 GB, which the task-level salting keeps theoretical. Measured:
  256-row batches left ~3x throughput on the table for small pages
  (Arrow/pandas per-batch overhead dominates).
- AQE on incl. skew-join handling (host-skewed pages, X11).
- ``files.maxPartitionBytes`` 128m: at 100 TB this yields ~800k input
  splits — individually right-sized for executor memory.
- shuffle partitions default to one per core locally (at least 8); under
  spark-submit they follow the cluster's default parallelism (or are left
  to AQE coalescing).
"""

from __future__ import annotations

import functools
import os
from collections.abc import Mapping, Sequence

from pyspark.sql import SparkSession
from pyspark.sql.types import StructType


def default_cpus(env: Mapping[str, str]) -> int:
    """Cores a standalone ``local[N]`` session models: $SPARK_GRAFT_CPUS
    when set (perfbench sets it to ``min(4, nproc)``), else the CPUs this
    process may run on."""
    return int(env.get("SPARK_GRAFT_CPUS") or len(os.sched_getaffinity(0)))


def _resolve_master(master: str | None, env: dict, cpus: int) -> str | None:
    """Which master to set on the builder — or None to leave it alone.

    Under spark-submit (the launcher JVM gateway is already up —
    PYSPARK_GATEWAY_PORT is in the env), the launcher's --master lives in
    the JVM conf; calling builder.master() would silently override it and
    run a cluster job in local mode on the driver host. Only set a master
    when one was explicitly passed, or when running standalone."""
    if master is not None:
        return master
    if "PYSPARK_GATEWAY_PORT" in env:  # spark-submit owns the master
        return None
    return f"local[{cpus}]"


def _java_opts(cpus: int | None = None) -> str:
    """Driver/executor JVM options: throughput GC, plus any caller-supplied
    extras from $SPARK_GRAFT_JAVA_OPTS (profiling hook — e.g. ``-Xlog:gc*``
    to attribute wall time to stop-the-world pauses; inert when unset).

    When the session models an N-core executor (standalone local[N]), the
    JVM is told so via -XX:ActiveProcessorCount=N: otherwise every internal
    pool it sizes from os.availableProcessors — ParallelGC worker threads
    (~23 on this 32-CPU host), C2 compiler threads (~12), ForkJoinPool —
    is scaled to the HOST, not the modeled executor. On a real cluster an
    executor container sees its own core allotment; in the sandbox the
    mismatch subsidizes small-N legs (a local[2] job with 23 GC threads)
    and distorts any N-vs-4N comparison."""
    extra = os.environ.get("SPARK_GRAFT_JAVA_OPTS", "")
    apc = f"-XX:ActiveProcessorCount={cpus} " if cpus else ""
    return f"-XX:+UseParallelGC {apc}{extra}".strip()


def _default_driver_memory(cpus: int, phys_bytes: int | None) -> str:
    """Default ``spark.driver.memory`` when $SPARK_DRIVER_MEMORY is unset.

    The per-slot rule (~1.5 GB per slot, floor 16 GB) is the ceiling:
    local mode concentrates ALL task buffers (shuffle, dynamic-partition
    parquet writers, Arrow feeds) in the one driver JVM — measured: 60 KB-
    page extraction at local[32] OOMs a 16g heap but completes in 48g.
    Half of physical memory caps it, so the heap plus the Python workers
    and off-heap Arrow/netty buffers fit in RAM on a small host (a 16 GB
    floor on a 15 GB swapless host is a heap the OS cannot back). Floor
    1 GB; ``phys_bytes=None`` (no sysconf) keeps the per-slot rule."""
    per_slot_mb = max(16, int(cpus * 1.5)) * 1024
    if phys_bytes is None:
        return f"{per_slot_mb}m"
    return f"{max(1024, min(per_slot_mb, phys_bytes // 2 // (1 << 20)))}m"


def _phys_bytes() -> int | None:
    try:
        return os.sysconf("SC_PHYS_PAGES") * os.sysconf("SC_PAGE_SIZE")
    except (AttributeError, OSError, ValueError):
        return None


@functools.cache
def _hadoop_path(jvm):
    """The JVM class ``org.apache.hadoop.fs.Path``, resolved once per
    gateway: py4j resolves a dotted name with a round trip per component
    (about 3.6 CPU-ms for this one)."""
    return jvm.org.apache.hadoop.fs.Path


def hadoop_fs(spark: SparkSession, path: str):
    """(FileSystem, Path) for ``path`` via the JVM Hadoop API — works for
    local paths and any DFS a real cluster mounts."""
    p = _hadoop_path(spark._jvm)(path)
    return p.getFileSystem(spark._jsc.hadoopConfiguration()), p


def listing(spark: SparkSession, path: str) -> dict[str, int | None]:
    """{name: length, None for a directory} of the entries directly under
    ``path``, but the ``_``/``.`` names Spark's reader skips too (markers,
    tmp files, checksums, manifests); empty if ``path`` is absent."""
    fs, p = hadoop_fs(spark, path)
    if not fs.exists(p):
        return {}
    named = [(st.getPath().getName(), st) for st in fs.listStatus(p)]
    return {n: st.getLen() if st.isFile() else None for n, st in named if n[0] not in "_."}


def read_file(spark: SparkSession, path: str) -> bytes | None:
    """The bytes of the file at ``path``; None if it is absent."""
    fs, p = hadoop_fs(spark, path)
    if not fs.exists(p):
        return None
    stream = fs.open(p)
    try:
        return stream.readAllBytes()
    finally:
        stream.close()


def delete_path(spark: SparkSession, path: str) -> None:
    """Recursively delete ``path`` if it exists; raise if the FS refuses."""
    fs, p = hadoop_fs(spark, path)
    if fs.exists(p) and not fs.delete(p, True):
        raise RuntimeError(f"could not delete {path}")


def rename_path(spark: SparkSession, src: str, dst: str) -> None:
    """Rename ``src`` to the absent ``dst``; raise if the FS refuses.
    ``dst`` must not exist: a Hadoop rename onto an existing directory
    returns True and nests ``src`` inside it (``dst/bucket=1/bucket=1``)."""
    fs, s = hadoop_fs(spark, src)
    d = _hadoop_path(spark._jvm)(dst)
    if fs.exists(d) or not fs.rename(s, d):
        raise RuntimeError(f"could not rename {src} to {dst}")


def write_file(spark: SparkSession, path: str, data: bytes) -> None:
    """Create or replace the file at ``path``, holding ``data``. The bytes
    go to the hidden name ``.<name>.tmp`` beside it, which readers skip,
    and one rename publishes them: a reader sees the old file, none, or
    the whole new one, never a partial file (on local FS and HDFS)."""
    parent, name = path.rsplit("/", 1)
    tmp = f"{parent}/.{name}.tmp"
    fs, p = hadoop_fs(spark, tmp)
    stream = fs.create(p, True)
    try:
        stream.write(bytearray(data))
    finally:
        stream.close()
    delete_path(spark, path)
    rename_path(spark, tmp, path)


def write_parquet(
    spark: SparkSession,
    dir_path: str,
    rows: Sequence[tuple],
    schema: StructType,
    replace: bool = False,
) -> None:
    """Driver-held ``rows`` -> one parquet file ``{dir_path}/part-<uuid>.parquet``
    in ``schema``'s Arrow form, written by ``write_file``; ``replace``
    first deletes ``dir_path``. Runs no Spark job. TimestampType columns
    are ``timestamp[us, tz=UTC]``, so Spark reads them back as
    TimestampType (a tz-naive one reads as TIMESTAMP_NTZ) and a naive
    ``datetime`` value counts as UTC wall time. ``rows`` may be empty:
    the file still carries ``schema``."""
    import uuid

    import pyarrow as pa
    import pyarrow.parquet as pq
    from pyspark.sql.pandas.types import to_arrow_schema

    arrow_schema = to_arrow_schema(schema)
    table = pa.Table.from_pylist([dict(zip(schema.names, r)) for r in rows], arrow_schema)
    sink = pa.BufferOutputStream()
    pq.write_table(table, sink)
    if replace:
        delete_path(spark, dir_path)
    write_file(spark, f"{dir_path}/part-{uuid.uuid4()}.parquet", sink.getvalue().to_pybytes())


def get_spark(
    master: str | None = None,
    app_name: str = "manga-ocr-spark",
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    # Python workers are separate processes spawned by the JVM; they inherit
    # the env, not the driver's sys.path. Exporting the package root on
    # PYTHONPATH makes `import manga_ocr_spark` work inside mapInArrow
    # regardless of the driver's cwd (on a cluster, spark-submit --py-files
    # plays this role).
    pkg_root = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    existing = os.environ.get("PYTHONPATH", "")
    if pkg_root not in existing.split(os.pathsep):
        os.environ["PYTHONPATH"] = f"{pkg_root}{os.pathsep}{existing}" if existing else pkg_root
    cpus = default_cpus(os.environ)
    master = _resolve_master(master, os.environ, cpus)
    launcher_owned = master is None  # spark-submit decided the master
    # N of the modeled N-core executor: only meaningful for a standalone
    # local[N] session (under spark-submit the launcher owns sizing)
    jvm_cpus = None
    if not launcher_owned and master.startswith("local"):
        # parse the thread count only — local[4,2] means (threads, maxFailures),
        # and digit-concatenation would read it as 42 (ADVICE r6)
        import re

        m = re.match(r"local\[(\d+|\*)", master)
        jvm_cpus = cpus if (m is None or m.group(1) == "*") else int(m.group(1))
    if shuffle_partitions is None and not launcher_owned:
        # local[N] -> N usable cores; 1 partition per core for the
        # map-heavy extraction profile (shuffles are rare and AQE coalesces)
        shuffle_partitions = max(8, jvm_cpus or cpus)
    builder = (
        SparkSession.builder.appName(app_name)
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "1024")
        # byte-based cap composes with the row cap (a batch closes when
        # EITHER is hit, SQLConf: spark.sql.execution.arrow.maxBytesPerBatch)
        # — 1 GiB leaves the row cap in charge for ordinary pages: a 16 MB
        # byte cap measured neutral-to-negative on 60 KB pages
        .config("spark.sql.execution.arrow.maxBytesPerBatch", str(1 << 30))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.files.maxPartitionBytes", "134217728")
        .config("spark.sql.autoBroadcastJoinThreshold", "64m")
        # let the planner pick shuffled-hash over sort-merge when its
        # size conditions (canBuildLocalHashMap + muchSmaller) hold —
        # skips both sort passes; the optimization guide's recommended
        # posture. Not a force: joins whose build side exceeds the
        # per-partition threshold still plan sort-merge, so the
        # OOM-safety fallback is intact at cluster scale. VERIFIED
        # PLAN-NEUTRAL at sandbox scale (r7: every bench join is already
        # a broadcast under the 64m threshold at sf0.1/sf1.0 with either
        # setting — executed plans compared identical, so no local win
        # is claimed); the setting matters where a dimension side
        # exceeds broadcast but fits a per-partition hash map, i.e. at
        # cluster scale. Caveat: the planner's "fits a hash map" test
        # reads size ESTIMATES, and frames derived from UDF output
        # (mapInArrow / pandas_udf results) can carry estimates far from
        # their real size — size-check (or materialize) such a frame
        # before joining it, or a misjudged build side can OOM a task.
        .config("spark.sql.join.preferSortMergeJoin", "false")
        # heap scales with task slots, capped by physical memory (see
        # _default_driver_memory); on a real cluster this is per-EXECUTOR
        # memory and spark-submit's --driver-memory/--executor-memory govern
        .config(
            "spark.driver.memory",
            os.environ.get("SPARK_DRIVER_MEMORY")
            or _default_driver_memory(cpus, _phys_bytes()),
        )
        # throughput GC for batch work: G1's pause-time tuning throttled the
        # allocation-heavy parquet-binary scan at high core counts (measured
        # 3-4x slower scans vs ParallelGC at local[32])
        .config("spark.driver.extraJavaOptions", _java_opts(jvm_cpus))
        .config("spark.executor.extraJavaOptions", _java_opts(jvm_cpus))
        .config("spark.ui.enabled", "false")
    )
    if shuffle_partitions is not None:
        builder = builder.config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        builder = builder.config("spark.default.parallelism", str(shuffle_partitions))
    if master is not None:
        builder = builder.master(master)
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    if shuffle_partitions is None:
        # launcher-owned master (spark-submit): derive the per-core
        # partition tuning from the REAL cluster parallelism, not from
        # SPARK_GRAFT_CPUS — shuffle.partitions is runtime-settable
        # (spark.default.parallelism is not; the launcher governs it)
        spark.conf.set(
            "spark.sql.shuffle.partitions",
            str(max(8, spark.sparkContext.defaultParallelism)),
        )
    return spark
