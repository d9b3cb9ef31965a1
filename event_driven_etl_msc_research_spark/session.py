"""SparkSession factory tuned for the engine.

The reference tunes parallelism with a single knob (Step Functions
``MaxConcurrency: 4``, ``AWS-Step-function/prototype-etl.json:32``).  Here the
equivalents are ``local[N]`` thread count, ``spark.sql.shuffle.partitions``,
and AQE — all set so the same code scales from local tests to a real
multi-executor cluster.

Four more confs are set for ``local[...]`` masters only, where every task is
a thread of the driver JVM and the per-task fixed cost is the whole cost of
a tiny task (measured with JFR and the Spark event log on the
``tail_small_epochs`` and ``bulk_replay`` perfbench workloads, 4 vCPUs):

* ``spark.sql.sources.parallelPartitionDiscovery.threshold`` at
  ``Int.MaxValue``: a file-stream batch of more than 32 WAL files was
  listed by a "Listing leaf files" Spark job, one task per file, each
  deserializing the job's ~1,100-entry Hadoop ``Configuration``
  (~13-15 ms of CPU) to stat one local file in microseconds — ~0.6 s of
  task-deserialize CPU for a 33-file ``bulk_replay`` drain.  The driver
  lists them itself.
* ``spark.sql.streaming.checkpointFileManagerClass`` at Spark's
  ``FileSystemBasedCheckpointFileManager``: the default FileContext-based
  manager renames each offset/commit/metadata file through
  ``RawLocalFileSystem.getFileLinkStatus``, which forks ``readlink``
  without the Hadoop native library (1,016 forks over the 42 tail
  epochs, ~24 per epoch).  The FileSystem-based manager renames with
  ``FileSystem.rename``, atomic on POSIX and HDFS.  Its refusal to
  overwrite an existing batch file is a check before the rename, which
  only two processes running one checkpoint at once could slip past
  (Spark refuses a second active query on a checkpoint within one JVM).
  The checkpoint layout is the same, so a checkpoint written under either
  manager resumes under the other.
* ``spark.hadoop.fs.file.impl`` at Hadoop's ``RawLocalFileSystem`` and
  ``spark.hadoop.mapreduce.fileoutputcommitter.marksuccessfuljobs`` at
  ``false``: the default checksummed ``LocalFileSystem`` writes a
  ``.crc`` sidecar beside every file it creates, and the output committer
  a ``_SUCCESS`` marker per write.  Nothing reads either: parquet pages
  carry their own CRCs, the table's staging audit reads every new
  footer, and the staging listing skips ``_SUCCESS``.  Without the
  Hadoop native library each file Hadoop creates forks one ``chmod``:
  1,324 forks over the 42 tail epochs, 861 without the sidecars and
  markers.  The rest are the directories and data files of each write
  and the checkpoint's files.  A checkpoint or table written with
  ``.crc`` files reads and resumes unchanged (the raw file system lists
  a sidecar as one more hidden file); only a checksummed reader would
  check a sidecar that a later raw overwrite left stale.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

_FS_CHECKPOINT_MANAGER = (
    "org.apache.spark.sql.execution.streaming.checkpointing."
    "FileSystemBasedCheckpointFileManager"
)


def get_spark(
    app_name: str = "event_driven_etl_msc_research_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or get) a SparkSession with engine defaults.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` (env, default 32) so
    the scaling bench can run the identical job at two parallelism levels.
    ``shuffle_partitions`` defaults to the local core count — the default 200
    over-parallelizes local runs and under-parallelizes a 1000-executor
    cluster; on a real cluster it should be set to ~2-3x total cores.
    """
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    if master is None:
        master = f"local[{cpus}]"
    local = master.startswith("local[")
    if shuffle_partitions is None:
        # local[N] → N; a real cluster master string leaves the Spark default.
        if local:
            n = master[len("local[") : -1]
            shuffle_partitions = cpus if n == "*" else int(n)
        else:
            shuffle_partitions = 200

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # measured on this engine's merge shapes: shuffled hash join beats
        # sort-merge (the argmax winners join has unique keys, no sort
        # needed; AQE still guards skew) — see BENCH.md
        .config("spark.sql.join.preferSortMergeJoin", "false")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.parquet.compression.codec", "snappy")
        # TIMESTAMP_MICROS (not legacy INT96): INT96 columns carry NO
        # parquet min/max statistics, which would blind the manifest's
        # per-file ts-range pruning (ManifestTable.read(where=...))
        .config("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
        .config("spark.ui.enabled", "false")
        # heap scales with core count (1.5 GiB/core, min 8 GiB): a local[4N]
        # run models a 4N-executor cluster, which has 4N× aggregate memory —
        # fixed total heap would instead model executors shrinking as the
        # cluster grows, inverting scaling results via per-task spill
        .config(
            "spark.driver.memory",
            os.environ.get("SPARK_GRAFT_DRIVER_MEM", f"{max(8, (3 * cpus) // 2)}g"),
        )
    )
    if local:
        # tasks are driver threads: see the module docstring
        builder = builder.config(
            "spark.sql.sources.parallelPartitionDiscovery.threshold",
            str(2**31 - 1),
        ).config(
            "spark.sql.streaming.checkpointFileManagerClass",
            _FS_CHECKPOINT_MANAGER,
        ).config(
            "spark.hadoop.fs.file.impl", "org.apache.hadoop.fs.RawLocalFileSystem"
        ).config(
            "spark.hadoop.mapreduce.fileoutputcommitter.marksuccessfuljobs",
            "false",
        )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
