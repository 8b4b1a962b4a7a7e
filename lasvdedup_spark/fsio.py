"""Driver-side filesystem operations through the Hadoop FileSystem API.

The pipeline's resume contract (StageRunner's _SUCCESS probe — the Spark
analog of the reference's Snakemake skip-finished-outputs DAG,
/root/reference/lasvdedup/pipeline.py:70-78) and the streaming index
compaction both need a handful of driver-side metadata operations: exists,
list, rename, delete, and reading a written stage's schema back.
``os.path`` only sees the LOCAL disk — on the design target (HDFS / S3 /
an Iceberg warehouse) a local probe silently reports
"absent", which turns resume into recompute-everything and makes compaction
impossible.

Routing through ``FileSystem.get(path.toUri(), hadoopConf)`` (via the
session's py4j gateway) makes the same code correct on every scheme Spark
itself can write to: plain local paths, file:, hdfs:, s3a:, ... — the
filesystem is resolved PER PATH, so a checkpoint_dir on s3a: and a work_dir
on file: coexist in one session. Rename is atomic exactly where the
underlying store's rename is (HDFS/local: yes; S3: copy+delete — the same
caveat every Hadoop-on-S3 committer documents), matching what the
compaction crash-ordering relies on.
"""

from __future__ import annotations

import json

from pyspark.sql import SparkSession
from pyspark.sql.types import StructType

# Footer key under which Spark's parquet writer stores the row schema
# (ParquetReadSupport.SPARK_METADATA_KEY).
_SPARK_ROW_METADATA = "org.apache.spark.sql.parquet.row.metadata"


def _fs_and_path(spark: SparkSession, path: str):
    jvm = spark._jvm
    jpath = jvm.org.apache.hadoop.fs.Path(path)
    fs = jpath.getFileSystem(spark._jsc.hadoopConfiguration())
    return fs, jpath


def exists(spark: SparkSession, path: str) -> bool:
    fs, p = _fs_and_path(spark, path)
    return bool(fs.exists(p))


def listdir(spark: SparkSession, path: str) -> list[str]:
    """Child basenames of a directory ([] if it does not exist)."""
    fs, p = _fs_and_path(spark, path)
    if not fs.exists(p):
        return []
    return [st.getPath().getName() for st in fs.listStatus(p)]


def rename(spark: SparkSession, src: str, dst: str) -> bool:
    fs, s = _fs_and_path(spark, src)
    _, d = _fs_and_path(spark, dst)
    return bool(fs.rename(s, d))


def delete(spark: SparkSession, path: str, recursive: bool = True) -> bool:
    """Delete a file or tree; False (no raise) when absent."""
    fs, p = _fs_and_path(spark, path)
    if not fs.exists(p):
        return False
    return bool(fs.delete(p, recursive))


def mkdirs(spark: SparkSession, path: str) -> bool:
    fs, p = _fs_and_path(spark, path)
    return bool(fs.mkdirs(p))


def parquet_schema(spark: SparkSession, path: str) -> StructType | None:
    """Spark row schema of a parquet directory, read on the driver from one
    data file's footer; None when the directory holds no data file or the
    file was not written by Spark.

    ``spark.read.parquet`` infers the same schema with a distributed job;
    passing this one to ``spark.read.schema`` skips it. Every file of a
    stage directory comes from one write, so one footer speaks for all."""
    jvm = spark._jvm
    conf = spark._jsc.hadoopConfiguration()
    fs, p = _fs_and_path(spark, path)
    if not fs.exists(p):
        return None
    # Hadoop's hidden-file rule, as Spark's file index applies it
    data = [
        st.getPath() for st in fs.listStatus(p)
        if st.isFile() and not st.getPath().getName().startswith(("_", "."))
    ]
    if not data:
        return None
    reader = jvm.org.apache.parquet.hadoop.ParquetFileReader.open(
        jvm.org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(data[0], conf)
    )
    try:
        blob = reader.getFooter().getFileMetaData().getKeyValueMetaData().get(
            _SPARK_ROW_METADATA
        )
    finally:
        reader.close()
    return None if blob is None else StructType.fromJson(json.loads(blob))
