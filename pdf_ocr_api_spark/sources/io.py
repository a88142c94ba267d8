"""Iceberg-first table IO with parquet fallback (SURVEY §2.1 S2/S3/S9).

The engine targets Iceberg tables (`north_rule`); this sandbox has no
iceberg-spark-runtime jar, so every read/write goes through this thin
layer: when an Iceberg catalog is configured on the session the code path
is `spark.read/writeTo("catalog.db.table")`; otherwise the same logical
tables live as parquet directories. The rest of the engine never branches.

Production setup (documented for spark-submit deployments):
    --packages org.apache.iceberg:iceberg-spark-runtime-4.0_2.13:<ver>
    --conf spark.sql.extensions=org.apache.iceberg.spark.extensions.IcebergSparkSessionExtensions
    --conf spark.sql.catalog.lake=org.apache.iceberg.spark.SparkCatalog
    --conf spark.sql.catalog.lake.type=hadoop|hive|rest
"""

from __future__ import annotations

import re as _re

from pyspark.sql import DataFrame, SparkSession

_IDENT_RX = _re.compile(r"^[A-Za-z_][\w]*(\.[A-Za-z_][\w]*){1,2}$")
_FILE_EXT = (".parquet", ".json", ".csv", ".orc", ".avro")


def is_table_ident(target: str) -> bool:
    """catalog.db.table identifiers vs filesystem paths.

    A bare single-segment name ("results") is treated as a PATH — Spark
    writes it as a relative directory and that is the common CLI usage;
    identifiers must be dotted (db.table or catalog.db.table) and not
    end in a data-file extension.
    """
    if "/" in target or target.startswith(("s3:", "hdfs:", "file:")):
        return False
    if target.lower().endswith(_FILE_EXT):
        return False
    return bool(_IDENT_RX.match(target))


def sub_target(root: str, name: str) -> str:
    """Derive a child table target under an output root: path roots get
    ``root/name`` (bare single-segment names are paths, matching
    ``is_table_ident``); catalog idents get ``root_name`` (suffixing the
    table name keeps it a valid ident)."""
    return f"{root}_{name}" if is_table_ident(root) else f"{root}/{name}"


def read_table(spark: SparkSession, target: str) -> DataFrame:
    if is_table_ident(target):
        return spark.read.table(target)
    return spark.read.parquet(target)


def write_table(
    df: DataFrame,
    target: str,
    mode: str = "append",
    partition_by: list[str] | None = None,
) -> None:
    """Append/overwrite a logical table.

    Iceberg path: `writeTo(...).append()` / `overwritePartitions()` —
    ACID, so concurrent/bucket-wise writes are safe. Parquet path:
    directory writes with dynamic partition overwrite for the
    `overwrite_partitions` mode (same idempotent-resume semantics).
    """
    if is_table_ident(target):
        # first write against a fresh root must CREATE the table:
        # append()/overwritePartitions() raise NoSuchTableException on a
        # missing table, and lineage.run's very first run would otherwise
        # crash on every new Iceberg output root
        if mode in ("append", "overwrite_partitions") and not df.sparkSession.catalog.tableExists(
            target
        ):
            mode = "create"
        w = df.writeTo(target)
        if mode == "append":
            w.append()
        elif mode == "overwrite_partitions":
            w.overwritePartitions()
        elif mode == "create":
            if partition_by:
                from pyspark.sql import functions as F  # noqa: N812

                w = w.partitionedBy(*[F.col(c) for c in partition_by])
            w.createOrReplace()
        else:
            raise ValueError(mode)
        return

    writer = df.write
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    if mode == "overwrite_partitions":
        writer.option("partitionOverwriteMode", "dynamic").mode("overwrite").parquet(target)
    elif mode in ("append", "create"):
        writer.mode("append" if mode == "append" else "overwrite").parquet(target)
    else:
        raise ValueError(mode)


def local_frame(spark: SparkSession, rows: list, schema: str) -> DataFrame:
    """Driver-side rows (tuples in ``schema`` order) as a DataFrame, built
    through a ``pyarrow.Table``.

    ``createDataFrame(list)`` ships pickled rows as a PythonRDD, so the
    first action over it starts a Python worker; an Arrow table goes to
    the JVM as record batches and never does, whatever
    ``spark.sql.execution.arrow.pyspark.enabled`` says.
    """
    import pyarrow as pa
    from pyspark.sql.types import DataType

    struct = DataType.fromDDL(schema)
    cols = list(zip(*rows)) if rows else [()] * len(struct.names)
    table = pa.Table.from_arrays([pa.array(list(c)) for c in cols], names=struct.names)
    return spark.createDataFrame(table, struct)


def table_exists(spark: SparkSession, target: str) -> bool:
    """Whether ``target`` holds a table: a catalog table for idents; for
    paths, a ``.parquet`` file at any depth under ``target``.

    Paths resolve through the session's Hadoop filesystem, the one Spark
    reads and writes with: ``file://``, ``hdfs://`` and ``s3a://`` roots
    work, and a relative root resolves against the JVM's working
    directory, as Spark's own writes do, not against Python's.
    """
    if is_table_ident(target):
        return spark.catalog.tableExists(target)
    path = spark._jvm.org.apache.hadoop.fs.Path(target)
    fs = path.getFileSystem(spark._jsc.hadoopConfiguration())
    if not fs.exists(path):
        return False
    files = fs.listFiles(path, True)
    while files.hasNext():
        if files.next().getPath().getName().endswith(".parquet"):
            return True
    return False
