"""Distributed Parquet sink: every Spark task writes a real .parquet part
file with :class:`cpp_parquet_spark.parquet_writer.ParquetWriter`.

This is the reference's single-process writer lifecycle
(parquet-file.cc:118-177) lifted to Spark's execution model: N tasks
write N independent files under one directory, each streaming row
groups as Arrow batches arrive.  Row groups are cut by the writer's own
grouper (``parquet_writer.bounded_groups``) at ``row_group_rows`` rows,
inside a batch if need be, so executor memory is bounded by the
row-group size regardless of partition size.  The one entry point,
:func:`write_parquet_dir`, runs the write job and returns the manifest
rows.
``spark.read.parquet`` (or DuckDB/pyarrow on the directory) is the
independent-reader oracle, mirroring the reference's parquet-dump
validation (parquet-file-test.cc:37-50).

Scale notes: the directory must be shared storage on a real cluster
(HDFS/S3/NFS — local tmpfs here); files are written to a temp name and
renamed on close so task retries never leave a readable partial file.
"""

from __future__ import annotations

import os
import uuid
from typing import Iterable, Iterator

import pyarrow as pa

from pyspark.sql import DataFrame
from pyspark.sql.pandas.types import to_arrow_schema
from pyspark.sql.types import IntegerType, LongType, StringType, StructField, StructType

from cpp_parquet_spark.engine import DEFAULT_CHUNK_ROWS
from cpp_parquet_spark.parquet_writer import ParquetWriter, bounded_groups
from cpp_parquet_spark.session import forget_zip_finders

MANIFEST_SCHEMA = StructType(
    [
        StructField("file", StringType(), False),
        StructField("part_id", IntegerType(), False),
        StructField("rows", LongType(), False),
        StructField("row_groups", LongType(), False),
        StructField("bytes", LongType(), False),
    ]
)

_MANIFEST_ARROW = to_arrow_schema(MANIFEST_SCHEMA)


def write_parquet_dir(
    df: DataFrame,
    directory: str,
    row_group_rows: int = DEFAULT_CHUNK_ROWS,
    compression: str | None = None,
    data_page_version: int = 1,
) -> list:
    """Write ``df`` as a directory of real Parquet part files, one per
    non-empty partition, with row groups of at most ``row_group_rows``
    rows.  Returns the manifest rows (driver-side metadata, one row per
    file — safe to collect)."""
    os.makedirs(directory, exist_ok=True)

    def task(batches: Iterable[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        forget_zip_finders()
        from pyspark import TaskContext

        ctx = TaskContext.get()
        pid = ctx.partitionId() if ctx is not None else 0
        final = os.path.join(directory, f"part-{pid:05d}.parquet")
        tmp = final + f".{uuid.uuid4().hex[:8]}.inprogress"
        writer: ParquetWriter | None = None
        for _, tbl in bounded_groups(batches, row_group_rows):
            if writer is None:
                writer = ParquetWriter(
                    tmp,
                    tbl.schema,
                    compression=compression,
                    data_page_version=data_page_version,
                )
            writer.write_row_group(tbl)
        if writer is None:
            return  # empty partition -> no file
        stats = writer.close()
        os.replace(tmp, final)
        yield pa.RecordBatch.from_arrays(
            [
                pa.array([final], pa.string()),
                pa.array([pid], pa.int32()),
                pa.array([stats["rows"]], pa.int64()),
                pa.array([stats["row_groups"]], pa.int64()),
                pa.array([os.path.getsize(final)], pa.int64()),
            ],
            schema=_MANIFEST_ARROW,
        )

    return df.mapInArrow(task, MANIFEST_SCHEMA).collect()
