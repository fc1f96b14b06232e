"""CSV directory source (SURVEY.md §2.1 S1-S3).

Reads every ``*.csv`` under a dataset directory with a declared StructType —
schema-on-read with enforcement, not inference (reference semantics:
/root/reference/pb_etl/luigi/dask/target.py:210-213 reads ``{path}/*.csv``
with a dtype dict; call sites tasks.py:168-178,219-228,414-418).

At scale: an explicit schema skips the inference pass (which reads the data
twice), and Spark parallelizes the scan across files/blocks for free.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T


def read_csv_dataset(
    spark: SparkSession,
    path: str,
    schema: T.StructType,
    header: bool = True,
) -> DataFrame:
    """Read all ``*.csv`` files under ``path`` as one DataFrame; a
    directory holding none is an error, as the reference's glob was."""
    df = (
        spark.read.schema(schema)
        .option("header", str(header).lower())
        .option("mode", "PERMISSIVE")
        # a filter, not a ``{path}/*.csv`` glob: Spark probes a glob path
        # for a streaming-sink metadata dir and logs a FileNotFoundException
        # stack trace on every read
        .option("pathGlobFilter", "*.csv")
        .csv(path)
    )
    if not df.inputFiles():
        raise FileNotFoundError(f"no *.csv files under {path}")
    return df
