"""Structured Streaming validation: incremental checking of arriving
transcript/data files, behind the CLI's ``stream`` command.

The reference's closest feature is watch mode (``cli.py:500-598``) — a
filesystem-event *re-run* loop with a 2s debounce, not incremental
computation. Here the same capability is expressed Spark-first:
``readStream`` over a directory → a ``foreachBatch`` sink that writes
each micro-batch's :meth:`ValidationEngine.violations` rows, so batch
and streaming share one rule pass and one unpivot.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from datacheck_spark.engine import ValidationEngine


def stream_validate(
    spark: SparkSession,
    input_path: str,
    schema,
    fmt: str = "parquet",
) -> DataFrame:
    """The ``readStream`` of the files arriving under ``input_path``,
    ready for :func:`start_violations_sink`."""
    reader = spark.readStream.format(fmt).schema(schema)
    if fmt == "csv":
        reader = reader.option("header", "true")
    return reader.load(input_path)


def start_violations_sink(
    stream: DataFrame,
    key_cols,
    output_path: str,
    checkpoint_path: str,
    trigger_seconds: int = 10,
) -> StreamingQuery:
    """foreachBatch sink appending each micro-batch's violation rows to
    parquet. The rows are
    ``ValidationEngine().violations(batch, key_cols, ordered=False)``
    plus the ``batch_id`` column: the batch engine's rows, ``rule_name``,
    ``severity`` and ``observed`` included. The checkpoint makes the
    sink at-least-once: a batch re-run after a failure appends its rows
    again under the same ``batch_id``."""
    engine = ValidationEngine()

    def write_batch(batch_df: DataFrame, batch_id: int) -> None:
        (
            engine.violations(batch_df, key_cols, ordered=False)
            .withColumn("batch_id", F.lit(batch_id))
            .write.mode("append")
            .parquet(output_path)
        )

    return (
        stream.writeStream.foreachBatch(write_batch)
        .option("checkpointLocation", checkpoint_path)
        .trigger(processingTime=f"{trigger_seconds} seconds")
        .start()
    )
