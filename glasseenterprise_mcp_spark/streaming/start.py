"""The one way a stream starts: a parquet file source, a plan over it, and
either a ``foreachBatch`` function or a parquet append sink, checkpointed.

Every streaming driver in this package calls :func:`start_file_stream`, so
the file-source, trigger and checkpoint policy lives here once:

  * ``available_now=True`` drains the files present at start and stops
    (deterministic for tests and backfills; a restart on the same
    checkpoint processes only newly arrived files); otherwise a
    ``processingTime`` trigger, the tunable analogue of the reference's
    300 ms watch debounce (src/scanner/incrementalWatcher.ts:14-101);
  * ``max_files_per_trigger`` bounds each micro-batch to N source files, so
    an available-now backlog drains as a sequence of bounded batches
    instead of one catch-up batch.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.streaming import StreamingQuery
from pyspark.sql.types import StructType


def start_file_stream(
    spark: SparkSession,
    schema: StructType,
    source_dir: str,
    checkpoint_dir: str,
    to: Callable[[DataFrame, int], None] | str,
    plan: Callable[[DataFrame], DataFrame] = lambda df: df,
    available_now: bool = True,
    processing_time: str = "1 second",
    max_files_per_trigger: int | None = None,
) -> StreamingQuery:
    """Read ``source_dir``'s parquet files as a stream of ``schema`` rows,
    apply ``plan``, and start the query. ``to`` is a ``foreachBatch``
    function ``(batch_df, batch_id)``, or the directory of a parquet sink
    that appends the plan's rows."""
    reader = spark.readStream.schema(schema)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    stream = plan(reader.parquet(source_dir)).writeStream
    if callable(to):
        writer = stream.foreachBatch(to)
    else:
        writer = stream.format("parquet").option("path", to).outputMode("append")
    writer = writer.option("checkpointLocation", checkpoint_dir)
    if available_now:
        return writer.trigger(availableNow=True).start()
    return writer.trigger(processingTime=processing_time).start()
