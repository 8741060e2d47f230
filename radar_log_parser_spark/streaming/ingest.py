"""Streaming ingest: the same parse → route plan over a file stream.

The reference is strictly batch (one upload = one full scan; SURVEY.md
§2.6), and the north rule's resumability is checkpoint-based batch — so
streaming here is the INGEST surface only: new tokenized-sequence files
landing in a directory flow through the identical parse stage
(mapInArrow works on streaming DataFrames) into streaming sinks.

Batch/stream parity: the stream runs parse_stage and the batch rollups
(routing.severity_sink, logquery.hourly_rollup) verbatim, so any
golden-verified batch semantics hold per micro-batch. Order-sensitive
aggregates (first/last, A5) are only defined per completed log, hence they
stay in the batch layer; streaming exposes the order-free ones (counts,
severity rollups) with watermark-less complete/update modes or
`Trigger.AvailableNow` catch-up runs.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from radar_log_parser_spark.codec import Vocab
from radar_log_parser_spark.config import ConfigSpec
from radar_log_parser_spark.functions.parse import parse_stage
from radar_log_parser_spark.operators import routing
from radar_log_parser_spark.operators.logquery import hourly_rollup


INPUT_DDL = "doc_id string, tokens array<int>, n_tok int, source string"
EVENTS_DDL = (
    "event_id long, ts timestamp, user_id long, event_type string, "
    "value double, props string"
)
MAX_FILES_PER_TRIGGER = 8
WATERMARK = "30 minutes"


def read_stream(spark: SparkSession, path: str, ddl: str = INPUT_DDL) -> DataFrame:
    """A parquet file stream of `ddl` rows (INPUT_DDL: the tokenized log
    table; EVENTS_DDL: the events table), MAX_FILES_PER_TRIGGER files per
    micro-batch."""
    return (
        spark.readStream.schema(ddl)
        .option("maxFilesPerTrigger", str(MAX_FILES_PER_TRIGGER))
        .parquet(path)
    )


def severity_counts_stream(parsed: DataFrame) -> DataFrame:
    """Streaming severity rollup per (source, level) over the batch
    severity sink's rows — update-mode safe (associative sum)."""
    return (
        routing.severity_sink(parsed)
        .groupBy("source", "level")
        .agg(F.sum("n_matches").alias("n_matches"))
    )


def windowed_event_counts_stream(events: DataFrame) -> DataFrame:
    """The batch `logquery.hourly_rollup` over a watermarked stream. The
    watermark bounds state: windows older than max(event time) - WATERMARK
    are finalized and evicted, so state size is O(active windows × types),
    not O(stream length) — the property that lets this run forever against
    a 10^12-event firehose. Late events within the watermark still merge
    into their window; later ones are dropped (documented lateness
    contract)."""
    return hourly_rollup(events.withWatermark("ts", WATERMARK))


def _available_now(
    spark: SparkSession, counts: DataFrame, mode: str, query_name: str, checkpoint_dir: str
) -> DataFrame:
    """Catch-up run (Trigger.AvailableNow): process everything currently
    in the stream's source, then stop — the streaming analog of a
    resumable batch; the stream checkpoint carries offsets across
    restarts. The result lands in the memory table `query_name`."""
    q = (
        counts.writeStream.outputMode(mode)
        .format("memory")
        .queryName(query_name)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return spark.table(query_name)


def run_windowed_available_now(
    spark: SparkSession,
    events_path: str,
    checkpoint_dir: str,
    query_name: str = "windowed_events",
):
    """Catch-up run of the watermarked window rollup; append mode emits
    only watermark-finalized windows."""
    counts = windowed_event_counts_stream(read_stream(spark, events_path, EVENTS_DDL))
    return _available_now(spark, counts, "append", query_name, checkpoint_dir)


def run_available_now(
    spark: SparkSession,
    input_path: str,
    cfg: ConfigSpec,
    vocab: Vocab,
    checkpoint_dir: str,
    query_name: str = "severity_counts",
):
    """Catch-up run of the severity rollup over `input_path`."""
    parsed = parse_stage(read_stream(spark, input_path), cfg, vocab)
    return _available_now(
        spark, severity_counts_stream(parsed), "complete", query_name, checkpoint_dir
    )
