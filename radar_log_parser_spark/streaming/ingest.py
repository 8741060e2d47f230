"""Streaming ingest: the same parse → route plan over a file stream.

The reference is strictly batch (one upload = one full scan; SURVEY.md
§2.6), and the north rule's resumability is checkpoint-based batch — so
streaming here is the INGEST surface only: new tokenized-sequence files
landing in a directory flow through the identical parse stage
(mapInArrow works on streaming DataFrames) into streaming sinks.

Batch/stream parity: the stream runs parse_stage verbatim, so any
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


INPUT_DDL = "doc_id string, tokens array<int>, n_tok int, source string"
EVENTS_DDL = (
    "event_id long, ts timestamp, user_id long, event_type string, "
    "value double, props string"
)


def read_stream(
    spark: SparkSession, path: str, ddl: str = INPUT_DDL, max_files_per_trigger: int = 8
) -> DataFrame:
    """A parquet file stream of `ddl` rows (INPUT_DDL: the tokenized log
    table; EVENTS_DDL: the events table)."""
    return (
        spark.readStream.schema(ddl)
        .option("maxFilesPerTrigger", str(max_files_per_trigger))
        .parquet(path)
    )


def severity_counts_stream(parsed: DataFrame) -> DataFrame:
    """Streaming severity rollup per (source, level) — update-mode safe
    (associative count over the exploded severity column)."""
    sev = parsed.select(
        "source",
        F.explode(F.arrays_zip("sev_levels", "sev_counts")).alias("s"),
    ).select("source", F.col("s.sev_levels").alias("level"), F.col("s.sev_counts").alias("n"))
    return sev.groupBy("source", "level").agg(F.sum("n").alias("n_matches"))


def windowed_event_counts_stream(
    events: DataFrame, watermark: str = "30 minutes"
) -> DataFrame:
    """Watermarked tumbling-window rollup — the streaming twin of the batch
    `q_window_rollup` operator (same plan shape; tumbling windows align to
    the epoch). The watermark bounds state: windows older than max(event
    time) - 30 min are finalized and evicted, so state size is
    O(active windows × types), not O(stream length) — the property that
    lets this run forever against a 10^12-event firehose. Late events
    within the watermark still merge into their window; later ones are
    dropped (documented lateness contract)."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(
            F.count("*").cast("long").alias("n"),
            F.sum(F.round(F.col("value") * 100).cast("long")).alias("value_cents"),
        )
        .select(
            F.col("w.start").alias("window_start"), "event_type", "n", "value_cents"
        )
    )


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
