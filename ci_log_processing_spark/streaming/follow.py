"""Follow mode — the reference's polling micro-batch loop
(`--follow --wait-time`, logscraper.py:770-775 and
logsender.py:683-687: run(); sleep(wait)) as Structured Streaming.

Design: readStream over the transcripts table directory +
foreachBatch running the job's batch path per micro-batch:
filter_unprocessed -> full_pipeline -> plans.job.write_batch.
foreachBatch (not a pure streaming DAG) because the forward-fill
window is conversation-ordered — inside a micro-batch the batch
planner handles it, mirroring the reference's treat-each-ready-dir-
as-a-unit semantics (a conversation's turns arrive together, the
way a build dir becomes "ready" all at once, logsender.py:175-198).

Output: the job's layout, written by the same code —
<out>/sinks/sink=<s>/event_date=<d>/ with the job's sink columns
(batch_id is the micro-batch id as a string), <out>/agg_hourly,
<out>/metrics and the conv manifest <out>/checkpoint.

Trigger:
  * availableNow=True — drain what exists, then stop (the batch
    re-run analog; used in tests);
  * processingTime=Ns  — the literal --follow loop.

Checkpointing: Spark's own streaming checkpoint (<out>/_stream_ckpt,
offset tracking) + the job's conv-manifest checkpoint both apply: a
re-run re-reads no file, and a conversation already in the manifest
— e.g. re-delivered in a later file — is skipped, not re-emitted.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

from ..operators.checkpoint import filter_unprocessed
from ..plans.job import write_batch
from ..plans.pipeline import DEFAULT_BATCH_TS, DEFAULT_REF_YEAR, full_pipeline

TRANSCRIPT_SCHEMA = (
    "conv_id string, turn_idx int, role string, text string, "
    "tool string, ts timestamp"
)


def run_follow(
    spark: SparkSession,
    transcripts_dir: str,
    output_dir: str,
    batch_ts: str = DEFAULT_BATCH_TS,
    ref_year: int = DEFAULT_REF_YEAR,
    impl: str = "native",
    processing_time: str | None = None,
    meta=None,
):
    """Stream the transcripts directory into the 4 sinks + hourly agg.

    `meta` (conv-metadata DataFrame) enables the no_metadata drop
    rule exactly as in batch mode. Returns the StreamingQuery
    (already awaited when availableNow).
    """

    def process_batch(batch_df, batch_id: int):
        fresh, _ = filter_unprocessed(
            spark, batch_df, os.path.join(output_dir, "checkpoint")
        )
        routed = full_pipeline(
            fresh,
            spark,
            batch_ts=batch_ts,
            ref_year=ref_year,
            impl=impl,
            meta=meta,
        )
        write_batch(spark, routed, output_dir, str(batch_id))

    stream = (
        spark.readStream.schema(TRANSCRIPT_SCHEMA)
        .option("maxFilesPerTrigger", 8)  # micro-batch size control
        .parquet(transcripts_dir)
    )
    writer = (
        stream.writeStream.foreachBatch(process_batch)
        .option(
            "checkpointLocation", os.path.join(output_dir, "_stream_ckpt")
        )
    )
    if processing_time:
        q = writer.trigger(processingTime=processing_time).start()
        return q
    q = writer.trigger(availableNow=True).start()
    q.awaitTermination()
    return q
