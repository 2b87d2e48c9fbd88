"""Batch-addressed partials: the one storage shape behind the
streaming writers (the reference's `--follow` loop,
logscraper.py:770-775 / logsender.py:683-687, as availableNow
foreachBatch drains).

Layout: a writer keeps one ROOT per partial kind (`<out>/registers`,
`<out>/agg`, `<out>/index`, ...). Micro-batch `b` writes its partial
to `<root>/b<b>` in overwrite mode and never touches another batch's
directory. The served answer is the writer's own fold over every
`<root>/b*` directory; `b_compact` (a compaction's output) is one of
them. Nothing is updated in place, so there is no read-modify-write
race and no transactional table.

Replay contract: foreachBatch is at-least-once. A batch replayed
after a crash keeps its batch id, and the file source's checkpointed
offsets give it the same input, so its overwrite REPLACES whatever
the failed attempt left instead of adding beside it. A writer that
reads partials while writing (a dedup index, the last-turn state of
hdr_stream) reads only `b<id>` with id < its own batch id — the
pre-batch state. That excludes its own failed attempt (whose
leftovers would make the replay treat its input as already seen)
and, after a checkpoint wipe restarts ids at 0, the partials of
later batches.

Listing goes through the Hadoop FileSystem API, so one code path
serves local paths and file://, hdfs:// and s3a:// URIs. An absent
or empty root reads as a typed empty frame: a drain over an empty
source returns an empty result of the right schema.
"""

from __future__ import annotations

import os
import re

from pyspark.sql import DataFrame, SparkSession

from ..session import hadoop_fs

_BATCH_DIR = re.compile(r"b(\d+)")


def drain(
    spark: SparkSession,
    schema: str,
    src_dir: str,
    ckpt_dir: str,
    process,
    max_files_per_trigger: int,
) -> None:
    """Run `process(batch_df, batch_id)` over every parquet file in
    `src_dir` not yet committed to `ckpt_dir`, at most
    `max_files_per_trigger` files per micro-batch, and return once
    drained. Empty micro-batches are skipped, so `process` never
    sees one."""

    def _nonempty(batch_df: DataFrame, batch_id: int) -> None:
        if not batch_df.isEmpty():
            process(batch_df, batch_id)

    (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .parquet(src_dir)
        .writeStream.foreachBatch(_nonempty)
        .option("checkpointLocation", ckpt_dir)
        .trigger(availableNow=True)
        .start()
        .awaitTermination()
    )


def write_partial(df: DataFrame, root: str, batch_id: int) -> None:
    """Overwrite `root/b<batch_id>` with `df`."""
    df.write.mode("overwrite").parquet(os.path.join(root, f"b{batch_id}"))


def read_partials(
    spark: SparkSession,
    root: str,
    schema: str,
    before: int | None = None,
) -> DataFrame:
    """Union of the partials under `root`, read with `schema`: every
    `b*` directory, or with `before` only `b<id>` where id < before."""
    fs, Path = hadoop_fs(spark, root)
    paths = []
    if fs.exists(Path(root)):
        for st in fs.listStatus(Path(root)):
            name = st.getPath().getName()
            m = _BATCH_DIR.fullmatch(name)
            wanted = name.startswith("b") if before is None else (
                m is not None and int(m.group(1)) < before
            )
            if st.isDirectory() and wanted:
                paths.append(st.getPath().toString())
    if not paths:
        return spark.createDataFrame([], schema)
    return spark.read.schema(schema).parquet(*sorted(paths))
