"""streaming/partials.py: the batch-addressed partial layout shared by
the streaming writers — the `< batch_id` replay read, typed empty
reads, Hadoop-FS listing that works on file:// URIs, and the writers
built on it surviving URI output dirs and empty sources."""

import os
import shutil

from pyspark.sql import functions as F

from ci_log_processing_spark.streaming.agg_incremental import (
    run_agg_maintenance,
)
from ci_log_processing_spark.streaming.partials import (
    read_partials,
    write_partial,
)
from ci_log_processing_spark.streaming.template_stream import (
    TURN_STREAM_SCHEMA,
    run_streaming_templates,
)

SCHEMA = "v long, tag string"


def _marked(spark, v):
    return spark.createDataFrame([(v, f"t{v}")], SCHEMA)


def _values(df):
    return sorted(r.v for r in df.collect())


def test_read_partials_before_reads_only_earlier_batches(spark, tmp_path):
    root = str(tmp_path / "parts")
    for b in (0, 1, 2):
        write_partial(_marked(spark, b), root, b)
    _marked(spark, 99).write.parquet(os.path.join(root, "b_compact"))
    _marked(spark, -1).write.parquet(os.path.join(root, "_stage"))

    assert _values(read_partials(spark, root, SCHEMA, before=2)) == [0, 1]
    assert _values(read_partials(spark, root, SCHEMA, before=0)) == []
    # without `before`, every b* dir (b_compact too); never _stage
    assert _values(read_partials(spark, root, SCHEMA)) == [0, 1, 2, 99]


def test_read_partials_absent_root_is_typed_empty(spark, tmp_path):
    for before in (None, 3):
        df = read_partials(
            spark, str(tmp_path / "missing"), SCHEMA, before=before
        )
        assert df.count() == 0
        assert df.schema.simpleString() == "struct<v:bigint,tag:string>"


def test_partials_on_file_uri_root(spark, tmp_path):
    root = "file://" + str(tmp_path / "parts")
    for b in (0, 1):
        write_partial(_marked(spark, b), root, b)
    assert _values(read_partials(spark, root, SCHEMA)) == [0, 1]
    assert _values(read_partials(spark, root, SCHEMA, before=1)) == [0]


def _template_input(spark, tmp_path):
    turns = spark.createDataFrame(
        [
            ("A", 0, "added port 808", "agent_turns"),
            ("A", 1, "boot time 14s", "agent_turns"),
            ("B", 0, "junk 5", "drop_queue"),
            ("C", 0, "added port 1336", "agent_turns"),
            ("C", 1, "segfault at 0xdead", "errors"),
        ],
        TURN_STREAM_SCHEMA,
    )
    in_dir = tmp_path / "in"
    in_dir.mkdir()
    for w, (convs, mt) in enumerate(
        [(["A", "B"], 1_000_000), (["C"], 2_000_000)]
    ):
        tmp = str(tmp_path / f"w_{w}")
        turns.filter(F.col("conv_id").isin(convs)).coalesce(
            1
        ).write.parquet(tmp)
        pq = [f for f in os.listdir(tmp) if f.endswith(".parquet")]
        dst = str(in_dir / f"w{w}.parquet")
        shutil.copy(os.path.join(tmp, pq[0]), dst)
        os.utime(dst, (mt, mt))
    return str(in_dir)


def test_streaming_templates_file_uri_equals_local(spark, tmp_path):
    in_dir = _template_input(spark, tmp_path)
    local = run_streaming_templates(spark, in_dir, str(tmp_path / "out"))
    uri = run_streaming_templates(
        spark, in_dir, "file://" + str(tmp_path / "out_uri")
    )
    assert uri.schema == local.schema
    got = sorted(uri.collect())
    assert got == sorted(local.collect())
    assert len(got) == 3


def test_empty_source_gives_typed_empty_results(spark, tmp_path):
    in_dir = tmp_path / "in"
    in_dir.mkdir()
    tmpl = run_streaming_templates(
        spark, str(in_dir), str(tmp_path / "out_tmpl")
    )
    assert tmpl.count() == 0
    assert tmpl.schema.simpleString() == (
        "struct<template:string,n_msgs:bigint,n_convs:bigint,"
        "example:string,first_batch:bigint>"
    )
    agg = run_agg_maintenance(spark, str(in_dir), str(tmp_path / "out_agg"))
    assert agg.count() == 0
    assert agg.schema.simpleString() == (
        "struct<severity:string,window_start:timestamp,cnt:bigint>"
    )
