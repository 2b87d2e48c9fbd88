"""Traced run: the production job's layers, timed from outside.

  python3 perfbench/layers.py <request.json> <result.json>

Runs in a fresh process (started by run.py --trace 1), on the
workload's corpus generated at half the untraced size, so that the run
ends within 180 s on a busy host. Nothing inside the package is
instrumented. A layer's self time is the time to force the cumulative
prefix of public layer functions up to and including it (aggregated to
one row with bit_xor(xxhash64(all columns))) minus the time to force
the prefix before it. Engine counters (shuffle bytes,
spill, peak memory, rows, broadcast size) are read from the executed
plan of each forced query, down through the AQE query stages.

Order inside the process:
  1. session start, then one untimed forcing of the scan (the SQL
     engine's class loading);
  2. the prefix chain scan -> exchange -> timestamps -> grok -> ffill
     -> enrich -> route, and the pandas grok path; the route prefix's
     per-sink rows are checked against the DuckDB twin, and its rows
     against those of plans.pipeline.full_pipeline (step 3);
  3. the sink append of the live plan and of a persisted copy, then the
     job's post-write steps over what was appended; every appended row
     is checked against the DuckDB twin;
  4. the dashboard read-backs over those sinks;
  5. the workload's production batch, warm (job.s, the job's
     self-reported wall time, trace.coverage);
  6. the incremental state (workloads.incremental_states, read only):
     checkpoint read and anti-join against the first batch's manifest,
     and the second batch's post-write scan over the sink history;
  7. streaming.follow.run_follow fed files of whole conversations on a
     fixed schedule (open loop);
  8. the whole compute plan forced at local[1], against step 2's
     route prefix at local[<cores>].
Spans are kept in memory and returned once, at the end.
"""

from __future__ import annotations

import time

_T_PROCESS = time.monotonic()

import contextlib  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402
import threading  # noqa: E402

import pyarrow.parquet as pq  # noqa: E402

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

import verify  # noqa: E402
import workloads  # noqa: E402
from batch import run_job, start_session  # noqa: E402

# plans/job.py's --batch-ts and --ref-year defaults
BATCH_TS = "2024-01-01 00:00:00"
REF_YEAR = 2024
REASONS = ("no_metadata", "preamble", "debug", "empty_message")


def batch_id(batch_ts: str) -> str:
    """plans/job.py's batch_id for a --batch-ts value."""
    return batch_ts.replace(" ", "T").replace(":", "-")
# follow: files of whole conversations dropped every FOLLOW_INTERVAL_S
# by a single-threaded open-loop generator, as a finished build lands:
# all of them before the first trigger fires, so one micro-batch (whose
# cold start dominates on a 4-core host) drains them
FOLLOW_FILES = 3
FOLLOW_TURNS_PER_FILE = 1_000
FOLLOW_INTERVAL_S = 0.25
FOLLOW_TRIGGER = "2 seconds"
FOLLOW_DRAIN_TIMEOUT_S = 20.0


def _layer_units() -> dict[str, str]:
    from ci_log_processing_spark.operators.route import SINKS

    u = {
        "session.start_s": "s",
        # peak RSS of the traced process tree (driver, JVM, Python
        # workers), sampled from outside by run.py
        "memory.peak_rss_mb": "MB",
        "sources.scan_s": "s", "sources.rows": "count",
        "checkpoint.read_s": "s", "checkpoint.antijoin_s": "s",
        "checkpoint.skipped_convs": "count", "checkpoint.write_s": "s",
        "skew.exchange_s": "s", "skew.shuffle_bytes": "B",
        "skew.partition_rows_max_over_median": "ratio",
        "timestamps.cascade_s": "s", "timestamps.unparsed_rows": "count",
        "grok.fields_s": "s", "grok.pandas_udf_s": "s",
        "ffill.window_s": "s", "ffill.peak_memory_bytes": "B",
        "ffill.spill_bytes": "B", "ffill.max_task_rows": "count",
        "enrich.s": "s", "enrich.broadcast_bytes": "B",
        "route.s": "s",
        "sinks.append_s": "s", "sinks.append_cached_s": "s",
        "sinks.recompute_s": "s", "sinks.files": "count",
        "sinks.write_shuffle_bytes": "B", "sinks.bytes_per_row": "B/row",
        "aggregate.hourly_s": "s", "aggregate.lineage_s": "s",
        "aggregate.sink_counts_s": "s",
        "post_write.history_rows_scanned": "count",
        "query.s": "s",
        "job.s": "s", "job.self_reported_wall_s": "s", "job.unreported_s": "s",
        "follow.batches": "count", "follow.batch_s": "s",
        "follow.rows_per_batch": "count", "follow.gen_lag_s": "s",
        "follow.backlog_files": "count", "follow.latency_p50_s": "s",
        "follow.latency_p90_s": "s",
        "trace.coverage": "ratio",
        "engine.local1_over_local4": "ratio",
    }
    for s in SINKS:
        u[f"route.rows.{s}"] = "count"
    for r in REASONS:
        u[f"route.drop_reason.{r}"] = "count"
    return u


LAYER_UNITS = _layer_units()


# -- executed-plan metrics ------------------------------------------------

def plan_metrics(df, *wanted: tuple[str, str]) -> list[int]:
    """For each (node name prefix, SQL metric) in `wanted`, the metric's
    sum over the nodes of df's executed plan whose name starts with the
    prefix, descending into the final AQE plan and through shuffle and
    broadcast query stages. One walk of the plan; call after an action
    on df."""
    conv = df.sparkSession._jvm.scala.jdk.javaapi.CollectionConverters
    todo, totals = [df._jdf.queryExecution().executedPlan()], [0] * len(wanted)
    while todo:
        node = todo.pop()
        name = node.nodeName()
        if name.startswith("AdaptiveSparkPlan"):
            todo.append(node.executedPlan())
            continue
        if name.endswith("QueryStage"):  # shuffle, broadcast, cache stages
            todo.append(node.plan())
            continue
        for i, (prefix, metric) in enumerate(wanted):
            if name.startswith(prefix):
                value = node.metrics().get(metric)
                if value.isDefined():
                    totals[i] += value.get().value()
        todo.extend(conv.asJava(node.children()))
    return totals


# -- the run --------------------------------------------------------------

class Trace:
    def __init__(self, req: dict):
        self.req = req
        self.corpus = req["corpus"]
        self.scratch = req["scratch"]
        self.master = req["master"]
        self.metrics: dict[str, float] = {}
        self.spans: list[dict] = []
        self.problems: list[str] = []
        self.run_id = f"{req['workload']}-s{req['seed']}-{os.getpid()}"
        self.spark = None
        self._open: list[str] = []
        # set by compute_chain: the route prefix's time, columns and
        # (xor of row hashes, rows), and full_pipeline's routed plan
        self.route_s = 0.0
        self.route_cols: list[str] = []
        self.route_digest = None
        self.routed = None

    @contextlib.contextmanager
    def span(self, name: str):
        """Record (run, name, enclosing span, start, end), seconds since
        process start."""
        parent = self._open[-1] if self._open else None
        self._open.append(name)
        t0 = time.monotonic()
        try:
            yield
        finally:
            self._open.pop()
            self.spans.append({
                "run": self.run_id, "name": name, "parent": parent,
                "start": t0 - _T_PROCESS, "end": time.monotonic() - _T_PROCESS,
            })

    def timed(self, name: str, fn):
        """Run fn() inside a span; returns (seconds, fn's value)."""
        t = time.perf_counter()
        with self.span(name):
            value = fn()
        return time.perf_counter() - t, value

    def force(self, name: str, df, *extra):
        """Force df to one row (xor of row hashes, row count, extras);
        returns (seconds, row, the executed aggregate for plan_metrics)."""
        from pyspark.sql import functions as F

        agg = df.agg(
            F.bit_xor(F.xxhash64(*[F.col(c) for c in df.columns])).alias("_h"),
            F.count(F.lit(1)).alias("_n"),
            *extra,
        )
        dt, row = self.timed(name, lambda: agg.collect()[0])
        return dt, row, agg

    def start(self, master: str | None = None):
        self.spark = start_session(self.scratch, master or self.master)
        return self.spark

    def job(self, out_dir: str, *args: str):
        self.start()
        dt, summary, _ = run_job(self.corpus, out_dir, self.scratch, self.master, *args)
        self.spark = None  # job.main stops the session
        return dt, summary

    def check(self, what: str, problems: list[str]):
        self.problems.extend(f"{what}: {p}" for p in problems)

    # 5. the production batch ----------------------------------------------
    def production_batch(self):
        write = self.req["write"]
        out = os.path.join(self.scratch, "job_out")
        with self.span("job"):
            job_s, summary = self.job(out, *(() if write else ("--no-write",)))
        self.metrics["job.s"] = job_s
        self.metrics["job.self_reported_wall_s"] = summary["wall_sec"]
        self.metrics["job.unreported_s"] = job_s - summary["wall_sec"]
        self.check(
            "job",
            verify.check_job_output(out, self.corpus)
            if write
            else verify.check_sink_counts(summary, self.corpus),
        )
        shutil.rmtree(out, ignore_errors=True)

    # 1-2. compute prefix chain ---------------------------------------------
    def compute_chain(self) -> dict[str, float]:
        from pyspark.sql import functions as F

        from ci_log_processing_spark.functions.timestamps import ts_cascade_col
        from ci_log_processing_spark.operators.checkpoint import filter_unprocessed
        from ci_log_processing_spark.operators.enrich import with_enrichment
        from ci_log_processing_spark.operators.ffill import (
            with_filled_ts,
            with_prior_ts_count,
        )
        from ci_log_processing_spark.operators.route import SINKS, with_sink
        from ci_log_processing_spark.operators.skew import repartition_by_conv
        from ci_log_processing_spark.plans.pipeline import (
            full_pipeline,
            parse_transcripts,
        )

        spark, m = self.spark, self.metrics
        tdir = os.path.join(self.corpus, "transcripts")
        meta = spark.read.parquet(os.path.join(self.corpus, "conv_meta.parquet"))

        selfs = {}
        p_scan = spark.read.parquet(tdir)
        # the first query of a fresh JVM loads the SQL engine's classes;
        # that is start-up cost, not the scan's
        with self.span("warmup"):
            self.force("warmup.scan", p_scan)
        t_scan, row, _ = self.force("sources.scan", p_scan)
        m["sources.rows"] = row["_n"]
        selfs["sources.scan_s"] = t_scan
        # an empty manifest, as in a fresh output directory
        t_ck, (p_src, _) = self.timed(
            "checkpoint.read_empty",
            lambda: filter_unprocessed(
                spark, p_scan, os.path.join(self.scratch, "no_checkpoint")
            ),
        )
        selfs["checkpoint.read_empty_s"] = t_ck

        # forced per shuffle partition: the same work, and the rows each
        # partition (and so each window task) holds
        p_exch = repartition_by_conv(p_src, spark)
        part = p_exch.groupBy(F.spark_partition_id().alias("_p")).agg(
            F.bit_xor(F.xxhash64(*[F.col(c) for c in p_exch.columns])).alias("_h"),
            F.count(F.lit(1)).alias("_n"),
        )
        t_exch, rows = self.timed("skew.exchange", part.collect)
        selfs["skew.exchange_s"] = t_exch - t_scan
        (m["skew.shuffle_bytes"],) = plan_metrics(part, ("Exchange", "shuffleBytesWritten"))
        part_rows = sorted(r["_n"] for r in rows)
        m["skew.partition_rows_max_over_median"] = part_rows[-1] / statistics.median(part_rows)
        # the window runs on this same partitioning (one task each)
        m["ffill.max_task_rows"] = part_rows[-1]

        p_ts = p_exch.withColumn("event_ts", ts_cascade_col(F.col("text"), REF_YEAR))
        t_ts, row, _ = self.force(
            "timestamps.cascade", p_ts,
            F.count_if(F.col("event_ts").isNull()).alias("unparsed"),
        )
        selfs["timestamps.cascade_s"] = t_ts - t_exch
        m["timestamps.unparsed_rows"] = row["unparsed"]

        p_parse = parse_transcripts(p_exch, ref_year=REF_YEAR)
        t_parse, _, _ = self.force("grok.fields", p_parse)
        selfs["grok.fields_s"] = t_parse - t_ts
        t_pandas, _, _ = self.force(
            "grok.pandas_udf", parse_transcripts(p_exch, ref_year=REF_YEAR, impl="pandas")
        )
        m["grok.pandas_udf_s"] = t_pandas - t_exch

        p_win = with_prior_ts_count(with_filled_ts(p_parse, BATCH_TS))
        t_win, _, done = self.force("ffill.window", p_win)
        selfs["ffill.window_s"] = t_win - t_parse
        peak, sort_spill, window_spill = plan_metrics(
            done, ("Sort", "peakMemory"), ("Sort", "spillSize"), ("Window", "spillSize")
        )
        m["ffill.peak_memory_bytes"] = peak
        m["ffill.spill_bytes"] = sort_spill + window_spill

        # enrichment, then the conv-metadata presence join, as full_pipeline
        present = meta.select("conv_id").distinct().withColumn("_has_meta", F.lit(True))
        p_enr = with_enrichment(p_win, spark).join(F.broadcast(present), "conv_id", "left")
        t_enr, _, done = self.force("enrich", p_enr)
        selfs["enrich.s"] = t_enr - t_win
        (m["enrich.broadcast_bytes"],) = plan_metrics(done, ("BroadcastExchange", "dataSize"))

        p_route = with_sink(
            p_enr, skip_debug=True,
            has_metadata=F.coalesce(F.col("_has_meta"), F.lit(False)),
        ).drop("_has_meta")
        t_route, row, _ = self.force(
            "route", p_route,
            *[F.count_if(F.col("sink") == s).alias(f"s_{s}") for s in SINKS],
            *[F.count_if(F.col("drop_reason") == r).alias(f"r_{r}") for r in REASONS],
        )
        selfs["route.s"] = t_route - t_enr
        for s in SINKS:
            m[f"route.rows.{s}"] = row[f"s_{s}"]
        for r in REASONS:
            m[f"route.drop_reason.{r}"] = row[f"r_{r}"]
        self.check(
            "route prefix",
            verify.check_sink_counts(
                {"sinks": {s: m[f"route.rows.{s}"] for s in SINKS}, "rows": row["_n"]},
                self.corpus,
            ),
        )
        self.route_s = t_route
        self.route_cols = p_route.columns
        self.route_digest = (row["_h"], row["_n"])
        self.routed = full_pipeline(p_src, spark, meta=meta)
        return selfs

    # 3. sinks and post-write ---------------------------------------------
    def sinks_and_post_write(self) -> dict[str, float]:
        from pyspark.sql import functions as F

        from ci_log_processing_spark.operators.aggregate import hourly_agg, sink_counts
        from ci_log_processing_spark.operators.checkpoint import write_checkpoint
        from ci_log_processing_spark.sinks import ParquetDirSink

        spark, m = self.spark, self.metrics
        this_batch = batch_id(BATCH_TS)

        def write_frame(routed):
            # plans/job.py's write frame and its default
            # (repartition) write strategy
            return (
                routed.withColumn("src_partition", F.spark_partition_id())
                .withColumn("batch_id", F.lit(this_batch))
                .withColumn("event_date", F.to_date("filled_ts"))
                .drop("text", "ts", "prior_ts_count")
                .repartition(F.col("sink"), F.col("event_date"))
            )

        out = os.path.join(self.scratch, "trace_out")
        sinks_dir = os.path.join(out, "sinks")
        t_app, _ = self.timed(
            "sinks.append", lambda: ParquetDirSink(sinks_dir).append(write_frame(self.routed))
        )
        m["sinks.append_s"] = t_app
        cached = self.routed.persist()
        try:
            # the prefix chain timed above must be the plan the job runs:
            # full_pipeline's rows hash to the route prefix's. This also
            # fills the cache, before the cached append is timed
            if cached.columns != self.route_cols:
                self.check("route prefix", [
                    f"columns {self.route_cols} differ from full_pipeline's "
                    f"{cached.columns}"
                ])
            else:
                _, row, _ = self.force("route.check", cached)
                if (row["_h"], row["_n"]) != self.route_digest:
                    self.check("route prefix", [
                        f"rows (hash, count) {self.route_digest} differ from "
                        f"full_pipeline's {(row['_h'], row['_n'])}"
                    ])
            _, _, done = self.force("sinks.write_exchange", write_frame(cached))
            (m["sinks.write_shuffle_bytes"],) = plan_metrics(
                done, ("Exchange", "shuffleBytesWritten")
            )
            t_cached, _ = self.timed(
                "sinks.append_cached",
                lambda: ParquetDirSink(os.path.join(self.scratch, "cached_sinks")).append(
                    write_frame(cached)
                ),
            )
        finally:
            cached.unpersist()
        m["sinks.append_cached_s"] = t_cached
        m["sinks.recompute_s"] = t_app - t_cached
        files = [
            os.path.join(d, f)
            for d, _, fs in os.walk(sinks_dir)
            for f in fs
            if f.endswith(".parquet")
        ]
        m["sinks.files"] = len(files)
        m["sinks.bytes_per_row"] = sum(os.path.getsize(f) for f in files) / m["sources.rows"]

        written = spark.read.parquet(sinks_dir).filter(F.col("batch_id") == this_batch)
        t_h, _ = self.timed(
            "aggregate.hourly",
            lambda: hourly_agg(written).withColumn("batch_id", F.lit(this_batch))
            .write.mode("append").parquet(os.path.join(out, "agg_hourly")),
        )
        t_l, _ = self.timed(
            "aggregate.lineage",
            lambda: written.groupBy("src_partition", "sink")
            .agg(F.count(F.lit(1)).alias("rows"), F.countDistinct("conv_id").alias("convs"))
            .withColumn("batch_id", F.lit(this_batch))
            .write.mode("append").parquet(os.path.join(out, "metrics")),
        )
        t_c, _ = self.timed(
            "checkpoint.write",
            lambda: write_checkpoint(written, os.path.join(out, "checkpoint")),
        )
        t_s, _ = self.timed("aggregate.sink_counts", lambda: sink_counts(written).collect())
        m["aggregate.hourly_s"] = t_h
        m["aggregate.lineage_s"] = t_l
        m["checkpoint.write_s"] = t_c
        m["aggregate.sink_counts_s"] = t_s
        self.check("traced sinks", verify.check_job_output(out, self.corpus))

        # 4. dashboard read-backs over the written sinks: the busiest
        # date's errors per hour, tool_calls by category, and the turns
        # of the largest conversation in order
        day, conv = verify.dashboard_keys(self.corpus)

        def queries():
            sinks = spark.read.parquet(sinks_dir)
            agg = spark.read.parquet(os.path.join(out, "agg_hourly"))
            agg.filter((F.col("sink") == "errors") & (F.to_date("window_start") == day)) \
                .groupBy("window_start").agg(F.sum("cnt")).orderBy("window_start").collect()
            sinks.filter(F.col("sink") == "tool_calls").groupBy("category").count().collect()
            sinks.filter(F.col("conv_id") == conv).orderBy("turn_idx").collect()

        m["query.s"], _ = self.timed("query", queries)
        shutil.rmtree(out, ignore_errors=True)
        shutil.rmtree(os.path.join(self.scratch, "cached_sinks"), ignore_errors=True)
        return {
            "sinks.self_s": t_app - self.route_s,
            "aggregate.hourly_s": t_h, "aggregate.lineage_s": t_l,
            "checkpoint.write_s": t_c, "aggregate.sink_counts_s": t_s,
        }

    # 6. incremental state ------------------------------------------------
    def incremental(self):
        from pyspark.sql import functions as F

        from ci_log_processing_spark.operators.checkpoint import filter_unprocessed

        m = self.metrics
        corpus = self.req["incremental_corpus"]
        first, second = workloads.incremental_states(corpus)
        spark = self.start()
        scan = spark.read.parquet(os.path.join(corpus, "transcripts"))
        t_scan, _, _ = self.force("incremental.scan", scan)
        t_read, (remaining, skipped) = self.timed(
            "checkpoint.read",
            lambda: filter_unprocessed(spark, scan, os.path.join(first, "checkpoint")),
        )
        t_anti, _, _ = self.force("checkpoint.antijoin", remaining)
        m["checkpoint.read_s"] = t_read
        m["checkpoint.skipped_convs"] = skipped
        m["checkpoint.antijoin_s"] = t_anti - t_scan
        # what the second batch's post-write phase reads to find its
        # rows among the whole sink history
        written = spark.read.parquet(os.path.join(second, "sinks")).filter(
            F.col("batch_id") == batch_id(workloads.NEXT_BATCH_TS)
        )
        _, _, done = self.force("post_write.scan", written)
        (m["post_write.history_rows_scanned"],) = plan_metrics(done, ("Scan", "numOutputRows"))

    # 7. follow -----------------------------------------------------------
    def follow(self):
        from ci_log_processing_spark.streaming.follow import run_follow

        m = self.metrics
        src = self.req["follow_corpus"]
        files = sorted(
            f for f in os.listdir(os.path.join(src, "transcripts")) if f.endswith(".parquet")
        )
        stream_in = os.path.join(self.scratch, "follow_in")
        out = os.path.join(self.scratch, "follow_out")
        os.makedirs(stream_in)
        spark = self.start()
        meta = spark.read.parquet(os.path.join(src, "conv_meta.parquet"))
        q = run_follow(spark, stream_in, out, processing_time=FOLLOW_TRIGGER, meta=meta)
        due, written = {}, {}

        def generate():
            t0 = time.monotonic() + FOLLOW_INTERVAL_S
            for i, f in enumerate(files):
                due[f] = t0 + i * FOLLOW_INTERVAL_S
                time.sleep(max(0.0, due[f] - time.monotonic()))
                tmp = os.path.join(stream_in, f".{f}.tmp")
                shutil.copy(os.path.join(src, "transcripts", f), tmp)
                os.rename(tmp, os.path.join(stream_in, f))
                written[f] = time.monotonic()

        gen = threading.Thread(target=generate)
        committed: dict[str, tuple[int, float]] = {}  # file -> (batch, seen at)

        def poll():
            now = time.monotonic()
            for f, batch in self._follow_commits(out).items():
                committed.setdefault(f, (batch, now))

        with self.span("follow"):
            # the query's first trigger finds no file; drop them after it
            started = time.monotonic()
            while not q.recentProgress and time.monotonic() - started < FOLLOW_DRAIN_TIMEOUT_S:
                time.sleep(0.05)
            gen.start()
            drained_by = None
            while True:
                poll()
                if not gen.is_alive():
                    now = time.monotonic()
                    drained_by = drained_by or now + FOLLOW_DRAIN_TIMEOUT_S
                    if len(committed) == len(files) or now > drained_by + FOLLOW_DRAIN_TIMEOUT_S:
                        break
                    # past the drain time, stop between micro-batches:
                    # stopping interrupts a batch's writes
                    if now > drained_by and not q.status["isTriggerActive"]:
                        break
                time.sleep(0.05)
            gen.join()
            # the progress of the last micro-batch is posted after its commit
            settle = time.monotonic() + 5
            while time.monotonic() < settle and sum(
                p["numInputRows"] > 0 for p in q.recentProgress
            ) < len({b for b, _ in committed.values()}):
                time.sleep(0.05)
            progress = q.recentProgress
            q.stop()
            poll()
        batch_rows: dict[int, int] = {}
        for f, (batch, _) in committed.items():
            rows = pq.read_metadata(os.path.join(src, "transcripts", f)).num_rows
            batch_rows[batch] = batch_rows.get(batch, 0) + rows
        busy = [p for p in progress if p["numInputRows"] > 0]
        lat = sorted(t - due[f] for f, (_, t) in committed.items())
        m["follow.batches"] = len(batch_rows)
        m["follow.batch_s"] = statistics.median(
            p["durationMs"]["triggerExecution"] / 1000 for p in busy
        ) if busy else 0.0
        m["follow.rows_per_batch"] = (
            statistics.median(batch_rows.values()) if batch_rows else 0
        )
        m["follow.gen_lag_s"] = max(written[f] - due[f] for f in written)
        m["follow.backlog_files"] = len(files) - len(committed)
        if lat:
            m["follow.latency_p50_s"] = statistics.median(lat)
            m["follow.latency_p90_s"] = (
                statistics.quantiles(lat, n=10)[-1] if len(lat) > 1 else lat[0]
            )
        # files still queued at the end are backlog, not failures; the
        # committed ones must each hold every conversation exactly once
        committed_paths = [os.path.join(src, "transcripts", f) for f in sorted(committed)]
        self.check("follow", verify.check_follow_output(out, src, committed_paths))

    @staticmethod
    def _follow_commits(out: str) -> dict[str, int]:
        """file name -> the micro-batch that read it, for committed
        micro-batches only; read from the stream's checkpoint (the file
        source's log and the commits log), from outside the query."""
        commits = os.path.join(out, "_stream_ckpt", "commits")
        srclog = os.path.join(out, "_stream_ckpt", "sources", "0")
        seen = {}
        if not os.path.isdir(commits) or not os.path.isdir(srclog):
            return seen
        done = {int(b) for b in os.listdir(commits) if b.isdigit()}
        for name in os.listdir(srclog):
            if not name.split(".")[0].isdigit():
                continue
            with open(os.path.join(srclog, name)) as f:
                for line in f:
                    if not line.startswith("{"):
                        continue
                    entry = json.loads(line)
                    if entry["batchId"] in done:
                        seen[os.path.basename(entry["path"])] = entry["batchId"]
        return seen

    # 8. engine scaling ---------------------------------------------------
    def engine(self):
        from ci_log_processing_spark.plans.pipeline import full_pipeline

        spark = self.start("local[1]")
        meta = spark.read.parquet(os.path.join(self.corpus, "conv_meta.parquet"))
        routed = full_pipeline(
            spark.read.parquet(os.path.join(self.corpus, "transcripts")), spark, meta=meta
        )
        t1, _, _ = self.force("engine.local1", routed)
        self.metrics["engine.local1_over_local4"] = t1 / self.route_s
        spark.stop()


def main(request_path: str, result_path: str) -> int:
    with open(request_path) as f:
        req = json.load(f)
    tr = Trace(req)
    tr.start()
    tr.metrics["session.start_s"] = time.monotonic() - _T_PROCESS
    with tr.span("layers"):
        compute = tr.compute_chain()
    with tr.span("sinks_and_post_write"):
        write = tr.sinks_and_post_write()
    for k, v in {**compute, **write}.items():
        if k in LAYER_UNITS:
            tr.metrics[k] = v
    tr.production_batch()
    # the layers the batch ran: a --no-write batch stops after route
    # (and counts rows per sink)
    covered = sum(compute.values()) + (sum(write.values()) if req["write"] else 0)
    tr.metrics["trace.coverage"] = covered / tr.metrics["job.s"]
    with tr.span("incremental"):
        tr.incremental()
    tr.follow()
    tr.spark.stop()
    with tr.span("engine"):
        tr.engine()
    with open(result_path, "w") as f:
        json.dump(
            {"metrics": tr.metrics, "spans": tr.spans,
             "problems": tr.problems},
            f,
        )
    return 0


if __name__ == "__main__":
    sys.exit(main(*sys.argv[1:3]))
