#!/usr/bin/env python
"""Benchmark harness — prints ONE JSON line:
  {"metric": ..., "value": <total sec>, "unit": "sec",
   "queries": {name: sec, ...}, "sf": ..., ...extras}

Env: SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1),
     SPARK_GRAFT_CPUS  (default 32).

Each query is forced with a checksum aggregate over every computed
column (a bare count() would let Catalyst prune the parse work away
and flatter us).
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from pyspark.sql import functions as F  # noqa: E402

from ci_log_processing_spark.operators.dedup import (  # noqa: E402
    release_persisted,
)
from ci_log_processing_spark.session import get_spark  # noqa: E402


def checksum(df, cols):
    # bit_xor, not sum: summing xxhash64 values overflows long and
    # raises under the strict-ANSI session default
    return df.select(
        F.bit_xor(F.xxhash64(*[F.col(c) for c in cols])).alias("chk")
    ).collect()[0]["chk"]


def main():
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    spark = get_spark(
        app_name="bench", master=f"local[{cpus}]", shuffle_partitions=cpus
    )

    from ci_log_processing_spark.plans.pipeline import full_pipeline
    from ci_log_processing_spark.operators.aggregate import hourly_agg
    from ci_log_processing_spark.operators.dedup import minhash_lsh_pairs
    from ci_log_processing_spark.operators.similarity import (
        brute_force_topk,
        ivfpq_ann_topk,
        pq_ann_topk,
    )
    from ci_log_processing_spark.operators.textstats import quality_scores
    from ci_log_processing_spark.sources.corpus import load_corpus
    from ci_log_processing_spark.sources.transcripts import load_transcripts

    transcripts = load_transcripts(spark, sf_dir)
    from ci_log_processing_spark.sources.derived import conv_meta_sql

    meta = spark.sql(conv_meta_sql("spark", "events"))
    n_turns = transcripts.count()  # warms the events scan
    corpus = load_corpus(spark, sf_dir)
    emb = spark.read.parquet(os.path.join(sf_dir, "embeddings.parquet"))

    timings: dict[str, float] = {}
    cold: dict[str, float] = {}
    extras: dict = {}

    def bench(name, fn):
        # First run pays one-time JVM codegen/JIT compile (~2-4 s at
        # this tiny SF, amortized to zero over a 100 TB job); report
        # steady-state as the headline and keep cold in extras.
        t0 = time.time()
        fn()
        cold[name] = round(time.time() - t0, 3)
        t0 = time.time()
        fn()
        timings[name] = round(time.time() - t0, 3)
        # several dedup operators persist() intermediates referenced
        # by their returned plan; drop them (and clear the persist
        # registry) so later queries are not timed under accumulated
        # cache pressure
        release_persisted()
        spark.catalog.clearCache()

    routed_cols = ["conv_id", "turn_idx", "sink", "message", "filled_ts"]

    bench(
        "pipeline_native",
        lambda: checksum(
            full_pipeline(transcripts, spark, meta=meta), routed_cols
        ),
    )
    extras["pipeline_native_turns_per_sec"] = round(
        n_turns / timings["pipeline_native"], 1
    )
    bench(
        "pipeline_pandas_udf",
        lambda: checksum(
            full_pipeline(transcripts, spark, impl="pandas", meta=meta),
            routed_cols,
        ),
    )
    extras["pipeline_pandas_turns_per_sec"] = round(
        n_turns / timings["pipeline_pandas_udf"], 1
    )
    bench(
        "agg_hourly",
        lambda: checksum(
            hourly_agg(full_pipeline(transcripts, spark)),
            ["sink", "severity", "window_start", "cnt"],
        ),
    )
    bench(
        "dedup_minhash_lsh",
        lambda: minhash_lsh_pairs(corpus, spark, threshold=0.6).count(),
    )
    bench(
        "ann_brute_force_topk",
        lambda: brute_force_topk(
            emb, emb.filter(F.col("vec_id") < 16), k=10
        ).count(),
    )
    bench(
        "ann_pq_rerank",
        lambda: pq_ann_topk(
            emb,
            emb.filter(F.col("vec_id") < 16),
            m=4,
            k_codes=8,
            n_iter=2,
            k=10,
            rerank=50,
        ).count(),
    )
    # ANN fitness is recall vs the exact answer at a fixed probe
    # budget, not just determinism — measure recall@10 for the
    # bucketed (nprobe=1 by construction) and IVF (nprobe=2,4)
    # variants against brute force over the same 16 queries
    from ci_log_processing_spark.operators.similarity import (
        bucketed_ann_topk,
        ivf_multiprobe_topk,
    )

    ann_q = emb.filter(F.col("vec_id") < 16)
    truth = (
        brute_force_topk(emb, ann_q, k=10)
        .select("query_id", "neighbor_id")
        .persist()
    )
    n_truth = truth.count()

    def _recall(approx) -> float:
        hit = approx.select("query_id", "neighbor_id").join(
            truth, ["query_id", "neighbor_id"]
        )
        return round(hit.count() / n_truth, 4)

    extras["ann_recall_at_10"] = {
        "bucketed_1probe": _recall(bucketed_ann_topk(emb, ann_q, k=10)),
        "ivf_nprobe2": _recall(
            ivf_multiprobe_topk(emb, ann_q, k=10, nprobe=2)
        ),
        "ivf_nprobe4": _recall(
            ivf_multiprobe_topk(emb, ann_q, k=10, nprobe=4)
        ),
        # extend the probe curve to where recall is production-usable
        # — the cost dial is probed-fraction-of-corpus per query, so
        # the (nprobe, recall) pairs ARE the operating curve
        "ivf_nprobe8": _recall(
            ivf_multiprobe_topk(emb, ann_q, k=10, nprobe=8)
        ),
        "ivf_nprobe16": _recall(
            ivf_multiprobe_topk(emb, ann_q, k=10, nprobe=16)
        ),
        # PQ quantization collapses fine ranking (many corpus rows
        # share a code tuple) so pure ADC sits near the cell-occupancy
        # floor; the exact re-rank of a 50-candidate ADC shortlist
        # (IVFADC+R) is the production recall — report both so the
        # probe/rerank trade is visible per round
        "pq_adc": _recall(
            pq_ann_topk(emb, ann_q, m=4, k_codes=8, n_iter=2, k=10)
        ),
        "pq_adc_rerank50": _recall(
            pq_ann_topk(
                emb, ann_q, m=4, k_codes=8, n_iter=2, k=10, rerank=50
            )
        ),
        # R is the recall dial: sf0.1's clusters hold ~200 vectors,
        # so R=200 covers a whole cluster while still being a
        # per-query constant (the re-rank cost is queries x R, not
        # corpus-sized)
        "pq_adc_rerank200": _recall(
            pq_ann_topk(
                emb, ann_q, m=4, k_codes=8, n_iter=2, k=10, rerank=200
            )
        ),
        "ivfpq_nprobe2_rerank50": _recall(
            ivfpq_ann_topk(
                emb, ann_q, k=10, nprobe=2, m=4, k_codes=8, n_iter=2,
                rerank=50,
            )
        ),
        "ivfpq_nprobe8_rerank200": _recall(
            ivfpq_ann_topk(
                emb, ann_q, k=10, nprobe=8, m=4, k_codes=8, n_iter=2,
                rerank=200,
            )
        ),
    }
    truth.unpersist()
    release_persisted()
    spark.catalog.clearCache()
    docs = spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))
    bench(
        "text_quality",
        lambda: checksum(quality_scores(docs), ["doc_id", "quality"]),
    )

    from ci_log_processing_spark.operators.curation import pack_sequences
    from ci_log_processing_spark.operators.dedup import (
        dedup_pair_edges,
        duplicate_components,
    )
    from ci_log_processing_spark.operators.pii import attach_pii, pii_scrub
    from ci_log_processing_spark.operators.textstats import (
        attach_lines,
        repetition_stats,
        repetition_stats_arrow,
    )

    bench(
        "text_pii_scrub",
        lambda: checksum(
            pii_scrub(attach_pii(docs)), ["doc_id", "n_pii", "redacted"]
        ),
    )
    bench(
        "text_repetition",
        lambda: checksum(
            repetition_stats(attach_lines(docs)),
            ["doc_id", "dup_line_frac", "top_bigram_frac"],
        ),
    )
    bench(
        "text_repetition_arrow",
        lambda: checksum(
            repetition_stats_arrow(attach_lines(docs)),
            ["doc_id", "dup_line_frac", "top_bigram_frac"],
        ),
    )
    bench(
        "cur_pack_sequences",
        lambda: checksum(
            pack_sequences(docs, capacity=256),
            ["source", "doc_id", "bin_idx", "offset_in_bin"],
        ),
    )

    def _components():
        pairs = dedup_pair_edges(corpus, spark, threshold=0.6)
        return duplicate_components(pairs, corpus.select("doc_id")).count()

    bench("dedup_components", _components)

    # round-3 additions: the as-of join (union + one keyed window over
    # |L|+|R| rows) and TF-IDF (corpus explode -> cached tf -> vocab
    # agg -> join -> doc-keyed top-k window)
    from ci_log_processing_spark.operators.asof import asof_join
    from ci_log_processing_spark.operators.textstats import tfidf_top_terms
    from ci_log_processing_spark.sources.derived import config_updates_sql

    cfg = spark.sql(config_updates_sql("spark", "events")).withColumnRenamed(
        "cfg_ts", "ts"
    )
    bench(
        "op_asof_join",
        lambda: checksum(
            asof_join(
                transcripts.select("conv_id", "turn_idx", "ts"),
                cfg,
                on=["conv_id"],
                value_cols=["cfg_state"],
                seq_col="cfg_seq",
            ).withColumn("cfg_state", F.coalesce("cfg_state", F.lit(""))),
            ["conv_id", "turn_idx", "cfg_state"],
        ),
    )
    bench(
        "text_tfidf",
        lambda: checksum(
            tfidf_top_terms(docs, k=3),
            ["doc_id", "term", "tf", "df_docs", "term_rank"],
        ),
    )
    bench(
        "text_tfidf_pruned",
        lambda: checksum(
            tfidf_top_terms(docs, k=3, max_df_frac=0.5),
            ["doc_id", "term", "tf", "df_docs", "term_rank"],
        ),
    )
    # quantify the Zipf-head prune: how many data-sized tf rows the
    # tf ⋈ df join loses when terms in >50% of docs are cut
    _terms = docs.select(
        "doc_id", F.explode(F.split(F.lower("text"), " ")).alias("term")
    ).filter(F.col("term") != "")
    _tf = _terms.groupBy("doc_id", "term").count()
    _n = docs.count()
    _hot = (
        _tf.groupBy("term")
        .agg(F.count(F.lit(1)).alias("df"))
        .filter(F.col("df") > 0.5 * _n)
        .select("term")
    )
    extras["tfidf_prune_join_rows"] = {
        "tf_rows_total": _tf.count(),
        "tf_rows_after_df_cut_0.5": _tf.join(
            F.broadcast(_hot), "term", "left_anti"
        ).count(),
    }
    release_persisted()
    spark.catalog.clearCache()

    # round-3 wave 2: corpus-wide line dedup, the distributed global
    # shuffle, and SemDeDup cluster dedup
    from ci_log_processing_spark.operators.curation import shuffle_index
    from ci_log_processing_spark.operators.similarity import (
        semantic_cluster_dedup,
    )
    from ci_log_processing_spark.operators.textstats import (
        attach_boilerplate,
        line_dedup,
    )

    bench(
        "text_line_dedup",
        lambda: checksum(
            line_dedup(attach_boilerplate(docs), min_count=3),
            ["doc_id", "n_lines", "n_kept", "clean_text"],
        ),
    )
    bench(
        "cur_shuffle_index",
        lambda: checksum(
            shuffle_index(docs, shard_size=1000),
            ["doc_id", "global_idx", "shard"],
        ),
    )
    bench(
        "dedup_semantic_cluster",
        lambda: checksum(
            semantic_cluster_dedup(emb, k=8, n_iter=2, threshold=0.30),
            ["vec_id", "bkt", "is_kept"],
        ),
    )

    # the 8-stage composed curation pipeline (clean -> quality ->
    # dedup -> model gate -> mixture -> cap -> pack -> shuffle)
    import __spark_entry__ as entrymod

    bench(
        "cur_full_curation_v3",
        lambda: checksum(
            entrymod.q_full_curation_v3(spark, sf_dir),
            ["source", "doc_id", "bin_idx", "global_idx", "shard"],
        ),
    )

    # round-4 additions: exact latency percentiles (value-histogram
    # shape), deterministic HLL distinct, the kNN graph (cluster-
    # blocked cosine top-k), and signature-estimated Jaccard pairs
    bench(
        "pipe_latency_pctl",
        lambda: checksum(
            entrymod.q_turn_latency(spark, sf_dir),
            ["sink", "n_calls", "p50_ms", "p95_ms", "p99_ms"],
        ),
    )
    # the bounded-state HDR sketch next to its exact twin, so the
    # artifact shows what the quantization buys in wall time
    bench(
        "pipe_latency_hdr",
        lambda: checksum(
            entrymod.q_latency_hdr(spark, sf_dir),
            ["sink", "n_gaps", "p50_ms_lb", "p95_ms_lb", "p99_ms_lb"],
        ),
    )
    bench(
        "pipe_hll_distinct",
        lambda: checksum(
            entrymod.q_hll_distinct(spark, sf_dir),
            ["sink", "hll_distinct", "exact_distinct"],
        ),
    )
    bench(
        "sim_knn_graph",
        lambda: checksum(
            entrymod.q_knn_graph(spark, sf_dir),
            ["vec_id", "nbr_id", "rank", "cos_sim"],
        ),
    )
    bench(
        "dedup_minhash_estimate",
        lambda: checksum(
            entrymod.q_dedup_minhash_estimate(spark, sf_dir),
            ["doc_a", "doc_b", "n_equal", "est_jaccard"],
        ),
    )

    bench(
        "cur_full_curation_v4",
        lambda: checksum(
            entrymod.q_full_curation_v4(spark, sf_dir),
            ["source", "doc_id", "w", "priority", "w_hat"],
        ),
    )
    bench(
        "text_bigram_lm",
        lambda: checksum(
            entrymod.q_text_bigram(spark, sf_dir),
            ["doc_id", "bigram_bits", "n_bigrams", "n_backoff"],
        ),
    )
    bench(
        "text_nb_quality",
        lambda: checksum(
            entrymod.q_text_nb_quality(spark, sf_dir),
            ["doc_id", "label", "llr_bits", "score_bits", "predicted"],
        ),
    )
    bench(
        "cur_leakage_split",
        lambda: checksum(
            entrymod.q_leakage_split(spark, sf_dir),
            ["doc_id", "source", "split"],
        ),
    )
    bench(
        "cur_dsir_sample",
        lambda: checksum(
            entrymod.q_dsir_sample(spark, sf_dir),
            ["doc_id", "n_pairs", "dsir_bits", "bits_per_pair"],
        ),
    )
    bench(
        "cur_decontaminate_spans",
        lambda: checksum(
            entrymod.q_decontaminate_spans(spark, sf_dir),
            ["doc_id", "n_spans", "n_tokens_removed", "clean_text"],
        ),
    )
    bench(
        "cur_full_curation_v5",
        lambda: checksum(
            entrymod.q_full_curation_v5(spark, sf_dir),
            ["doc_id", "dsir_bits", "global_idx", "shard"],
        ),
    )
    # late round-4: BPE tokenizer training (vocabulary-sized merge
    # loop after one corpus pass) and tool-graph PageRank (edge
    # extraction is the corpus-sized part)
    bench(
        "text_bpe_train",
        lambda: checksum(
            entrymod.q_bpe_token_counts(spark, sf_dir),
            ["doc_id", "n_bpe_tokens"],
        ),
    )
    bench(
        "text_bpe_encode_arrow",
        lambda: checksum(
            entrymod.q_bpe_token_counts_arrow(spark, sf_dir),
            ["doc_id", "n_bpe_tokens"],
        ),
    )
    bench(
        "pipe_tool_pagerank",
        lambda: checksum(
            entrymod.q_tool_pagerank(spark, sf_dir),
            ["tool", "pagerank_scaled"],
        ),
    )
    bench(
        "pipe_preference_pairs",
        lambda: checksum(
            entrymod.q_preference_pairs(spark, sf_dir),
            ["conv_id", "rejected_idx", "chosen_idx", "gap_turns"],
        ),
    )
    # session-resume round-4 additions: lexical retrieval (persisted
    # tf shared by df + candidate join) and the winnowed-fingerprint
    # index (the let-bound Catalyst fold — see winnow_fingerprints)
    bench(
        "ret_bm25_topk",
        lambda: checksum(
            entrymod.q_bm25_topk(spark, sf_dir),
            ["qid", "doc_id", "n_terms", "score_milli", "rank"],
        ),
    )
    bench(
        "dedup_winnow_pairs",
        lambda: checksum(
            entrymod.q_winnow_pairs(spark, sf_dir),
            ["doc_a", "doc_b", "n_shared", "overlap_milli"],
        ),
    )
    # late round-4 additions: template mining (one codegen regex pass
    # + template-keyed agg), the Z-order skipping audit (2 scans, one
    # tiny exchange), and conversation-level dedup (conv-keyed agg +
    # fp-keyed window)
    bench(
        "pipe_log_templates",
        lambda: checksum(
            entrymod.q_log_templates(spark, sf_dir),
            ["template", "n_msgs", "n_convs"],
        ),
    )
    bench(
        "cur_zorder_audit",
        lambda: checksum(
            entrymod.q_zorder_audit(spark, sf_dir),
            ["layout", "bucket", "n_rows", "min_x", "max_y"],
        ),
    )
    bench(
        "pipe_conv_dedup",
        lambda: checksum(
            entrymod.q_conv_dedup(spark, sf_dir),
            ["conv_id", "fp", "n_copies", "keeper"],
        ),
    )
    bench(
        "cur_full_curation_v7",
        lambda: checksum(
            entrymod.q_full_curation_v7(spark, sf_dir),
            ["doc_id", "source", "n_tok", "cum_tok"],
        ),
    )
    # lakehouse write/read-dimension pair: CDC MERGE application
    # (delta-sized window + key anti-join) and the SCD2 interval
    # build (one key-keyed lead/row_number window)
    bench(
        "cur_apply_cdc",
        lambda: checksum(
            entrymod.q_apply_cdc(spark, sf_dir),
            ["doc_id", "source", "text"],
        ),
    )
    bench(
        "pipe_scd2_intervals",
        lambda: checksum(
            entrymod.q_scd2_intervals(spark, sf_dir),
            ["conv_id", "state", "valid_from", "version"],
        ),
    )
    # aggregates-as-state (incremental rollup merge), one-scan DQ
    # audit, and the pre-shuffle skew diagnostic
    bench(
        "pipe_agg_incremental",
        lambda: checksum(
            entrymod.q_agg_incremental(spark, sf_dir),
            ["sink", "severity", "subsystem", "window_start", "cnt"],
        ),
    )
    bench(
        "cur_dq_audit",
        lambda: checksum(
            entrymod.q_dq_audit(spark, sf_dir),
            ["check_name", "n_violations", "n_rows", "passed"],
        ),
    )
    bench(
        "pipe_skew_audit",
        lambda: checksum(
            entrymod.q_skew_audit(spark, sf_dir),
            ["key", "cnt", "share_milli", "rank"],
        ),
    )
    # lakehouse maintenance: time-travel prefix replay + the
    # manifest-sized compaction planner
    bench(
        "cur_snapshot_asof",
        lambda: checksum(
            entrymod.q_snapshot_asof(spark, sf_dir),
            ["doc_id", "source", "text"],
        ),
    )
    bench(
        "cur_compaction_plan",
        lambda: checksum(
            entrymod.q_compaction_plan(spark, sf_dir),
            ["part", "bin_idx", "n_files", "out_bytes"],
        ),
    )
    bench(
        "cur_column_profile",
        lambda: checksum(
            entrymod.q_column_profile(spark, sf_dir),
            ["column", "n_rows", "n_nulls", "n_distinct",
             "min_value", "max_value"],
        ),
    )
    # late-round-4 additions (kept OUT of the frozen R4 subset, like
    # the mid-round-3 joins before them — they enter R5_QUERIES)
    bench(
        "pipe_volume_trend",
        lambda: checksum(
            entrymod.q_volume_trend(spark, sf_dir),
            ["sink", "n_days", "first_day", "last_day", "total_rows",
             "slope_milli"],
        ),
    )
    bench(
        "cur_chat_lint",
        lambda: checksum(
            entrymod.q_chat_lint(spark, sf_dir),
            ["conv_id", "n_visible", "opens_role", "ends_role",
             "n_role_repeats", "n_tool_wo_assistant", "lint_ok"],
        ),
    )
    bench(
        "cur_stratified_split",
        lambda: checksum(
            entrymod.q_stratified_split(spark, sf_dir),
            ["doc_id", "source", "split"],
        ),
    )
    bench(
        "cur_length_batches",
        lambda: checksum(
            entrymod.q_length_batches(spark, sf_dir),
            ["source", "batch_id", "n_docs", "max_tokens",
             "min_tokens", "sum_tokens", "pad_waste_milli"],
        ),
    )
    bench(
        "text_skipgram_pairs",
        lambda: checksum(
            entrymod.q_skipgram_pairs(spark, sf_dir),
            ["tok_a", "tok_b", "n"],
        ),
    )
    bench(
        "ret_inverted_index",
        lambda: checksum(
            entrymod.q_inverted_index(spark, sf_dir),
            ["term", "df", "n_occurrences", "postings"],
        ),
    )
    bench(
        "dedup_count_cosine",
        lambda: checksum(
            entrymod.q_count_cosine_pairs(spark, sf_dir),
            ["doc_a", "doc_b", "dot", "norm_a2", "norm_b2"],
        ),
    )
    bench(
        "text_collocations",
        lambda: checksum(
            entrymod.q_collocations(spark, sf_dir),
            ["tok_a", "tok_b", "n_ab", "n_a", "n_b", "lift_milli"],
        ),
    )
    bench(
        "mm_ahash_pairs",
        lambda: checksum(
            entrymod.q_mm_ahash_pairs(spark, sf_dir),
            ["doc_a", "doc_b", "hamming"],
        ),
    )
    bench(
        "text_phrase_merge",
        lambda: checksum(
            entrymod.q_phrase_merge(spark, sf_dir),
            ["doc_id", "text", "n_phrases"],
        ),
    )
    bench(
        "ret_rrf_fusion",
        lambda: checksum(
            entrymod.q_rrf_fusion(spark, sf_dir),
            ["qid", "doc_id", "rrf_micro", "n_systems", "rank"],
        ),
    )
    bench(
        "cur_ks_drift",
        lambda: checksum(
            entrymod.q_ks_drift(spark, sf_dir),
            ["n_a", "n_b", "v_at_max", "d_milli"],
        ),
    )
    bench(
        "dedup_sorted_neighborhood",
        lambda: checksum(
            entrymod.q_sorted_neighborhood(spark, sf_dir),
            ["doc_a", "doc_b", "gap", "dist"],
        ),
    )
    bench(
        "cur_pack_bfd",
        lambda: checksum(
            entrymod.q_pack_bfd(spark, sf_dir),
            ["source", "doc_id", "n_tokens", "bin_idx",
             "offset_in_bin"],
        ),
    )
    bench(
        "text_bpe_fertility",
        lambda: checksum(
            entrymod.q_bpe_fertility(spark, sf_dir),
            ["source", "n_docs", "n_ws_tokens", "n_bpe_tokens",
             "fertility_milli", "chars_per_token_milli"],
        ),
    )
    bench(
        "stream_ewma_alerts",
        lambda: checksum(
            entrymod.q_stream_ewma(spark, sf_dir),
            ["severity", "window_start", "cnt", "ewma_milli",
             "alert"],
        ),
    )
    bench(
        "pipe_pseudonymize",
        lambda: checksum(
            entrymod.q_pseudonymize(spark, sf_dir),
            ["conv_id", "turn_idx", "sink"],
        ),
    )
    bench(
        "text_eval_f1",
        lambda: checksum(
            entrymod.q_eval_token_f1(spark, sf_dir),
            ["doc_id", "n_pred", "n_ref", "n_common",
             "precision_milli", "recall_milli", "f1_milli"],
        ),
    )
    bench(
        "src_csv_quarantine",
        lambda: checksum(
            entrymod.q_csv_quarantine(spark, sf_dir),
            ["doc_id", "is_corrupt"],
        ),
    )
    bench(
        "op_asof_forward",
        lambda: checksum(
            entrymod.q_asof_forward(spark, sf_dir),
            ["conv_id", "turn_idx", "cfg_state"],
        ),
    )
    bench(
        "dedup_cluster_cards",
        lambda: checksum(
            entrymod.q_cluster_cards(spark, sf_dir),
            ["component", "size", "keeper", "total_chars",
             "keeper_chars", "saved_chars"],
        ),
    )
    bench(
        "pipe_ewma_alerts",
        lambda: checksum(
            entrymod.q_ewma_alerts(spark, sf_dir),
            ["sink", "window_start", "cnt", "ewma_milli", "alert"],
        ),
    )
    bench(
        "pipe_agg_cube",
        lambda: checksum(
            entrymod.q_agg_cube(spark, sf_dir),
            ["sink", "severity", "window_start", "cnt", "grain"],
        ),
    )
    bench(
        "op_salted_join",
        lambda: checksum(
            entrymod.q_salted_join(spark, sf_dir),
            ["conv_id", "turn_idx", "sink", "n_conv_turns"],
        ),
    )
    bench(
        "text_source_keyness",
        lambda: checksum(
            entrymod.q_source_keyness(spark, sf_dir),
            ["source", "term", "n_in", "n_out", "overrep",
             "chi2_milli", "rank"],
        ),
    )
    bench(
        "cur_render_chat",
        lambda: checksum(
            entrymod.q_render_chat(spark, sf_dir),
            ["conv_id", "n_turns", "n_assistant_turns", "text"],
        ),
    )
    bench(
        "text_watermark",
        lambda: checksum(
            entrymod.q_watermark(spark, sf_dir),
            ["doc_id", "n_scored", "n_green", "green_milli",
             "suspect"],
        ),
    )
    bench(
        "sim_kcenter_select",
        lambda: checksum(
            entrymod.q_kcenter_select(spark, sf_dir),
            ["round_idx", "vec_id", "radius"],
        ),
    )
    bench(
        "mm_scene_cuts",
        lambda: checksum(
            entrymod.q_mm_scene_cuts(spark, sf_dir),
            ["doc_id", "frame_idx", "luma_milli", "delta_milli",
             "is_cut"],
        ),
    )
    bench(
        "cur_reliability_iso",
        lambda: checksum(
            entrymod.q_reliability_iso(spark, sf_dir),
            ["bin", "score_lo", "n", "pos", "rate_micro", "iso_micro"],
        ),
    )
    bench(
        "dedup_symspell_pairs",
        lambda: checksum(
            entrymod.q_symspell_pairs(spark, sf_dir),
            ["doc_a", "doc_b", "dist"],
        ),
    )
    bench(
        "cur_sft_examples",
        lambda: checksum(
            entrymod.q_sft_examples(spark, sf_dir),
            ["conv_id", "turn_idx", "n_context_turns", "context",
             "target"],
        ),
    )

    # kNN-graph fitness: recall@5 vs the exact neighbors of a
    # 64-vector probe sample, at nprobe=1 (argmin cell only) and
    # nprobe=2 (the recall-boosted variant)
    from ci_log_processing_spark.operators.similarity import knn_graph

    g_probe = emb.filter(F.col("vec_id") < 64)
    g_truth = (
        brute_force_topk(emb, g_probe, k=5)
        .select("query_id", "neighbor_id")
        .persist()
    )
    n_g_truth = g_truth.count()

    def _graph_recall(nprobe: int) -> float:
        g = knn_graph(emb, k_nn=5, k_clusters=8, n_iter=2, nprobe=nprobe)
        hit = (
            g.filter(F.col("vec_id") < 64)
            .select(
                F.col("vec_id").alias("query_id"),
                F.col("nbr_id").alias("neighbor_id"),
            )
            .join(g_truth, ["query_id", "neighbor_id"])
        )
        return round(hit.count() / n_g_truth, 4)

    extras["knn_graph_recall_at_5"] = {
        "nprobe1": _graph_recall(1),
        "nprobe2": _graph_recall(2),
    }
    g_truth.unpersist()
    release_persisted()
    spark.catalog.clearCache()

    total = round(sum(timings.values()), 3)
    # the round-1 suite was these six queries; keep their subtotal so
    # cross-round comparisons aren't skewed by the suite growing
    R1_QUERIES = [
        "pipeline_native", "pipeline_pandas_udf", "agg_hourly",
        "dedup_minhash_lsh", "ann_brute_force_topk", "text_quality",
    ]
    r1_subtotal = round(sum(timings[q] for q in R1_QUERIES), 3)
    # the round-2 suite added these four; freeze that subtotal too so
    # round-3+ growth keeps cross-round comparisons apples-to-apples
    R2_QUERIES = R1_QUERIES + [
        "text_pii_scrub", "text_repetition", "cur_pack_sequences",
        "dedup_components",
    ]
    r2_subtotal = round(sum(timings[q] for q in R2_QUERIES), 3)
    # the round-3 suite was this 16-query set; freeze its members so
    # future suite growth keeps round-4+ comparisons apples-to-apples
    R3_QUERIES = R2_QUERIES + [
        "op_asof_join", "text_tfidf", "text_line_dedup",
        "cur_shuffle_index", "dedup_semantic_cluster",
        "cur_full_curation_v3",
    ]
    r3_subtotal = round(sum(timings[q] for q in R3_QUERIES), 3)
    # the round-4 suite adds these four (plus text_repetition_arrow
    # and text_tfidf_pruned which joined mid-round-3)
    R4_QUERIES = R3_QUERIES + [
        "text_repetition_arrow", "text_tfidf_pruned",
        "pipe_latency_pctl", "pipe_latency_hdr", "pipe_hll_distinct",
        "sim_knn_graph",
        "dedup_minhash_estimate", "cur_full_curation_v4",
        "text_bigram_lm", "cur_leakage_split",
        "cur_dsir_sample", "cur_decontaminate_spans",
        "cur_full_curation_v5", "ret_bm25_topk", "dedup_winnow_pairs",
        "pipe_log_templates", "cur_zorder_audit", "pipe_conv_dedup",
        "cur_full_curation_v7", "cur_apply_cdc", "pipe_scd2_intervals",
        "pipe_agg_incremental", "cur_dq_audit", "pipe_skew_audit",
        "cur_snapshot_asof", "cur_compaction_plan",
        "cur_column_profile",
    ]
    r4_subtotal = round(sum(timings[q] for q in R4_QUERIES), 3)
    # round-4 closing batch, FROZEN as of its land date: the subset
    # was cut before the session's last two queries
    # (dedup_sorted_neighborhood, cur_ks_drift) landed, so those two
    # are deliberately NOT members — they are benched individually
    # and join the round-5 subset instead; keep this list unchanged
    # so round-over-round comparisons stay apples-to-apples.
    R4F_QUERIES = [
        "dedup_symspell_pairs", "cur_reliability_iso",
        "mm_scene_cuts", "sim_kcenter_select", "text_watermark",
        "cur_render_chat", "text_source_keyness", "pipe_agg_cube",
        "op_salted_join", "pipe_ewma_alerts", "dedup_cluster_cards",
        "op_asof_forward", "src_csv_quarantine", "text_eval_f1",
        "pipe_pseudonymize", "stream_ewma_alerts",
        "text_bpe_fertility", "cur_pack_bfd",
    ]
    r4f_subtotal = round(
        sum(timings[q] for q in R4F_QUERIES if q in timings), 3
    )
    # round-5 subset: the two queries that landed after the R4F
    # freeze (the gate surface itself is frozen in round 5 while the
    # driver-verification backlog drains, so no further members).
    R5_QUERIES = ["dedup_sorted_neighborhood", "cur_ks_drift"]
    r5_subtotal = round(
        sum(timings[q] for q in R5_QUERIES if q in timings), 3
    )
    # KEY ORDER MATTERS: the driver's BENCH artifact keeps only the
    # TAIL of stdout, so the extras measured by this run
    # print FIRST and the per-round data the judge needs — value,
    # queries, subset totals — print LAST so truncation never eats it
    # (round 3 lost its per-query dict to exactly this).
    out = {
        "metric": "headline suite wall time, steady-state (parse+route pipeline, aggs, dedup, ANN, text)",
        "unit": "sec",
        "sf": os.path.basename(sf_dir.rstrip("/")),
        "n_turns": n_turns,
        "cpus": cpus,
    }
    out.update(extras)
    out.update({
        "cold_first_run_sec": cold,
        "cold_total_sec": round(sum(cold.values()), 3),
        "value_round1_subset": r1_subtotal,
        "value_round2_subset": r2_subtotal,
        "value_round3_subset": r3_subtotal,
        "value_round4_subset": r4_subtotal,
        "value_round4f_subset": r4f_subtotal,
        "value_round5_subset": r5_subtotal,
        "round3_suite": R3_QUERIES,
        "queries": timings,
        "value": total,
    })
    print(json.dumps(out))
    spark.stop()


if __name__ == "__main__":
    main()
