"""Benchmark harness (driver contract).

Runs the headline queries at ``$SPARK_GRAFT_SF_DIR`` (default
/root/testdata/sf0.1) on ``local[$SPARK_GRAFT_CPUS]`` and prints ONE
JSON line: {"metric", "value", "unit", "queries", "trials", "sf"}, and
appends the per-slot minimum wall times and Spark job/stage counts to
bench_history.jsonl. A slot whose counts rose against the previous
counted run at the same sf and core count is listed under
"regressions".

Execution is measured with the ``noop`` sink — full plan execution
(scan → shuffle → agg) without driver-side collect overhead, i.e. the
number that scales to a real cluster.
"""

from __future__ import annotations

import json
import os
import sys
import time

REPO_ROOT = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, REPO_ROOT)

HEADLINE = [
    "analytics_shipping_priority",
    "analytics_local_supplier_volume",
    "analytics_forecast_revenue",
    "agg_groupby_hash",
    "join_inner_equi",
    "join_broadcast",
    "join_asof_nearest",
    "window_rank",
    "window_frame_agg",
    "window_sessionize",
    "text_bigram_counts",
    "stream_tumbling_agg",
    "ingest_plan_daily",
    "dedup_exact",
    # dedup_ngram_jaccard shares dedup_ngram_jaccard_scaled's plan since
    # round 2 — benching both would double-count one plan, so the slot
    # went to the embedding-cosine dedup instead.
    "dedup_embedding_cosine",
    "dedup_ngram_jaccard_scaled",
    "dedup_simhash_pairs",
    "sim_topk_bruteforce",
    "sim_topk_bucketed",
    "mm_decode_metadata",
    "text_quality_score",
    "limit_topk_per_group",
    "set_union_all",
    # round-2 additions: corpus curation + trained-quantizer ANN
    "sample_stratified_seeded",
    "pack_token_budget",
    "shard_assign_hash",
    "dedup_segment_crossdoc",
    "text_doc_repetition",
    "sim_topk_ivf",
    # round-2 additions: warehouse plans + runtime filtering + LM scoring
    "plan_scd2_dimension",
    "plan_merge_upsert",
    "join_bloom_filtered",
    "text_lm_perplexity",
    # round-5 additions: incremental-ingest dedup + pretraining hygiene
    "dedup_incremental_snapshot",
    "text_decontaminate",
    "curate_quality_gate",
    # round-6 additions: verified dedup, range ANN, basket mining, and
    # the Z-order write+pruned-scan round trip (the timing includes the
    # one-time layout write — the recurring probe side is the point of
    # the pytest numFiles assertion, not this number)
    "dedup_lsh_verified",
    "sim_range_search",
    "analytics_basket_affinity",
    "layout_zorder_scan",
    # round-7 additions: the salting escape hatch under REAL skew (half
    # the fact table on one hot key), footer-stats-driven file pruning
    # (timing includes the one-time range-clustered write), the real
    # WAV codec round trip, and the TPC-H Q12 analog
    "join_salted_skew_hot",
    "scan_rowgroup_pruned",
    "mm_decode_real",
    "analytics_shipmode_priority",
    # round-8 additions: the composed end-to-end pipelines a real user
    # runs (manifest curation, full LSH->verify->components->canonical
    # dedup), the recursive-CTE path, and the persisted stats-manifest
    # scan (timing includes the range-clustered write + manifest build)
    "curate_pretrain_manifest",
    "dedup_cluster_canonical",
    "sql_recursive_cte",
    "scan_manifest_pruned",
    # late-round-8 additions: the bounded-frame EWMA (pure window-plan
    # cost) and the PSI drift monitor; the bloom-manifest and PQ
    # lifecycles are PHASED below so build and probe regress separately
    "ts_ewma",
    "profile_snapshot_drift",
    # final-round-8 additions: the Hilbert layout lifecycle (timing
    # includes the tiled write), multi-pass fuzzy matching (two rank
    # windows + verify), real-PCM decode+decimate CPU, and dynamic-gap
    # sessionization
    "layout_hilbert_scan",
    "join_fuzzy_multipass",
    "mm_audio_resample",
    "stream_session_dynamic",
    # round-8 closing additions: model-based quality scoring (map-only
    # frozen-classifier pass), DSIR importance weights (tokenize-once,
    # two unigram models + join-back), and the iterative-graph witness
    # (3 PageRank sweeps over checkpointed edges)
    "text_classifier_score",
    "curate_importance_weights",
    "graph_pagerank",
    # ...plus the real compressed-image codec round trip (PNG: filter,
    # deflate, CRC on the way out; verify, inflate, unfilter back), and
    # the sliding-window sequence chunker (pure map-side fan-out)
    "mm_decode_real_png",
    "text_chunk_windows",
    # second closing wave: BM25 ranking (query-filtered tokenize), the
    # BPE dictionary pair count (vocab-sized explode), and the CUSUM
    # drift scan (two cumulative windows over the event series)
    "text_bm25_topk",
    "text_bpe_pair_counts",
    "ts_cusum_alarm",
    # ...and the banded sign-LSH (signature expression + per-bucket
    # gram kernels + candidate distinct) and diurnal seasonal adjust
    "dedup_embedding_lsh",
    "ts_seasonal_adjust",
    # closing wave: the composed embedding dedup pipeline (LSH ->
    # verify -> components -> canonical) and the sketch-intersection
    # estimate (merged-KMV Jaccard, sketch-sized work after the scan)
    "dedup_embedding_canonical",
    "agg_kmv_jaccard",
    # the LZW codec round trip (pure-Python dictionary coding is the
    # cost — the accumulator bit I/O rewrite took the slot 7.3 -> 3.5 s)
    "mm_decode_real_gif",
    # round-9 additions: exact duplicated-span detection (shingle
    # aggregate + islands window — the no-pairwise-join plan), its
    # splice-out rewrite (token anti-join + per-doc rebuild), the
    # metadata-key URL dedup, and metadata-only range counting (timing
    # includes the range-clustered write + manifest build)
    "dedup_span_exact",
    "dedup_span_strip",
    "dedup_url_canonical",
    "scan_manifest_count_only",
    # ...the two-sided interval-overlap join (bucket decomposition +
    # pair distinct) and Kneser-Ney bigram scoring (three model tables
    # off one pair explode + join-back)
    "join_interval_overlap",
    "text_kneser_ney",
    # closing wave: last-touch attribution (one window pass), RFM
    # (three customer-level NTILEs), and the one-scan dataset card
    "analytics_attribution",
    "analytics_rfm",
    "curate_dataset_card",
    # round-10 additions: distributed global NTILE (the witness for the
    # rfm plan swap), combined partition+stats pruning, ADD COLUMN as a
    # manifest commit, and trigram Kneser-Ney with recursive backoff
    "window_ntile_global",
    "scan_manifest_partitioned",
    "plan_schema_evolve",
    "text_kneser_ney_trigram",
    # ...the distributed global running sum (whale curve) and the
    # mixed-generation partition-spec-evolution scan
    "analytics_pareto_coverage",
    "scan_manifest_partition_evolution",
    # ...triangle counting and the Puffin-style per-file NDV sketches
    "graph_triangle_count",
    "scan_manifest_sketch_ndv",
    # ...and the rest of the distributed global-order family: exact
    # rank/percent_rank/cume_dist and median-by-selection
    "window_rank_global",
    "agg_median_distributed",
    # ...and the perceptual image hash (decode pass + hash-keyed window)
    "mm_image_phash",
    # closing wave: the composed multimodal curation manifest and
    # content-checksum copy verification
    "curate_multimodal_manifest",
    "migrate_checksum_verify",
    # round-11 additions: production-order Kneser-Ney (4-gram, tables
    # shared downward), Z-order + multi-column manifest skipping, and
    # the library-MinHash verified-property surface
    "text_kneser_ney_4gram",
    "scan_manifest_pruned_multi",
    "dedup_minhash_lsh",
    # ...and OPTIMIZE ZORDER BY through the manifest (layout rewrite +
    # 2-D pruned rectangle at one snapshot)
    "plan_optimize_zorder",
    "plan_optimize_zorder_incremental",
    # round-12: MERGE + schema evolution composed at one snapshot, and
    # row-group-granular manifest skipping on the binpack-concat layout
    "plan_merge_schema_evolution",
    "scan_manifest_pruned_rowgroup",
    "plan_optimize_hilbert",
    # round-14: derived Change Data Feed (merge + delete staged in the
    # window), three-clause MERGE (matched-delete in the same
    # snapshot), the governed table's SQL face (time travel + history
    # through spark.sql text), and the full BPE training loop
    # (dictionary-sized rounds, corpus touched once)
    "plan_change_data_feed",
    "plan_merge_three_clause",
    "sql_governed_time_travel",
    "text_bpe_train",
    # round-15: the SQL WRITE face (insert+merge+delete routed through
    # the gated commit protocol) and the streaming CDF consumer (three
    # incremental windows driving a downstream aggregate)
    "sql_write_face",
    "stream_cdf_consumer",
]

# Queries benched as named phases instead of one opaque timing. The
# persisted-IVF ANN path is the production deployment shape: the index
# build (train + cell-partitioned write) happens once per corpus version,
# while probes run per query batch — one number would hide which side a
# regression lives on.
PHASED = {
    "sim_topk_ivf_persisted": "_bench_ivf_persisted",
    "dedup_incremental_snapshot_persisted": "_bench_snapshot_persisted",
    "compact_corpus_index": "_bench_corpus_compaction",
    "text_keyword_search": "_bench_keyword_index",
    "text_decontaminate_indexed": "_bench_gram_index",
    "scan_manifest_bloom": "_bench_bloom_manifest",
    "sim_topk_pq": "_bench_pq",
    "plan_manifest_merge": "_bench_manifest_lifecycle",
}

TRIALS = int(os.environ.get("SPARK_GRAFT_BENCH_TRIALS", "5"))


def _bench_ivf_persisted(spark, sf_dir: str) -> dict[str, float]:
    """Time the persisted-IVF build and probe phases separately."""
    import shutil

    from pyspark.sql import functions as F

    from aws_seismic_data_pipeline_spark.catalog import load_table
    from aws_seismic_data_pipeline_spark.llm.ivf import (
        index_path,
        probe_persisted_index,
        write_index,
    )

    path = index_path(spark, sf_dir)
    t0 = time.perf_counter()
    centroids = write_index(spark, sf_dir, path)
    build = time.perf_counter() - t0
    emb = load_table(spark, sf_dir, "embeddings")
    queries = [
        (r["vec_id"], r["embedding"])
        for r in emb.filter(F.col("vec_id") < 50).select("vec_id", "embedding").collect()
    ]
    t0 = time.perf_counter()
    df = probe_persisted_index(spark, path, queries, centroids, k=5)
    df.write.format("noop").mode("overwrite").save()
    probe = time.perf_counter() - t0
    # the app-id-keyed path is unique per run: remove it so repeated
    # harness runs don't accumulate orphaned index trees under /tmp
    # (mode("overwrite") makes the next trial's build cost identical)
    shutil.rmtree(path, ignore_errors=True)
    return {"sim_topk_ivf_persisted_build": build, "sim_topk_ivf_persisted_probe": probe}


def _bench_snapshot_persisted(spark, sf_dir: str) -> dict[str, float]:
    """Time the persisted incremental-dedup artifact build (once per
    corpus version in production) separately from the per-snapshot
    probe (the recurring cost a continuous-crawl user actually pays)."""
    import shutil

    from pyspark.sql import functions as F

    from aws_seismic_data_pipeline_spark.catalog import load_table, spread
    from aws_seismic_data_pipeline_spark.llm.curation import _md5_bucket
    from aws_seismic_data_pipeline_spark.llm.dedup import (
        _INC_CORPUS_PCT,
        classify_snapshot_persisted,
        corpus_index_path,
        write_corpus_index,
    )

    docs = spread(load_table(spark, sf_dir, "documents"), spark).withColumn(
        "bucket", _md5_bucket("doc_id", 100)
    )
    path = corpus_index_path(spark, sf_dir) + "_bench"
    t0 = time.perf_counter()
    write_corpus_index(docs.filter(F.col("bucket") < _INC_CORPUS_PCT), path)
    build = time.perf_counter() - t0
    t0 = time.perf_counter()
    classify_snapshot_persisted(
        spark, docs.filter(F.col("bucket") >= _INC_CORPUS_PCT), path
    ).write.format("noop").mode("overwrite").save()
    probe = time.perf_counter() - t0
    shutil.rmtree(path, ignore_errors=True)
    return {
        "dedup_snapshot_persisted_build": build,
        "dedup_snapshot_persisted_probe": probe,
    }


def _bench_corpus_compaction(spark, sf_dir: str) -> dict[str, float]:
    """The small-file story of continuous promotion, measured: build
    the corpus artifact, promote six accepted batches (each appending
    tiny files), probe the FRAGMENTED artifact, compact it, probe
    again. At six promotions the two probes are within noise of each
    other (fragmentation costs file-listing overhead, which only
    dominates at thousands of appends); the number being tracked is
    that the compacted probe stays FLAT as promotion count grows while
    the fragmented one would drift up with the listing — plus the
    compaction cost itself, which must stay artifact-sized."""
    import shutil

    from pyspark.sql import functions as F

    from aws_seismic_data_pipeline_spark.catalog import load_table, spread
    from aws_seismic_data_pipeline_spark.llm.curation import _md5_bucket
    from aws_seismic_data_pipeline_spark.llm.dedup import (
        classify_snapshot_persisted,
        compact_corpus_index,
        corpus_index_path,
        promote_to_corpus,
        write_corpus_index,
    )

    docs = spread(load_table(spark, sf_dir, "documents"), spark).withColumn(
        "bucket", _md5_bucket("doc_id", 100)
    )
    path = corpus_index_path(spark, sf_dir) + "_compactbench"
    write_corpus_index(docs.filter(F.col("bucket") < 50), path)
    for lo in range(50, 80, 5):
        promote_to_corpus(
            docs.filter(F.col("bucket").between(lo, lo + 4)), path
        )
    snapshot = docs.filter(F.col("bucket") >= 80)

    def probe() -> float:
        t0 = time.perf_counter()
        classify_snapshot_persisted(spark, snapshot, path).write.format(
            "noop"
        ).mode("overwrite").save()
        return time.perf_counter() - t0

    frag = probe()
    t0 = time.perf_counter()
    compact_corpus_index(spark, path)
    compact = time.perf_counter() - t0
    comp = probe()
    shutil.rmtree(path, ignore_errors=True)
    return {
        "dedup_corpus_probe_fragmented": frag,
        "dedup_corpus_compact": compact,
        "dedup_corpus_probe_compacted": comp,
    }


def _bench_keyword_index(spark, sf_dir: str) -> dict[str, float]:
    """Inverted-index lifecycle, measured per side: the corpus
    tokenize+write build (once per corpus version) vs the bucket-pruned
    conjunctive probe (the recurring per-query cost, which must stay
    posting-sized — the number that would drift if bucket pruning ever
    broke)."""
    import shutil

    from aws_seismic_data_pipeline_spark.catalog import load_table
    from aws_seismic_data_pipeline_spark.llm.search import (
        _SEARCH_TOKENS,
        build_inverted_index,
        keyword_search,
    )

    docs = load_table(spark, sf_dir, "documents")
    path = os.path.join(
        "/tmp", f"kwidx_bench_{spark.sparkContext.applicationId}"
    )
    t0 = time.perf_counter()
    build_inverted_index(spark, docs, path)
    build = time.perf_counter() - t0
    t0 = time.perf_counter()
    keyword_search(spark, path, list(_SEARCH_TOKENS), mode="all").write.format(
        "noop"
    ).mode("overwrite").save()
    probe = time.perf_counter() - t0
    shutil.rmtree(path, ignore_errors=True)
    return {"keyword_index_build": build, "keyword_index_probe": probe}


def _bench_gram_index(spark, sf_dir: str) -> dict[str, float]:
    """Decontamination's amortization claim, measured: the one-time
    n-gram posting-index build vs the per-benchmark-release probe. The
    probe must run well under the direct text_decontaminate slot — that
    delta is the entire reason the index exists."""
    import shutil

    from pyspark.sql import functions as F

    from aws_seismic_data_pipeline_spark.catalog import load_table, spread
    from aws_seismic_data_pipeline_spark.llm.curation import (
        DECON_BENCH_PCT,
        _doc_grams,
        _md5_bucket,
        build_gram_index,
        probe_gram_index,
    )

    docs = load_table(spark, sf_dir, "documents")
    path = os.path.join(
        "/tmp", f"gramidx_bench_{spark.sparkContext.applicationId}"
    )
    t0 = time.perf_counter()
    build_gram_index(
        spark,
        docs.filter(_md5_bucket("doc_id", 100) >= DECON_BENCH_PCT),
        path,
    )
    build = time.perf_counter() - t0
    bench = (
        _doc_grams(spread(docs, spark))
        .filter(F.col("bucket") < DECON_BENCH_PCT)
        .select(F.explode("gs").alias("h"))
        .distinct()
    )
    t0 = time.perf_counter()
    probe_gram_index(spark, path, bench).write.format("noop").mode(
        "overwrite"
    ).save()
    probe = time.perf_counter() - t0
    shutil.rmtree(path, ignore_errors=True)
    return {"gram_index_build": build, "gram_index_probe": probe}


def _bench_bloom_manifest(spark, sf_dir: str) -> dict[str, float]:
    """Bloom lifecycle per side: the hash-clustered layout write (the
    table's own landing cost, not the filter's), the per-file filter
    build (once per corpus version), and the point-lookup probe — the
    recurring number, which must stay manifest-sized however large the
    table grows."""
    import glob
    import shutil

    from aws_seismic_data_pipeline_spark.catalog import load_table
    from aws_seismic_data_pipeline_spark.sources.table.sketches import (
        _BLOOM_LOOKUP_KEYS,
        bloom_pruned_scan,
        build_bloom_manifest,
    )

    base = os.path.join(
        "/tmp", f"bloombench_{spark.sparkContext.applicationId}"
    )
    path, bdir = base + "_data", base + "_manifest"
    t0 = time.perf_counter()
    load_table(spark, sf_dir, "orders").repartition(
        16, "o_custkey"
    ).write.mode("overwrite").parquet(path)
    write = time.perf_counter() - t0
    files = sorted(glob.glob(path + "/*.parquet"))
    t0 = time.perf_counter()
    build_bloom_manifest(spark, files, bdir, "o_orderkey")
    build = time.perf_counter() - t0
    t0 = time.perf_counter()
    bloom_pruned_scan(
        spark, bdir, "o_orderkey", list(_BLOOM_LOOKUP_KEYS)
    ).write.format("noop").mode("overwrite").save()
    probe = time.perf_counter() - t0
    shutil.rmtree(path, ignore_errors=True)
    shutil.rmtree(bdir, ignore_errors=True)
    return {
        "bloom_layout_write": write,
        "bloom_build": build,
        "bloom_probe": probe,
    }


def _bench_pq(spark, sf_dir: str) -> dict[str, float]:
    """PQ lifecycle per side: codebook training + corpus encode (once
    per corpus version) vs the ADC-shortlist + exact-rerank probe (per
    query batch — the number that must stay codes-sized)."""
    import numpy as np
    from pyspark.sql import functions as F

    from aws_seismic_data_pipeline_spark.catalog import (
        load_table,
        spread_dense,
    )
    from aws_seismic_data_pipeline_spark.llm.pq import (
        encode_corpus,
        pq_search_rerank,
        train_codebooks,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    d = len(emb.select("embedding").limit(1).collect()[0]["embedding"])
    # corpus materialization is timed INSIDE the build (r16): the
    # operator now spreads+checkpoints once instead of re-scanning and
    # re-shuffling the parquet on every training pass — the build
    # phase times the optimized shape end to end, scan included
    t0 = time.perf_counter()
    corpus = spread_dense(emb, spark, sf_dir).localCheckpoint(eager=True)
    C = train_codebooks(corpus, d)
    codes = encode_corpus(corpus, C).localCheckpoint(eager=True)
    build = time.perf_counter() - t0
    queries = [
        (r["vec_id"], np.asarray(r["embedding"], dtype=np.float64))
        for r in emb.filter(F.col("vec_id") < 10)
        .select("vec_id", "embedding")
        .collect()
    ]
    t0 = time.perf_counter()
    pq_search_rerank(corpus, codes, queries, C, k=5).write.format(
        "noop"
    ).mode("overwrite").save()
    probe = time.perf_counter() - t0
    return {"pq_train_encode": build, "pq_probe_rerank": probe}


def _bench_manifest_lifecycle(spark, sf_dir: str) -> dict[str, float]:
    """The table-format metadata lifecycle, each verb timed separately
    so a metadata-path regression is visible on its own slot instead of
    hiding inside one opaque number: manifest build (footer-read 12
    range-clustered files), incremental append (the per-ingest-batch
    cost), stats-pruned read (the recurring query-path cost), the
    copy-on-write MERGE commit, a data-compaction commit, the
    equality-delete read (scan minus broadcast delete keys), and the
    vacuum orphan report. The data-file write itself is NOT timed —
    it's fixture staging, not a lifecycle verb."""
    import glob
    import shutil

    from pyspark.sql import functions as F

    from aws_seismic_data_pipeline_spark.catalog import load_table
    from aws_seismic_data_pipeline_spark.sources.table.deletes import (
        compact_equality_deletes,
        equality_delete,
        read_with_deletes,
    )
    from aws_seismic_data_pipeline_spark.sources.table.maintenance import (
        commit_data_compaction,
        expire_manifest_history,
        merge_through_manifest,
        vacuum_orphans_report,
    )
    from aws_seismic_data_pipeline_spark.sources.table.manifest import (
        _visible_stats,
        append_stats_manifest,
        manifest_pruned_scan,
        write_stats_manifest,
    )

    base = os.path.join(
        "/tmp", f"manifest_bench_{spark.sparkContext.applicationId}"
    )
    shutil.rmtree(base, ignore_errors=True)
    data_dir = os.path.join(base, "data")
    mpath = os.path.join(base, "manifest")
    full = load_table(spark, sf_dir, "orders")
    orders = full.select("o_orderkey", "o_orderstatus", "o_totalprice")
    orders.repartitionByRange(16, "o_orderkey").write.parquet(data_dir)
    files = sorted(glob.glob(os.path.join(data_dir, "*.parquet")))
    out: dict[str, float] = {}

    t0 = time.perf_counter()
    write_stats_manifest(spark, files[:12], mpath, ("o_orderkey",))
    out["manifest_build"] = time.perf_counter() - t0

    t0 = time.perf_counter()
    append_stats_manifest(spark, files[12:], mpath, ("o_orderkey",))
    out["manifest_append"] = time.perf_counter() - t0

    t0 = time.perf_counter()
    manifest_pruned_scan(spark, mpath, "o_orderkey", 1000, 5000).write.format(
        "noop"
    ).mode("overwrite").save()
    out["manifest_pruned_read"] = time.perf_counter() - t0

    delta = (
        full.filter(
            (F.col("o_orderkey").between(1000, 5000))
            & (F.col("o_orderpriority") == "1-URGENT")
        )
        .select(
            "o_orderkey",
            F.lit("R").alias("o_orderstatus"),
            (F.col("o_totalprice") + F.lit(1000.0)).alias("o_totalprice"),
        )
        .unionByName(
            orders.filter(F.col("o_orderkey") % 997 == 7).select(
                (F.col("o_orderkey") + F.lit(100000000)).alias("o_orderkey"),
                F.lit("N").alias("o_orderstatus"),
                "o_totalprice",
            )
        )
    )
    t0 = time.perf_counter()
    merge_through_manifest(
        spark, mpath, delta, "o_orderkey", ["o_orderstatus", "o_totalprice"]
    )
    out["manifest_merge_commit"] = time.perf_counter() - t0

    # compact a handful of currently-visible fragments into one file
    visible = sorted(
        r.path
        for r in _visible_stats(spark.read.parquet(mpath), None)
        .select("path")
        .distinct()
        .collect()
    )
    t0 = time.perf_counter()
    commit_data_compaction(spark, mpath, visible[:4], ("o_orderkey",))
    out["manifest_compact_commit"] = time.perf_counter() - t0

    equality_delete(
        spark, mpath, "o_orderkey", [int(k) for k in range(1, 3000, 31)]
    )
    t0 = time.perf_counter()
    read_with_deletes(spark, mpath, "o_orderkey").write.format("noop").mode(
        "overwrite"
    ).save()
    out["manifest_eqdelete_read"] = time.perf_counter() - t0

    t0 = time.perf_counter()
    dc_snap, _, _, _ = compact_equality_deletes(spark, mpath, "o_orderkey")
    out["manifest_delcompact_commit"] = time.perf_counter() - t0

    t0 = time.perf_counter()
    expire_manifest_history(spark, mpath, dc_snap)
    out["manifest_expire"] = time.perf_counter() - t0

    t0 = time.perf_counter()
    vacuum_orphans_report(spark, data_dir, mpath).write.format("noop").mode(
        "overwrite"
    ).save()
    out["manifest_vacuum_report"] = time.perf_counter() - t0

    shutil.rmtree(base, ignore_errors=True)
    return out


#: Status-store counters the regression gate compares, per slot. They
#: count plan work, not time, so they repeat exactly on any host with
#: the same core count. ``python_tasks`` counts the tasks of stages
#: with a Python operator: one Python-worker fork each.
GATED = ("jobs", "stages", "python_tasks")


def _emit(result: dict, name: str = "BENCH.json") -> None:
    """The bench contract line, plus a whole-file twin. The stdout JSON
    line stays the driver contract (printed verbatim, unchanged); it is
    ALSO written atomically (tmp + rename) to ``name`` because the
    r14 driver capture truncated the ~10 KB line mid-stream
    (BENCH_r14.json parsed:null) and the r15 round lost its official
    round-over-round PERF table to that — a file the driver can read
    whole survives any tail truncation (r15 verdict item 8)."""
    line = json.dumps(result, separators=(",", ":"))
    print(line)
    try:
        path = os.path.join(REPO_ROOT, name)
        tmp = path + ".tmp"
        with open(tmp, "w") as fh:
            fh.write(line + "\n")
        os.replace(tmp, path)
    except OSError:
        pass  # stdout already carries the contract


def load_history(path: str) -> list[dict]:
    """Entries of a bench_history.jsonl file, oldest first."""
    out = []
    try:
        with open(path) as fh:
            for line in fh:
                try:
                    out.append(json.loads(line))
                except ValueError:
                    continue
    except OSError:
        pass
    return out


def previous_counts(history: list[dict], sf, cpus: int) -> dict | None:
    """Per-slot counts of the newest entry at this sf and core count
    that carries counters; entries from before counting are skipped."""
    for rec in reversed(history):
        if rec.get("sf") == sf and rec.get("cpus") == cpus and rec.get("counts"):
            return rec["counts"]
    return None


def count_regressions(prior: dict, counts: dict) -> dict:
    """Slots whose ``GATED`` count rose against ``prior``, as
    ``{slot: {counter: [before, after]}}``. Slots without a prior count
    are new and pass; a counter the prior entry did not record is not
    compared."""
    out = {}
    for name, now in counts.items():
        before = prior.get(name, {})
        rose = {
            k: [before[k], now[k]]
            for k in GATED
            if k in before and now[k] > before[k]
        }
        if rose:
            out[name] = rose
    return out


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = sf_dir.rstrip("/").rsplit("sf", 1)[-1]
    from aws_seismic_data_pipeline_spark.registry import load_all
    from aws_seismic_data_pipeline_spark.session import get_spark
    from perfbench.harness import StatusCounters

    registry = load_all()
    spark = get_spark(app_name="bench")
    counter = StatusCounters(spark)

    # warm the page cache + JIT so per-query numbers reflect steady state
    for t in ("lineitem", "orders", "events"):
        spark.read.parquet(f"{sf_dir}/{t}.parquet").count()

    # Best of TRIALS runs per query (default 5): first execution pays
    # codegen/JIT and Python-worker fork storms that are hostage to
    # co-tenant machine load; the minimum reflects the plan's
    # steady-state cost, which is what scales to a cluster. Each trial
    # also counts the Spark jobs, stages and Python tasks it ran
    # (status-store deltas, read outside the timed region); the
    # per-slot minimum is the regression signal, since it does not
    # move with host load.
    timings: dict[str, float] = {}
    counts: dict[str, dict[str, int]] = {}

    def counted(name: str, run, *args):
        counter.mark()
        out = run(*args)
        got = counter.delta()
        prev = counts.get(name)
        counts[name] = {
            k: got[k] if prev is None else min(prev[k], got[k]) for k in GATED
        }
        return out

    def headline_trial(name: str) -> float:
        t0 = time.perf_counter()
        df = registry[name].builder(spark, sf_dir)
        df.write.format("noop").mode("overwrite").save()
        return time.perf_counter() - t0

    for name in HEADLINE:
        timings[name] = round(
            min(counted(name, headline_trial, name) for _ in range(TRIALS)),
            3,
        )
    for key, fn_name in PHASED.items():
        phase_trials: dict[str, list[float]] = {}
        for _ in range(TRIALS):
            phases = counted(key, globals()[fn_name], spark, sf_dir)
            for phase, sec in phases.items():
                phase_trials.setdefault(phase, []).append(sec)
        for phase, trial_times in phase_trials.items():
            timings[phase] = round(min(trial_times), 3)

    total = round(sum(timings.values()), 3)
    sf_val = float(sf) if sf.replace(".", "").isdigit() else sf
    # The stdout line must stay SMALL: the driver's capture truncated
    # r5's ~4 KB line mid-stream (BENCH_r05.json parsed:null). Per-slot
    # counts go to bench_history.jsonl only; stdout carries the totals,
    # per-query minima, and any count regressions.
    result = {
        "metric": "headline_total_runtime",
        "value": total,
        "unit": "sec",
        "queries": timings,
        "trials": TRIALS,
        "sf": sf_val,
    }
    if TRIALS < 2:
        # single-trial runs are SMOKE runs: no min-of-N absorbs cold-JIT
        # and first-scan work, so they are neither recorded nor allowed
        # to overwrite the last real run's BENCH.json
        result["smoke"] = True
        _emit(result, "BENCH_smoke.json")
        spark.stop()
        return
    # Regression gate: a slot whose GATED count rose against the
    # previous counted run at the same sf and core count is listed
    # under "regressions"; tests/test_bench_history.py fails CI on the
    # same comparison over the recorded history.
    history_path = os.path.join(REPO_ROOT, "bench_history.jsonl")
    n_cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    prior = previous_counts(load_history(history_path), sf_val, n_cpus)
    regressions = count_regressions(prior or {}, counts)
    if regressions:
        result["regressions"] = regressions
    entry = {
        "ts": time.time(),
        "sf": sf_val,
        "cpus": n_cpus,
        "counts": counts,
        "queries": timings,
    }
    with open(history_path, "a") as fh:
        fh.write(json.dumps(entry) + "\n")
    _emit(result)
    spark.stop()


if __name__ == "__main__":
    main()
