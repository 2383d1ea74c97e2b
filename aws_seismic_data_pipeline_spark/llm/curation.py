"""Corpus-curation operators for training-data pipelines (north star).

The reference moves bytes (``/root/reference/app.py:449-488``); a 100 TB
training pipeline additionally has to DECIDE what goes into a run and
HOW it is laid out: language/domain mixing (stratified sampling),
sequence packing into fixed token budgets, deterministic output
sharding, cross-document boilerplate removal, and per-document
repetition gates (the Gopher/C4-style filters). Everything here is pure
``pyspark.sql.functions`` — no Python in the hot path — and each
operator documents its shuffle structure at scale.

Shared determinism primitive: the engine-portable md5→60-bit-int bucket
(same construction as ``sources/readers.py:scan_hash_sample``), so every
sampling / sharding decision is reproducible across engines, reruns, and
physical layouts — the property ``DataFrame.sample`` cannot give.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from aws_seismic_data_pipeline_spark.catalog import load_table, spread
from aws_seismic_data_pipeline_spark.registry import register

#: tokens per packed training sequence (pack_token_budget)
PACK_BUDGET = 512
#: tokens per cross-doc dedup segment (dedup_segment_crossdoc)
SEGMENT_TOKENS = 8
#: output shard count (shard_assign_hash)
N_SHARDS = 16
#: per-language keep rates in percent (sample_stratified_seeded):
#: downsample the majority language, keep most of the rest — the
#: language-mixing knob of a pretraining data recipe.
LANG_KEEP_PCT = {"en": 40, "de": 80, "es": 80, "fr": 80, "zh": 80}


def _md5_bucket(col: str, mod: int) -> F.Column:
    """Deterministic engine-portable bucket: md5 → top 60 bits → % mod."""
    return (
        F.expr(
            f"cast(conv(substring(md5(cast({col} as string)), 1, 15), 16, 10)"
            " as bigint)"
        )
        % mod
    )


@register(
    "sample_stratified_seeded",
    oracle=f"""
        SELECT doc_id, lang, source
        FROM (
            SELECT doc_id, lang, source,
                   CAST(('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 15))
                        AS BIGINT) % 100 AS bucket,
                   CASE lang
                        WHEN 'en' THEN {LANG_KEEP_PCT["en"]}
                        ELSE {LANG_KEEP_PCT["de"]}
                   END AS keep_pct
            FROM documents
        )
        WHERE bucket < keep_pct
    """,
    tags=("llm", "sample"),
)
def sample_stratified_seeded(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic stratified sampling — the language/domain-mixing
    step of a training recipe: each stratum (language) keeps a
    configured fraction, selected by key hash so the sample is
    reproducible across engines/reruns/layouts and widening a rate
    yields a strict superset (nested splits for data-recipe ablations).

    Scale shape: the rate table is a broadcast join (|langs| rows); the
    keep decision is a scan-level filter — NO shuffle of the corpus at
    all. ``DataFrame.sample`` cannot do this: its per-partition RNG ties
    the sample to physical layout."""
    docs = load_table(spark, sf_dir, "documents")
    rates = spark.createDataFrame(
        sorted(LANG_KEEP_PCT.items()), "lang string, keep_pct int"
    )
    return (
        docs.join(F.broadcast(rates), "lang", "left")
        .withColumn("keep_pct", F.coalesce("keep_pct", F.lit(LANG_KEEP_PCT["de"])))
        .filter(_md5_bucket("doc_id", 100) < F.col("keep_pct"))
        .select("doc_id", "lang", "source")
    )


@register(
    "pack_token_budget",
    oracle=f"""
        WITH t AS (
            SELECT doc_id, lang,
                   CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
            FROM documents
        ),
        c AS (
            SELECT lang, n_tokens,
                   COALESCE(SUM(n_tokens) OVER (
                       PARTITION BY lang ORDER BY doc_id
                       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                       AS prior_tokens
            FROM t
        )
        SELECT lang,
               CAST(FLOOR(prior_tokens / {PACK_BUDGET}.0) AS BIGINT) AS pack_id,
               CAST(COUNT(*) AS BIGINT) AS n_docs,
               CAST(SUM(n_tokens) AS BIGINT) AS pack_tokens,
               SUM(n_tokens) / {PACK_BUDGET}.0 AS fill_ratio
        FROM c
        GROUP BY 1, 2
    """,
    tags=("llm", "pack"),
)
def pack_token_budget(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence packing: assign documents (in deterministic doc_id order,
    per language stream) to fixed token-budget packs — the step that
    turns a filtered corpus into training sequences. ``pack_id =
    floor(exclusive_cumsum(n_tokens) / budget)``: the standard streaming
    approximation (a pack overflows by at most one document, no
    bin-packing search), fully order-deterministic.

    Scale shape: one window per language stream (shuffle on lang, sort
    by doc_id — at 100 TB the stream key should be (lang, shard) so no
    single window serializes; the formula is unchanged), then a grouped
    count. No data movement beyond the window shuffle."""
    docs = load_table(spark, sf_dir, "documents")
    n_tokens = F.size(F.split("text", " ")).cast("long")
    w = (
        Window.partitionBy("lang")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    prior = F.coalesce(F.sum("n_tokens").over(w), F.lit(0))
    return (
        docs.select("doc_id", "lang", n_tokens.alias("n_tokens"))
        .withColumn("pack_id", F.floor(prior / float(PACK_BUDGET)).cast("long"))
        .groupBy("lang", "pack_id")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tokens").alias("pack_tokens"),
            (F.sum("n_tokens") / float(PACK_BUDGET)).alias("fill_ratio"),
        )
    )


@register(
    "shard_assign_hash",
    oracle=f"""
        WITH assigned AS (
            SELECT CAST(('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 15))
                        AS BIGINT) % {N_SHARDS} AS shard_id,
                   n_chars
            FROM documents
        ),
        per_shard AS (
            SELECT shard_id,
                   CAST(COUNT(*) AS BIGINT) AS n_docs,
                   CAST(SUM(n_chars) AS BIGINT) AS total_chars
            FROM assigned
            GROUP BY shard_id
        )
        SELECT shard_id, n_docs, total_chars,
               n_docs / (SUM(n_docs) OVER () / CAST({N_SHARDS} AS DOUBLE))
                   AS load_factor
        FROM per_shard
    """,
    tags=("llm", "shard"),
)
def shard_assign_hash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic output sharding + skew report: every doc maps to
    ``md5(doc_id) % N`` — stable across reruns and engines, so shard
    membership is an invariant of the dataset, not of the job that wrote
    it (resumable/incremental shard writes). The load_factor column is
    the skew audit: ~1.0 everywhere means hash sharding is balanced and
    no shard becomes the straggler task at write time.

    Scale shape: one grouped count (map-side combinable) + a window over
    N_SHARDS rows (driver-scale). The actual write would be
    ``df.repartition(N, shard_id).write`` — one shuffle, balanced by
    construction."""
    docs = load_table(spark, sf_dir, "documents")
    per_shard = (
        docs.select(
            _md5_bucket("doc_id", N_SHARDS).alias("shard_id"), "n_chars"
        )
        .groupBy("shard_id")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_chars").alias("total_chars"),
        )
    )
    mean_docs = F.sum("n_docs").over(Window.partitionBy()) / float(N_SHARDS)
    return per_shard.withColumn("load_factor", F.col("n_docs") / mean_docs)


@register(
    "dedup_segment_crossdoc",
    oracle=f"""
        WITH toks AS (
            SELECT doc_id, string_split(text, ' ') AS t FROM documents
        ),
        idx AS (
            SELECT doc_id, t,
                   unnest(generate_series(
                       0, CAST(FLOOR((len(t) - 1) / {SEGMENT_TOKENS}.0) AS BIGINT)
                   )) AS i
            FROM toks
        ),
        segs AS (
            SELECT doc_id,
                   md5(array_to_string(
                       list_slice(t, i * {SEGMENT_TOKENS} + 1,
                                  i * {SEGMENT_TOKENS} + {SEGMENT_TOKENS}), ' '
                   )) AS seg_hash
            FROM idx
        ),
        seg_counts AS (
            SELECT seg_hash, COUNT(*) AS n_occurrences
            FROM segs GROUP BY seg_hash
        )
        SELECT s.doc_id,
               CAST(COUNT(*) AS BIGINT) AS n_segments,
               CAST(SUM(CASE WHEN c.n_occurrences > 1 THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_dup_segments,
               SUM(CASE WHEN c.n_occurrences > 1 THEN 1 ELSE 0 END)
                   / CAST(COUNT(*) AS DOUBLE) AS dup_segment_ratio
        FROM segs s JOIN seg_counts c ON s.seg_hash = c.seg_hash
        GROUP BY s.doc_id
    """,
    tags=("llm", "dedup"),
)
def dedup_segment_crossdoc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-document boilerplate detection (the CCNet line-dedup shape,
    over fixed {SEGMENT_TOKENS}-token segments since the corpus has no
    newlines): chunk each doc into non-overlapping token windows, count
    identical segments corpus-wide, and report per-doc how much of the
    document is duplicated elsewhere. Downstream filters drop docs with
    high ``dup_segment_ratio`` (template spam) or rewrite them without
    the shared segments.

    Scale shape: segments carry only (doc_id, md5) — raw text never
    shuffles. Two linear shuffles: count-by-segment-hash (map-side
    combinable) and the join back (seg_counts has ONE row per distinct
    segment, so a hot boilerplate segment fans out only to its own
    occurrences — no quadratic candidate blowup, unlike naive
    shingle-join dedup), then one grouped count by doc. ``spread``
    before the CPU-heavy tokenize+md5: the single-file fixture is one
    input split, which would serialize the segmenting on one core."""
    docs = spread(load_table(spark, sf_dir, "documents"), spark)
    # materialize the token array once per row — referencing split(...)
    # inside the lambda would re-tokenize per segment
    toks = docs.select("doc_id", F.split("text", " ").alias("t"))
    seg = F.expr(
        f"transform(sequence(0, cast(floor((size(t) - 1)"
        f" / {SEGMENT_TOKENS}.0) as int)),"
        f" i -> md5(array_join(slice(t,"
        f" i * {SEGMENT_TOKENS} + 1, {SEGMENT_TOKENS}), ' ')))"
    )
    segs = toks.select("doc_id", F.explode(seg).alias("seg_hash"))
    seg_counts = segs.groupBy("seg_hash").agg(
        F.count(F.lit(1)).alias("n_occurrences")
    )
    dup = F.when(F.col("n_occurrences") > 1, 1).otherwise(0)
    return (
        segs.join(seg_counts, "seg_hash")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_segments"),
            F.sum(dup).cast("long").alias("n_dup_segments"),
            (F.sum(dup) / F.count(F.lit(1)).cast("double")).alias(
                "dup_segment_ratio"
            ),
        )
    )


@register(
    "text_doc_repetition",
    oracle="""
        WITH toks AS (
            SELECT doc_id, string_split(text, ' ') AS t FROM documents
        ),
        big AS (
            SELECT doc_id,
                   t[i] || ' ' || t[i + 1] AS bigram
            FROM (
                SELECT doc_id, t,
                       unnest(generate_series(1, len(t) - 1)) AS i
                FROM toks
                WHERE len(t) >= 2
            )
        ),
        big_counts AS (
            SELECT doc_id, bigram, COUNT(*) AS c
            FROM big GROUP BY doc_id, bigram
        ),
        big_stats AS (
            SELECT doc_id,
                   MAX(c) AS top_bigram_count,
                   SUM(c) AS n_bigrams
            FROM big_counts GROUP BY doc_id
        )
        SELECT k.doc_id,
               CAST(len(k.t) AS BIGINT) AS n_tokens,
               1.0 - len(list_distinct(k.t)) / CAST(len(k.t) AS DOUBLE)
                   AS dup_token_ratio,
               CAST(COALESCE(b.top_bigram_count, 0) AS BIGINT)
                   AS top_bigram_count,
               COALESCE(b.top_bigram_count / CAST(b.n_bigrams AS DOUBLE), 0.0)
                   AS top_bigram_ratio
        FROM toks k LEFT JOIN big_stats b ON k.doc_id = b.doc_id
    """,
    tags=("llm", "text"),
)
def text_doc_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Within-document repetition metrics — the Gopher repetition gates:
    ``dup_token_ratio`` (1 − distinct/total tokens) catches token spam;
    ``top_bigram_ratio`` (share of the most frequent bigram among all
    bigram occurrences) catches phrase loops. Docs exceeding thresholds
    (Gopher uses ~0.2 for top-bigram share) get filtered before
    training.

    Scale shape: token stats are per-row map work; the bigram path is
    explode → two grouped counts keyed by doc (map-side combinable,
    no skew — keys are doc-scoped) → broadcast-sized per-doc join.
    ``spread`` before the tokenize/bigram expressions: the single-file
    fixture is one input split, which would serialize that CPU work on
    one core."""
    docs = spread(load_table(spark, sf_dir, "documents"), spark)
    # materialize the token array once per row — referencing split(...)
    # inside the lambda would re-tokenize per bigram
    toks = docs.select("doc_id", F.split("text", " ").alias("t"))
    bigram = F.expr(
        "transform(sequence(1, size(t) - 1),"
        " i -> concat(element_at(t, i), ' ', element_at(t, i + 1)))"
    )
    base = toks.select(
        "doc_id",
        F.size("t").cast("long").alias("n_tokens"),
        (
            F.lit(1.0)
            - F.size(F.array_distinct("t")) / F.size("t").cast("double")
        ).alias("dup_token_ratio"),
    )
    big_stats = (
        toks.filter(F.size("t") >= 2)
        .select("doc_id", F.explode(bigram).alias("bigram"))
        .groupBy("doc_id", "bigram")
        .agg(F.count(F.lit(1)).alias("c"))
        .groupBy("doc_id")
        .agg(
            F.max("c").alias("top_bigram_count"),
            F.sum("c").alias("n_bigrams"),
        )
    )
    return (
        base.join(big_stats, "doc_id", "left")
        .select(
            "doc_id",
            "n_tokens",
            "dup_token_ratio",
            F.coalesce("top_bigram_count", F.lit(0)).cast("long").alias(
                "top_bigram_count"
            ),
            F.coalesce(
                F.col("top_bigram_count") / F.col("n_bigrams").cast("double"),
                F.lit(0.0),
            ).alias("top_bigram_ratio"),
        )
    )


#: temperature-sampling exponent (sample_temperature_mix); alpha < 1
#: flattens the source distribution toward uniform
MIX_ALPHA = 0.5
#: target corpus fraction after temperature mixing
MIX_TARGET_FRACTION = 0.5
#: fixed per-stratum draw size (sample_topn_per_stratum)
N_PER_STRATUM = 10


@register(
    "sample_temperature_mix",
    oracle=f"""
        WITH per_source AS (
            SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs
            FROM documents GROUP BY source
        ),
        weighted AS (
            SELECT source, n_docs,
                   POW(n_docs, {MIX_ALPHA}) /
                       SUM(POW(n_docs, {MIX_ALPHA})) OVER () AS mix_weight,
                   SUM(n_docs) OVER () AS total_docs
            FROM per_source
        )
        SELECT source, n_docs, mix_weight,
               LEAST(1.0, mix_weight * total_docs * {MIX_TARGET_FRACTION}
                              / n_docs) AS keep_rate,
               LEAST(1.0, mix_weight * total_docs * {MIX_TARGET_FRACTION}
                              / n_docs) * n_docs AS expected_docs
        FROM weighted
    """,
    tags=("llm", "sample"),
)
def sample_temperature_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-scaled source mixing — the multilingual-pretraining
    recipe (mT5/XLM-R): source i gets weight n_i^α / Σ n_j^α, flattening
    the natural distribution toward uniform (α<1 upsamples the tail),
    then per-source keep rates hit a target corpus fraction, capped at
    1.0 (can't keep more than exists). The emitted keep_rate feeds the
    same md5-bucket filter as sample_stratified_seeded for the actual
    row selection.

    Scale shape: one map-side-combinable grouped count collapses the
    corpus to |sources| rows; the weight normalization is a window over
    that driver-scale table. The corpus itself is never shuffled."""
    docs = load_table(spark, sf_dir, "documents")
    per_source = docs.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs")
    )
    w = Window.partitionBy()
    mix_weight = F.pow("n_docs", F.lit(MIX_ALPHA)) / F.sum(
        F.pow("n_docs", F.lit(MIX_ALPHA))
    ).over(w)
    total_docs = F.sum("n_docs").over(w)
    keep_rate = F.least(
        F.lit(1.0),
        F.col("mix_weight") * F.col("total_docs") * MIX_TARGET_FRACTION
        / F.col("n_docs"),
    )
    return (
        per_source.withColumn("mix_weight", mix_weight)
        .withColumn("total_docs", total_docs)
        .withColumn("keep_rate", keep_rate)
        .withColumn("expected_docs", F.col("keep_rate") * F.col("n_docs"))
        .select("source", "n_docs", "mix_weight", "keep_rate", "expected_docs")
    )


@register(
    "sample_topn_per_stratum",
    oracle=f"""
        SELECT doc_id, lang, draw_rank
        FROM (
            SELECT doc_id, lang,
                   CAST(ROW_NUMBER() OVER (
                       PARTITION BY lang
                       ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id
                   ) AS BIGINT) AS draw_rank
            FROM documents
        )
        WHERE draw_rank <= {N_PER_STRATUM}
    """,
    tags=("llm", "sample"),
)
def sample_topn_per_stratum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-size uniform draw per stratum (the eval-set builder: exactly
    N docs per language, reproducibly): rank docs within each stratum by
    md5(doc_id) — a deterministic shuffle — and keep the first N. Unlike
    rate-based sampling this guarantees exact per-stratum counts, and the
    md5 order makes the draw an invariant of the dataset, not the run.

    Scale shape: one shuffle on the stratum key; per-partition
    TOP-N-by-rank (Spark's WindowGroupLimit pushes the rank<=N predicate
    into the sort, so only N rows per stratum survive the exchange's
    consumer side — no full-stratum sort materialization)."""
    docs = load_table(spark, sf_dir, "documents")
    w = Window.partitionBy("lang").orderBy(
        F.md5(F.col("doc_id").cast("string")), "doc_id"
    )
    return (
        docs.select(
            "doc_id",
            "lang",
            F.row_number().over(w).cast("long").alias("draw_rank"),
        )
        .filter(F.col("draw_rank") <= N_PER_STRATUM)
    )


#: decontamination n-gram size and benchmark-slice percent
DECON_NGRAM = 5
DECON_BENCH_PCT = 5

#: quality-gate thresholds (Gopher/C4-style rule composition, tuned so
#: the fixture exercises every rule: short=43, low_diversity~40%,
#: repetitive=91 of 500 docs at sf0.01)
GATE_MIN_WORDS = 20
GATE_MIN_DISTINCT_RATIO = 0.40
GATE_MAX_TOP_WORD_FRAC = 0.12


def _doc_grams(docs: DataFrame, n: int = DECON_NGRAM) -> DataFrame:
    """(doc_id, bucket, gs) per document: the distinct int64 hashes of
    its word-``n``-grams plus its benchmark-slice bucket — the shared
    front end of both decontamination plans, so the direct scan and
    the posting index can never tokenize differently."""
    # over a projected ``toks`` column: split(text) inside the lambda
    # would re-split the whole text per index (O(words²) per doc)
    gram_hashes = F.array_distinct(
        F.expr(
            f"transform(sequence(1, size(toks) - {n - 1}),"
            " i -> cast(conv(substring(md5("
            f"concat_ws(' ', slice(toks, i, {n}))"
            "), 1, 15), 16, 10) as bigint))"
        )
    )
    return (
        docs.select("doc_id", F.split("text", " ").alias("toks"))
        .filter(F.size("toks") >= n)
        .select(
            "doc_id",
            _md5_bucket("doc_id", 100).alias("bucket"),
            gram_hashes.alias("gs"),
        )
    )


#: one oracle, two plans: ``text_decontaminate`` (direct broadcast
#: scan) and ``text_decontaminate_indexed`` (probe of the persisted
#: n-gram posting index) MUST produce identical contamination reports —
#: sharing the SQL makes the driver prove it against the same ground
#: truth.
_DECON_ORACLE = f"""
        WITH b AS (
            SELECT d.*,
                   CAST(('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 15))
                        AS BIGINT) % 100 AS bucket
            FROM documents d
        ),
        grams AS (
            SELECT doc_id, bucket,
                   list_distinct(list_transform(
                       range(1, len(string_split(text, ' ')) - {DECON_NGRAM - 2}),
                       i -> CAST(('0x' || substring(md5(array_to_string(
                                string_split(text, ' ')[i:i+{DECON_NGRAM - 1}], ' '
                            )), 1, 15)) AS BIGINT)
                   )) AS gs
            FROM b
            WHERE len(string_split(text, ' ')) >= {DECON_NGRAM}
        ),
        bench AS (
            SELECT DISTINCT unnest(gs) AS h FROM grams WHERE bucket < {DECON_BENCH_PCT}
        ),
        corpus AS (
            SELECT doc_id, len(gs) AS n_grams, unnest(gs) AS h
            FROM grams WHERE bucket >= {DECON_BENCH_PCT}
        )
        SELECT c.doc_id,
               CAST(ANY_VALUE(c.n_grams) AS BIGINT) AS n_grams,
               CAST(COUNT(*) AS BIGINT) AS n_hits,
               CAST(COUNT(*) AS DOUBLE) / ANY_VALUE(c.n_grams)
                   AS contamination_frac
        FROM corpus c JOIN bench USING (h)
        GROUP BY c.doc_id
    """


@register(
    "text_decontaminate",
    oracle=_DECON_ORACLE,
    tags=("llm", "curation"),
)
def text_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination — flag training documents that share
    word-5-grams (``DECON_NGRAM``) with a held-out evaluation slice
    (here: a deterministic 5%-bucket of the corpus standing in for the
    benchmark set). The canonical pretraining hygiene step:
    any doc overlapping the eval set inflates reported scores and must
    be dropped before training.

    Scale shape: the benchmark n-gram set is tiny relative to the
    corpus (eval suites are fixed-size; the corpus is 100 TB), so it
    BROADCASTS — the corpus side is one linear scan + explode and a
    doc-keyed partial-agg count. No corpus self-join, no shuffle of
    text: only (doc_id, int64-hash) pairs that match the broadcast
    filter reach the aggregation."""
    # materialize the shingle derivation ONCE: the broadcast bench side
    # and the corpus side otherwise each run the full tokenize+md5 pass
    # (two corpus scans in one plan — the KN-family defect, guide §1.2)
    grams = _doc_grams(
        spread(load_table(spark, sf_dir, "documents"), spark)
    ).localCheckpoint(eager=True)
    bench = (
        grams.filter(F.col("bucket") < DECON_BENCH_PCT)
        .select(F.explode("gs").alias("h"))
        .distinct()
    )
    corpus = grams.filter(F.col("bucket") >= DECON_BENCH_PCT).select(
        "doc_id", F.size("gs").cast("long").alias("n_grams"), F.explode("gs").alias("h")
    )
    return (
        corpus.join(F.broadcast(bench), "h")
        .groupBy("doc_id")
        .agg(
            F.first("n_grams").alias("n_grams"),
            F.count(F.lit(1)).alias("n_hits"),
        )
        .select(
            "doc_id",
            "n_grams",
            "n_hits",
            (F.col("n_hits").cast("double") / F.col("n_grams")).alias(
                "contamination_frac"
            ),
        )
    )


def build_gram_index(
    spark: SparkSession, docs: DataFrame, index_dir: str
) -> None:
    """Persist the corpus N-GRAM POSTING INDEX: one row per (doc_id,
    gram-hash) with the doc's total gram count denormalized alongside,
    landed ``repartitionByRange`` on the hash so every file's parquet
    footer carries a TIGHT h min/max — a probe's hash predicate prunes
    row groups the same way the stats manifest prunes key ranges. This
    is the expensive half of decontamination (tokenize + hash the whole
    corpus) done ONCE: every subsequent benchmark release probes the
    posting table's int64 keys and never re-reads a byte of text.

    The posting frame is eagerly materialized BEFORE the range write:
    ``repartitionByRange`` runs a sampling job over its input, and
    without the checkpoint that sampling re-ran the entire
    tokenize+hash+explode lineage — the build paid its expensive stage
    twice (measured 7.6 s -> 3.4 s at sf0.1). The checkpoint holds
    ~24-byte int rows, an order of magnitude smaller than re-reading
    and re-hashing the text; at petabyte scale the same trade says
    land the postings unsorted once and range-compact from the cheap
    int table, never re-tokenize."""
    postings = (
        _doc_grams(docs)
        .select(
            "doc_id",
            F.size("gs").cast("long").alias("n_grams"),
            # gs is never empty; explode would infer a size(gs) > 0
            # filter that is pushed below the projections with
            # split(text) inlined into the shingle lambda
            F.explode_outer("gs").alias("h"),
        )
        .localCheckpoint(eager=True)
    )
    postings.repartitionByRange(8, "h").write.mode("overwrite").parquet(
        index_dir
    )


def probe_gram_index(
    spark: SparkSession, index_dir: str, bench: DataFrame
) -> DataFrame:
    """Contamination report from the persisted posting index: broadcast
    the benchmark's distinct gram hashes (eval suites are fixed-size),
    join against the posting table, count hits per doc. Identical
    output contract to ``text_decontaminate``; the corpus text is never
    touched — only (doc_id, n_grams, h) integers flow."""
    try:
        idx = spark.read.parquet(index_dir)
    except Exception:
        # empty-corpus index: a 0-row build writes no readable parquet —
        # bootstrap state, nothing can be contaminated
        return spark.createDataFrame(
            [],
            "doc_id long, n_grams long, n_hits long,"
            " contamination_frac double",
        )
    return (
        idx.join(F.broadcast(bench.select("h").distinct()), "h")
        .groupBy("doc_id")
        .agg(
            F.first("n_grams").alias("n_grams"),
            F.count(F.lit(1)).alias("n_hits"),
        )
        .select(
            "doc_id",
            "n_grams",
            "n_hits",
            (F.col("n_hits").cast("double") / F.col("n_grams")).alias(
                "contamination_frac"
            ),
        )
    )


@register(
    "text_decontaminate_indexed",
    oracle=_DECON_ORACLE,
    tags=("llm", "curation", "index"),
)
def text_decontaminate_indexed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Decontamination THROUGH the persisted n-gram posting index —
    same report as ``text_decontaminate`` (the driver proves it against
    the identical oracle), different cost model: the direct plan
    re-tokenizes the corpus per benchmark, this plan tokenizes once at
    index-build and answers each new benchmark release with an
    int64-key probe (broadcast bench hashes -> posting join -> per-doc
    count). At 100 TB the difference is a full-corpus CPU pass per eval
    suite vs a columnar scan of a posting table a fraction its size —
    with the range layout's footer stats pruning row groups when the
    bench hash set is narrow. The index build itself is charged to this
    query's runtime here; in production it is amortized across every
    probe (same artifact-lifecycle argument as ``llm/search.py``)."""
    from aws_seismic_data_pipeline_spark.catalog import (
        scratch_cleanup,
        scratch_path,
    )

    grams = _doc_grams(spread(load_table(spark, sf_dir, "documents"), spark))
    index_dir = scratch_path(spark, sf_dir, "gram_index")
    with scratch_cleanup(index_dir):
        build_gram_index(
            spark,
            load_table(spark, sf_dir, "documents").filter(
                _md5_bucket("doc_id", 100) >= DECON_BENCH_PCT
            ),
            index_dir,
        )
        bench = (
            grams.filter(F.col("bucket") < DECON_BENCH_PCT)
            .select(F.explode_outer("gs").alias("h"))  # see build_gram_index
            .distinct()
        )
        return probe_gram_index(spark, index_dir, bench).localCheckpoint(
            eager=True
        )


QUALITY_GATE_ORACLE = f"""
        WITH w AS (
            SELECT doc_id, unnest(string_split(text, ' ')) AS word FROM documents
        ),
        per_word AS (
            SELECT doc_id, word, COUNT(*) AS c FROM w GROUP BY 1, 2
        ),
        m AS (
            SELECT doc_id,
                   CAST(SUM(c) AS BIGINT) AS n_words,
                   CAST(COUNT(*) AS BIGINT) AS n_distinct,
                   CAST(MAX(c) AS BIGINT) AS max_c,
                   CAST(SUM(len(word) * c) AS BIGINT) AS total_chars
            FROM per_word GROUP BY doc_id
        )
        SELECT doc_id, n_words,
               CAST(n_distinct AS DOUBLE) / n_words AS distinct_ratio,
               CAST(max_c AS DOUBLE) / n_words AS top_word_frac,
               CAST(total_chars AS DOUBLE) / n_words AS mean_word_len,
               (n_words >= {GATE_MIN_WORDS}
                AND CAST(n_distinct AS DOUBLE) / n_words >= {GATE_MIN_DISTINCT_RATIO}
                AND CAST(max_c AS DOUBLE) / n_words <= {GATE_MAX_TOP_WORD_FRAC})
                   AS keep,
               concat_ws(',',
                   CASE WHEN n_words < {GATE_MIN_WORDS} THEN 'short' END,
                   CASE WHEN CAST(n_distinct AS DOUBLE) / n_words
                             < {GATE_MIN_DISTINCT_RATIO} THEN 'low_diversity' END,
                   CASE WHEN CAST(max_c AS DOUBLE) / n_words
                             > {GATE_MAX_TOP_WORD_FRAC} THEN 'repetitive' END
               ) AS failed_rules
        FROM m
"""


@register(
    "curate_quality_gate",
    oracle=QUALITY_GATE_ORACLE,
    tags=("llm", "curation"),
)
def curate_quality_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Composed document-quality gate (the Gopher/C4 rule stack as ONE
    pass): per-doc word count, type/token diversity, and top-word
    concentration, each compared against a threshold; emits the keep
    verdict AND the named list of failed rules so downstream recipes
    can audit WHY a document was dropped, not just that it was.

    Scale shape: one per-row projection over each document's split
    tokens (:func:`quality_gate`; the top-word count is a run-length
    scan of the sorted tokens) — one corpus scan, no explode, no
    shuffle beyond ``spread``, no joins, no Python. All ratio columns
    are single divisions of exact integers, so cross-engine hashes are
    exact."""
    return quality_gate(spread(load_table(spark, sf_dir, "documents"), spark))


def _gate_stats(toks: F.Column) -> dict[str, F.Column]:
    """The gate's per-document word statistics over the document's
    space-split tokens, as row-local expressions: word count, distinct
    words, the largest single-word count (one run-length scan of the
    sorted tokens, O(n log n)) and total characters."""

    def step(acc, word):
        run = F.when(word == acc["w"], acc["run"] + 1).otherwise(
            F.lit(1).cast("long")
        )
        return F.struct(
            word.alias("w"),
            run.alias("run"),
            F.greatest(acc["best"], run).alias("best"),
        )

    zero = F.lit(0).cast("long")
    max_c = F.aggregate(
        F.array_sort(toks),
        F.struct(
            F.lit(None).cast("string").alias("w"),
            zero.alias("run"),
            zero.alias("best"),
        ),
        step,
        lambda acc: acc["best"],
    )
    return {
        "n_words": F.size(toks).cast("long"),
        "n_distinct": F.size(F.array_distinct(toks)).cast("long"),
        "max_c": max_c,
        "total_chars": F.length(F.array_join(toks, "")).cast("long"),
    }


def _gate_verdict(stats: dict[str, F.Column]) -> dict[str, F.Column]:
    """The Gopher/C4 rule stack over :func:`_gate_stats`: the two ratios,
    the keep verdict and the named failed rules."""
    n = stats["n_words"]
    dr = stats["n_distinct"].cast("double") / n
    tf = stats["max_c"].cast("double") / n
    return {
        "distinct_ratio": dr,
        "top_word_frac": tf,
        "keep": (n >= GATE_MIN_WORDS)
        & (dr >= GATE_MIN_DISTINCT_RATIO)
        & (tf <= GATE_MAX_TOP_WORD_FRAC),
        "failed_rules": F.concat_ws(
            ",",
            F.when(n < GATE_MIN_WORDS, F.lit("short")),
            F.when(dr < GATE_MIN_DISTINCT_RATIO, F.lit("low_diversity")),
            F.when(tf > GATE_MAX_TOP_WORD_FRAC, F.lit("repetitive")),
        ),
    }


def quality_gate(docs: DataFrame) -> DataFrame:
    """The gate body over an explicit (doc_id, text) frame — shared by
    the batch query above, the streaming deployment
    (``streaming/jobs.py: stream_quality_gate``) and the release
    pipeline, so the rule stack lives in exactly one place. Every
    statistic is a function of one document, so the gate is a pure
    per-row projection: no explode, no shuffle."""
    stats = _gate_stats(F.col("toks"))
    m = (
        docs.filter(F.col("text").isNotNull())
        .select("doc_id", F.split("text", " ").alias("toks"))
        .select("doc_id", *[c.alias(name) for name, c in stats.items()])
    )
    verdict = _gate_verdict({name: F.col(name) for name in stats})
    return m.select(
        "doc_id",
        "n_words",
        verdict["distinct_ratio"].alias("distinct_ratio"),
        verdict["top_word_frac"].alias("top_word_frac"),
        (F.col("total_chars").cast("double") / F.col("n_words")).alias(
            "mean_word_len"
        ),
        verdict["keep"].alias("keep"),
        verdict["failed_rules"].alias("failed_rules"),
    )


@register(
    "curate_pretrain_manifest",
    oracle=f"""
        WITH b AS (
            SELECT d.*,
                   CAST(('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 15))
                        AS BIGINT) % 100 AS bucket
            FROM documents d
        ),
        w AS (
            SELECT doc_id, unnest(string_split(text, ' ')) AS word FROM b
        ),
        per_word AS (
            SELECT doc_id, word, COUNT(*) AS c FROM w GROUP BY 1, 2
        ),
        gate AS (
            SELECT doc_id,
                   CAST(SUM(c) AS BIGINT) AS n_words,
                   (SUM(c) >= {GATE_MIN_WORDS}
                    AND CAST(COUNT(*) AS DOUBLE) / SUM(c)
                        >= {GATE_MIN_DISTINCT_RATIO}
                    AND CAST(MAX(c) AS DOUBLE) / SUM(c)
                        <= {GATE_MAX_TOP_WORD_FRAC}) AS keep
            FROM per_word GROUP BY doc_id
        ),
        grams AS (
            SELECT doc_id, bucket,
                   list_distinct(list_transform(
                       range(1, len(string_split(text, ' ')) - {DECON_NGRAM - 2}),
                       i -> CAST(('0x' || substring(md5(array_to_string(
                                string_split(text, ' ')[i:i+{DECON_NGRAM - 1}], ' '
                            )), 1, 15)) AS BIGINT)
                   )) AS gs
            FROM b
            WHERE len(string_split(text, ' ')) >= {DECON_NGRAM}
        ),
        bench AS (
            SELECT DISTINCT unnest(gs) AS h FROM grams
            WHERE bucket < {DECON_BENCH_PCT}
        ),
        contaminated AS (
            SELECT DISTINCT c.doc_id
            FROM (SELECT doc_id, unnest(gs) AS h FROM grams
                  WHERE bucket >= {DECON_BENCH_PCT}) c
            JOIN bench USING (h)
        ),
        keepers AS (
            SELECT MIN(doc_id) AS doc_id FROM b GROUP BY text
        ),
        train AS (
            SELECT b.doc_id, gate.n_words
            FROM b
            JOIN gate USING (doc_id)
            JOIN keepers USING (doc_id)
            WHERE b.bucket >= {DECON_BENCH_PCT}
              AND gate.keep
              AND b.doc_id NOT IN (SELECT doc_id FROM contaminated)
        )
        SELECT CAST(('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 15))
                    AS BIGINT) % {N_SHARDS} AS shard_id,
               CAST(COUNT(*) AS BIGINT) AS n_docs,
               CAST(SUM(n_words) AS BIGINT) AS n_tokens
        FROM train
        GROUP BY 1
    """,
    tags=("llm", "curation"),
)
def curate_pretrain_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The END-TO-END pretraining data build as ONE Spark plan: quality
    gate (Gopher rules) → benchmark decontamination (5-gram overlap
    with the held-out slice, which is itself excluded from training) →
    exact dedup (keep lowest doc_id per identical text) → deterministic
    md5 sharding, emitting the per-shard manifest (doc + token counts)
    a training job consumes. One registered query proves the stages
    COMPOSE — each piece is separately oracle-checked
    (``curate_quality_gate``, ``text_decontaminate``, ``dedup_exact``,
    ``shard_assign_hash``); this pins the whole pipeline's output.

    Scale shape: the union of its parts — no new shuffle beyond the
    component aggs, the benchmark set still broadcasts (eval-scale,
    bounded), the contaminated id set rides an UNPINNED anti-join: it
    is corpus-derived (contamination-rate-sized), so AQE broadcasts it
    at the typical sub-percent rate but may demote to a shuffle if a
    pathological corpus is mostly contaminated; dedup keepers shuffle
    (text-hash, doc_id) pairs once, and the manifest is N_SHARDS rows
    from a map-side partial agg."""
    docs = spread(load_table(spark, sf_dir, "documents"), spark).withColumn(
        "bucket", _md5_bucket("doc_id", 100)
    )
    gate = _gate_stats(F.split("text", " "))
    n = DECON_NGRAM
    # over a projected ``toks`` column: split(text) inside the lambda
    # would re-split the whole text per index (O(words²) per doc)
    gram_hashes = F.array_distinct(
        F.expr(
            f"transform(sequence(1, size(toks) - {n - 1}),"
            " i -> cast(conv(substring(md5("
            f"concat_ws(' ', slice(toks, i, {n}))"
            "), 1, 15), 16, 10) as bigint))"
        )
    )
    # materialize the 5-gram md5 derivation once — bench and the
    # contaminated probe otherwise each run the full shingle pass
    # (the text_decontaminate fix, applied to the composition)
    grams = (
        docs.select("doc_id", "bucket", F.split("text", " ").alias("toks"))
        .filter(F.size("toks") >= n)
        .select("doc_id", "bucket", gram_hashes.alias("gs"))
        .localCheckpoint(eager=True)
    )
    bench = (
        grams.filter(F.col("bucket") < DECON_BENCH_PCT)
        .select(F.explode("gs").alias("h"))
        .distinct()
    )
    contaminated = (
        grams.filter(F.col("bucket") >= DECON_BENCH_PCT)
        .select("doc_id", F.explode("gs").alias("h"))
        .join(F.broadcast(bench), "h")
        .select("doc_id")
        .distinct()
    )
    keepers = docs.groupBy("text").agg(F.min("doc_id").alias("doc_id")).select("doc_id")
    train = (
        docs.filter(F.col("bucket") >= DECON_BENCH_PCT)
        .filter(_gate_verdict(gate)["keep"])
        .select("doc_id", gate["n_words"].alias("n_words"))
        .join(keepers, "doc_id", "left_semi")
        .join(contaminated, "doc_id", "left_anti")
    )
    return (
        train.select(_md5_bucket("doc_id", N_SHARDS).alias("shard_id"), "n_words")
        .groupBy("shard_id")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_words").alias("n_tokens"),
        )
    )


#: total token budget the epoch plan allocates across sources
EPOCH_TOKEN_BUDGET = 100_000


@register(
    "curate_mix_epochs",
    oracle=f"""
        WITH per_source AS (
            SELECT source,
                   CAST(COUNT(*) AS BIGINT) AS n_docs,
                   CAST(SUM(len(string_split(text, ' '))) AS BIGINT)
                       AS n_tokens
            FROM documents GROUP BY source
        ),
        weighted AS (
            SELECT source, n_docs, n_tokens,
                   POW(n_tokens, {MIX_ALPHA}) /
                       SUM(POW(n_tokens, {MIX_ALPHA})) OVER () AS mix_weight
            FROM per_source
        )
        SELECT source, n_docs, n_tokens,
               ROUND(mix_weight, 8) AS mix_weight,
               ROUND(mix_weight * {EPOCH_TOKEN_BUDGET}, 6) AS target_tokens,
               ROUND((mix_weight * {EPOCH_TOKEN_BUDGET}) / n_tokens, 8)
                   AS epochs
        FROM weighted
    """,
    tags=("llm", "sample"),
)
def curate_mix_epochs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-budget EPOCH plan — the step between temperature mixing
    (``sample_temperature_mix``, doc-level keep rates) and sequence
    packing: allocate a fixed training-token budget across sources by
    temperature weight over TOKEN counts, and emit each source's epoch
    factor (target tokens / available tokens; >1 means the source is
    repeated — the small-high-quality-corpus upsampling every
    pretraining run does, <1 means subsampling).

    Scale shape: one map-side-combinable grouped count+sum collapses
    the corpus to |sources| rows; weights and epochs are a window over
    that driver-scale table. The corpus is never shuffled."""
    docs = load_table(spark, sf_dir, "documents")
    per_source = docs.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(F.size(F.split("text", " "))).cast("long").alias("n_tokens"),
    )
    w = Window.partitionBy()
    mix_weight = F.pow("n_tokens", F.lit(MIX_ALPHA)) / F.sum(
        F.pow("n_tokens", F.lit(MIX_ALPHA))
    ).over(w)
    out = per_source.withColumn("mix_weight", mix_weight)
    target = F.col("mix_weight") * F.lit(EPOCH_TOKEN_BUDGET)
    # the Σpow normalizer folds irrational sqrts, so the two engines'
    # summation orders differ in the last ulp: round to 8 decimals —
    # comfortably above the ~1e-16 relative libm/summation-order noise
    # (1e-8 margin vs 1e-16 noise), matching target_tokens/epochs
    return out.select(
        "source",
        "n_docs",
        "n_tokens",
        F.round("mix_weight", 8).alias("mix_weight"),
        F.round(target, 6).alias("target_tokens"),
        F.round(target / F.col("n_tokens"), 8).alias("epochs"),
    )


@register(
    "curate_importance_weights",
    oracle="""
        WITH toks AS (
            SELECT doc_id, lang, unnest(string_split(text, ' ')) AS tok
            FROM documents
        ),
        raw_counts AS (
            SELECT tok, CAST(COUNT(*) AS BIGINT) AS c_raw FROM toks GROUP BY tok
        ),
        tgt_counts AS (
            SELECT tok, CAST(COUNT(*) AS BIGINT) AS c_tgt
            FROM toks WHERE lang = 'en' GROUP BY tok
        ),
        sizes AS (
            SELECT CAST(COUNT(*) AS DOUBLE) AS n_raw,
                   CAST(COUNT(*) FILTER (WHERE lang = 'en') AS DOUBLE) AS n_tgt,
                   CAST(COUNT(DISTINCT tok) AS DOUBLE) AS v
            FROM toks
        ),
        ratios AS (
            SELECT r.tok,
                   ln((COALESCE(t.c_tgt, 0) + 1.0) / (s.n_tgt + s.v))
                 - ln((r.c_raw + 1.0) / (s.n_raw + s.v)) AS log_ratio
            FROM raw_counts r
            LEFT JOIN tgt_counts t ON r.tok = t.tok
            CROSS JOIN sizes s
        )
        SELECT tk.doc_id,
               CAST(COUNT(*) AS BIGINT) AS n_tokens,
               ROUND(SUM(rt.log_ratio), 6) AS log_weight
        FROM toks tk JOIN ratios rt ON tk.tok = rt.tok
        GROUP BY tk.doc_id
    """,
    tags=("llm", "curation", "importance"),
)
def curate_importance_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR-style importance weighting (Xie et al. 2023, "Data
    Selection for Language Models via Importance Resampling"): score
    every raw document by how much a TARGET distribution (here the
    ``lang = 'en'`` slice standing in for the high-quality target
    domain) up- or down-weights its tokens relative to the raw corpus.
    Per-token log ratio ``ln p_tgt(t) - ln p_raw(t)`` under add-one
    smoothed unigram models sharing the joint vocabulary; per-doc log
    importance weight is the sum over the doc's tokens (repeats count —
    it is a product of per-token ratios in probability space).
    Downstream, ``curate_pretrain_manifest``-style selection samples
    proportionally to exp(log_weight); emitting the log keeps the
    driver hash away from overflow-prone exp.

    Value parity: each distinct token's log ratio is the same ln of the
    same integer-derived doubles on both engines (division structure
    parenthesized identically); only the per-doc SUM accumulates in
    engine order, so ROUND(6) sits on the aggregate — the
    text_lm_perplexity policy, irrational summands, no halfway hazard.

    Scale shape: one corpus scan explodes tokens (spread() first — the
    single-file fixture otherwise serializes tokenization on one core);
    the exploded frame is localCheckpointed and feeds the raw counts,
    the target counts, the vocab/total sizes, and the final join-back,
    so the corpus is tokenized ONCE. Both unigram models are
    vocabulary-sized (≪ corpus); the 1-row sizes frame rides a
    broadcast cross join; the ratio join-back fans each distinct token
    only to its own occurrences (hot tokens don't multiply), and the
    per-doc rollup shuffles on doc_id — all linear. At 100 TB the
    vocab tables are the only state that must fit per-executor, exactly
    the artifact DSIR's hashed-ngram variant bounds by hashing into
    fixed buckets (our portable-hash ngram machinery in dedup could
    supply that cap unchanged).

    Seed: reference has no notion of corpus selection; its only
    "weighting" is first-come file ordering (app.py:342-360)."""
    docs = spread(load_table(spark, sf_dir, "documents"), spark)
    toks = (
        docs.select(
            "doc_id", "lang", F.explode(F.split("text", " ")).alias("tok")
        )
        .localCheckpoint(eager=True)
    )
    raw_counts = toks.groupBy("tok").agg(
        F.count(F.lit(1)).cast("long").alias("c_raw")
    )
    tgt_counts = (
        toks.filter(F.col("lang") == "en")
        .groupBy("tok")
        .agg(F.count(F.lit(1)).cast("long").alias("c_tgt"))
    )
    sizes = toks.agg(
        F.count(F.lit(1)).cast("double").alias("n_raw"),
        F.count(F.when(F.col("lang") == "en", 1)).cast("double").alias("n_tgt"),
        F.countDistinct("tok").cast("double").alias("v"),
    )
    ratios = (
        raw_counts.join(tgt_counts, "tok", "left")
        .crossJoin(F.broadcast(sizes))
        .select(
            "tok",
            (
                F.log(
                    (F.coalesce(F.col("c_tgt"), F.lit(0)) + F.lit(1.0))
                    / (F.col("n_tgt") + F.col("v"))
                )
                - F.log((F.col("c_raw") + F.lit(1.0)) / (F.col("n_raw") + F.col("v")))
            ).alias("log_ratio"),
        )
    )
    return (
        toks.join(ratios, "tok")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            F.round(F.sum("log_ratio"), 6).alias("log_weight"),
        )
    )


@register(
    "curate_perplexity_buckets",
    oracle="""
        WITH toks AS (
            SELECT doc_id, unnest(string_split(text, ' ')) AS tok
            FROM documents
        ),
        counts AS (
            SELECT tok, CAST(COUNT(*) AS DOUBLE) AS c
            FROM toks GROUP BY tok
        ),
        tot AS (SELECT SUM(c) AS n FROM counts),
        ce AS (
            SELECT t.doc_id,
                   ROUND(AVG(-ln(c.c / tot.n)), 6) AS cross_entropy
            FROM toks t
            JOIN counts c ON t.tok = c.tok
            CROSS JOIN tot
            GROUP BY t.doc_id
        )
        SELECT d.doc_id, d.lang, ce.cross_entropy,
               CASE ntile(3) OVER (PARTITION BY d.lang
                                   ORDER BY ce.cross_entropy, d.doc_id)
                    WHEN 1 THEN 'head' WHEN 2 THEN 'middle'
                    ELSE 'tail' END AS bucket
        FROM ce JOIN documents d ON ce.doc_id = d.doc_id
    """,
    tags=("llm", "curation", "quality"),
)
def curate_perplexity_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet's head/middle/tail split (Wenzek et al. 2020): per
    LANGUAGE, tertile every document by its LM cross-entropy — 'head'
    (most fluent third) feeds pretraining first, 'tail' is the
    low-quality candidate pool. Composes the registered
    ``text_lm_perplexity`` plan (self-trained corpus unigram LM) with a
    per-language ntile window; doc_id breaks cross-entropy ties so the
    tiling is deterministic on both engines (the ROUNDED entropy is
    what's ordered — raw doubles could tile differently at the 6-dp
    boundary).

    Scale shape: inherits the LM plan's one-tokenize-pass shape; the
    window partitions by language (bounded cardinality) but orders
    |docs_lang|-sized partitions — at 100 TB the per-language sort is
    the cost, exactly the global-sort-per-stratum CCNet itself pays
    (and shards by hash first; our `shard_assign_hash` composes the
    same way).

    Seed: reference app has no quality tiers; its nearest analog is
    binary HTTP-200 acceptance (app.py:342-344)."""
    from aws_seismic_data_pipeline_spark.llm.text import text_lm_perplexity

    ce = text_lm_perplexity(spark, sf_dir).select("doc_id", "cross_entropy")
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "lang")
    w = Window.partitionBy("lang").orderBy("cross_entropy", "doc_id")
    return (
        ce.join(docs, "doc_id")
        .withColumn("nt", F.ntile(3).over(w))
        .select(
            "doc_id",
            "lang",
            "cross_entropy",
            F.when(F.col("nt") == 1, "head")
            .when(F.col("nt") == 2, "middle")
            .otherwise("tail")
            .alias("bucket"),
        )
    )


#: sequence-chunking geometry (text_chunk_windows): window of tokens per
#: training chunk and the stride between chunk starts (overlap = W - S)
CHUNK_WINDOW = 32
CHUNK_STRIDE = 16


@register(
    "text_chunk_windows",
    oracle=f"""
        SELECT doc_id,
               CAST(start AS BIGINT) AS chunk_start,
               CAST(len(chunk) AS BIGINT) AS n_chunk_tokens,
               array_to_string(chunk, ' ') AS chunk_text
        FROM (
            SELECT doc_id, start,
                   list_slice(toks, start + 1, start + {CHUNK_WINDOW}) AS chunk
            FROM (
                SELECT doc_id, string_split(text, ' ') AS toks,
                       unnest(generate_series(
                           0, len(string_split(text, ' ')) - 1,
                           {CHUNK_STRIDE})) AS start
                FROM documents
            )
        )
    """,
    tags=("llm", "curation", "chunking"),
)
def text_chunk_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Overlapping token-window chunking — the sequence-preparation
    step between curation and tokenization: every document becomes
    ceil(n_tokens / STRIDE) chunks of up to WINDOW tokens starting at
    0, STRIDE, 2·STRIDE, … (overlap WINDOW−STRIDE tokens, the
    standard sliding-window recipe for long-doc pretraining and RAG
    passage indexing; ``pack_token_budget`` then packs the chunks).
    Pure higher-order expressions: ``sequence`` for the starts,
    posexplode-free ``explode`` + ``slice`` + ``array_join`` — no
    Python, one scan, output fans out ~n/STRIDE per doc.

    Value parity: integer geometry only (slice clamps identically in
    both engines at the tail); chunk_text is exact string equality.

    Scale shape: map-side explode, no shuffle at all — the chunk table
    streams straight to its sink; at 100 TB the fan-out factor is the
    only cost and it's the user-chosen overlap ratio.

    Seed: the reference chunks STREAMS by wall-clock hour
    (app.py:334-340 filename windows); this is the same windowing idea
    applied to token sequences."""
    docs = spread(load_table(spark, sf_dir, "documents"), spark)
    toks = F.split("text", " ")
    return (
        docs.select(
            "doc_id",
            toks.alias("toks"),
            F.explode(
                F.sequence(
                    F.lit(0), F.size(toks) - 1, F.lit(CHUNK_STRIDE)
                )
            ).alias("start"),
        )
        .select(
            "doc_id",
            F.col("start").cast("long").alias("chunk_start"),
            F.slice(F.col("toks"), F.col("start") + 1, CHUNK_WINDOW).alias("chunk"),
        )
        .select(
            "doc_id",
            "chunk_start",
            F.size("chunk").cast("long").alias("n_chunk_tokens"),
            F.array_join("chunk", " ").alias("chunk_text"),
        )
    )


#: per-language sample size for sample_weighted_reservoir
RESERVOIR_K = 20


@register(
    "sample_weighted_reservoir",
    oracle=f"""
        SELECT doc_id, lang, n_chars, CAST(rn AS BIGINT) AS sample_rank
        FROM (
            SELECT doc_id, lang, n_chars,
                   ROW_NUMBER() OVER (
                       PARTITION BY lang
                       ORDER BY ln(CAST(('0x' || substring(
                                  md5(CAST(doc_id AS VARCHAR)), 1, 15))
                                  AS BIGINT) / 1152921504606846976.0)
                                / n_chars DESC,
                                doc_id
                   ) AS rn
            FROM documents
        )
        WHERE rn <= {RESERVOIR_K}
    """,
    tags=("llm", "sample"),
)
def sample_weighted_reservoir(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted sampling WITHOUT replacement, A-ES style (Efraimidis &
    Spirakis 2006): each document draws key u^(1/w) — here in the
    equivalent log form ln(u)/w, ordered descending — where u is the
    engine-portable md5 uniform and w = n_chars, then the top
    RESERVOIR_K per language are kept. Inclusion probability is
    proportional to document length, the token-mass-weighted sampling a
    curation recipe wants when long documents should anchor the sample
    (``sample_stratified_seeded`` is the unweighted cousin). The
    deterministic hash replaces the RNG, so the draw is reproducible
    across engines AND across cluster sizes — no rand() seed
    partition-dependence.

    Value parity: the float key orders the rows but is never emitted —
    output columns are integers/strings only; two documents' keys
    colliding within libm's last-ulp ln disagreement would need a
    ~1e-16 relative tie, excluded by the 60-bit hash (doc_id breaks
    exact ties deterministically anyway).

    Scale shape: one scan + one per-language top-K — the same
    rank-window shape as limit_topk_per_group; at 100 TB the window
    becomes a map-side partial top-K per partition merged on combine
    (K·|langs| state), the classic distributed reservoir."""
    docs = load_table(spark, sf_dir, "documents")
    u = (
        F.expr(
            "cast(conv(substring(md5(cast(doc_id as string)), 1, 15),"
            " 16, 10) as bigint)"
        )
        / F.lit(1152921504606846976.0)
    )
    key = F.log(u) / F.col("n_chars")
    w = Window.partitionBy("lang").orderBy(key.desc(), "doc_id")
    return (
        docs.select("doc_id", "lang", "n_chars")
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= RESERVOIR_K)
        .select(
            "doc_id", "lang", "n_chars",
            F.col("rn").cast("long").alias("sample_rank"),
        )
    )


@register(
    "sample_balanced_labels",
    oracle="""
        WITH sized AS (
            SELECT label, CAST(COUNT(*) AS BIGINT) AS n
            FROM embeddings GROUP BY label
        ),
        floor_n AS (SELECT MIN(n) AS n_min FROM sized),
        ranked AS (
            SELECT vec_id, label,
                   ROW_NUMBER() OVER (
                       PARTITION BY label
                       ORDER BY CAST(('0x' || substring(md5(
                                    CAST(vec_id AS VARCHAR)), 1, 15))
                                AS BIGINT), vec_id
                   ) AS rn
            FROM embeddings
        )
        SELECT label,
               CAST(COUNT(*) AS BIGINT) AS n_kept,
               CAST(MIN(vec_id) AS BIGINT) AS first_kept,
               CAST(SUM(vec_id) AS BIGINT) AS kept_id_sum
        FROM ranked CROSS JOIN floor_n
        WHERE rn <= n_min
        GROUP BY label
    """,
    tags=("llm", "curation", "sample"),
)
def sample_balanced_labels(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CLASS-BALANCED downsampling — every label capped to the rarest
    label's count, membership decided by a deterministic hash rank
    (md5 of the id, ties by id), NOT by Spark's seeded samplers whose
    draws are partition-layout-dependent: re-running on a re-shuffled
    corpus keeps the SAME rows, the reproducibility contract every
    dataset card needs. The per-class quota is the min class size (no
    oversampling — duplication belongs to ``curate_mix_epochs``'s
    epoch weights, not the sampler). Emits per-label audit columns
    (count kept, id checksum) so the driver hash pins the exact
    membership, not just the sizes.

    Scale shape: one count aggregate (map-side combined) for the
    floor, one window rank per label partition — bounded by class
    size; hash ordering also load-balances the rank's sort keys. The
    rarest-class broadcast is one row. Seed: the class imbalance every
    crawl corpus has; the fixture's `label` column stands in for any
    categorical stratum."""
    from aws_seismic_data_pipeline_spark.catalog import load_table

    from pyspark.sql import Window as W

    emb = load_table(spark, sf_dir, "embeddings")
    n_min = emb.groupBy("label").count().agg(
        F.min("count").alias("n_min")
    )
    w = W.partitionBy("label").orderBy(
        F.expr(
            "cast(conv(substring(md5(cast(vec_id as string)), 1, 15),"
            " 16, 10) as bigint)"
        ),
        "vec_id",
    )
    ranked = emb.select(
        "vec_id", "label", F.row_number().over(w).alias("rn")
    )
    return (
        ranked.crossJoin(F.broadcast(n_min))
        .filter(F.col("rn") <= F.col("n_min"))
        .groupBy("label")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_kept"),
            F.min("vec_id").cast("long").alias("first_kept"),
            F.sum("vec_id").cast("long").alias("kept_id_sum"),
        )
    )


@register(
    "curate_dataset_card",
    oracle="""
        WITH t AS (
            SELECT lang, doc_id, n_chars,
                   CAST(len(string_split(text, ' ')) AS BIGINT) AS n_toks,
                   md5(text) AS h
            FROM documents
        )
        SELECT lang,
               CAST(COUNT(*) AS BIGINT) AS n_docs,
               CAST(SUM(n_toks) AS BIGINT) AS total_tokens,
               CAST(SUM(n_chars) AS BIGINT) AS total_chars,
               CAST(MIN(n_toks) AS BIGINT) AS min_tokens,
               CAST(MAX(n_toks) AS BIGINT) AS max_tokens,
               CAST(COUNT(*) - COUNT(DISTINCT h) AS BIGINT) AS n_exact_dups,
               CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_unique_ids
        FROM t GROUP BY lang
    """,
    tags=("llm", "curation"),
)
def curate_dataset_card(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The DATASET CARD rollup — the per-language summary table every
    released corpus publishes (docs, token/char volume, length range,
    within-language exact-duplicate count, id integrity), computed in
    ONE pass: tokencount and content hash are derived per row
    map-side, then a single groupBy(lang) carries every statistic
    (count-distinct of the md5 rides the same shuffle). n_exact_dups
    is rows minus distinct content hashes — the number the
    dedup_rate_report explains and the card must state; n_unique_ids
    == n_docs asserts the primary key held through whatever pipeline
    produced the release. At 100 TB this is the cheapest full-corpus
    statement there is: one scan, one lang-keyed shuffle of partial
    aggregates. Seed: the reference's status dashboard counts
    (``/root/reference/index.html:79-177``) — per-station object
    totals as the operator's at-a-glance card."""
    from aws_seismic_data_pipeline_spark.catalog import load_table, spread

    docs = spread(load_table(spark, sf_dir, "documents"), spark)
    toks = F.size(F.split("text", " ")).cast("long")
    rows = docs.select(
        "lang",
        "doc_id",
        "n_chars",
        toks.alias("n_toks"),
        F.md5("text").alias("h"),
    )
    return rows.groupBy("lang").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("n_toks").cast("long").alias("total_tokens"),
        F.sum("n_chars").cast("long").alias("total_chars"),
        F.min("n_toks").cast("long").alias("min_tokens"),
        F.max("n_toks").cast("long").alias("max_tokens"),
        (F.count(F.lit(1)) - F.count_distinct("h"))
        .cast("long")
        .alias("n_exact_dups"),
        F.count_distinct("doc_id").cast("long").alias("n_unique_ids"),
    )


@register(
    "curate_multimodal_manifest",
    oracle=f"""
        WITH m AS (
            SELECT doc_id AS media_id,
                   4 + doc_id % 13 AS w,
                   3 + doc_id % 7 AS h
            FROM documents
        ),
        px AS (
            SELECT media_id, w, h, unnest(range(0, w*h)) AS p FROM m
        ),
        g AS (
            SELECT media_id, w, h, p,
                   ((media_id*7 + (p*3+0)*5) % 256)
                   + ((media_id*7 + (p*3+1)*5) % 256)
                   + ((media_id*7 + (p*3+2)*5) % 256) AS gray,
                   ((p % w) * 4) // w AS bx,
                   ((p // w) * 4) // h AS by
            FROM px
        ),
        blocks AS (
            SELECT media_id, by*4 + bx AS b,
                   SUM(gray) AS bsum, COUNT(*) AS bcnt
            FROM g GROUP BY media_id, by*4 + bx
        ),
        tot AS (
            SELECT media_id, SUM(bsum) AS tsum, SUM(bcnt) AS tcnt
            FROM blocks GROUP BY media_id
        ),
        hashed AS (
            SELECT b.media_id AS doc_id,
                   CAST(SUM(CASE WHEN b.bsum * t.tcnt > t.tsum * b.bcnt
                                 THEN 1 << (15 - CAST(b.b AS INT))
                                 ELSE 0 END) AS BIGINT) AS phash
            FROM blocks b JOIN tot t USING (media_id)
            GROUP BY b.media_id
        ),
        canonical AS (
            SELECT phash, MIN(doc_id) AS doc_id FROM hashed GROUP BY phash
        ),
        kept AS (
            SELECT d.doc_id, d.n_chars,
                   CAST(('0x' || substring(md5(CAST(d.doc_id AS VARCHAR)),
                                           1, 15)) AS BIGINT)
                       % {N_SHARDS} AS shard_id
            FROM canonical c
            JOIN documents d ON d.doc_id = c.doc_id
            WHERE d.n_chars >= 100
        )
        SELECT shard_id,
               CAST(COUNT(*) AS BIGINT) AS n_docs,
               CAST(SUM(n_chars) AS BIGINT) AS sum_chars,
               CAST(MIN(doc_id) AS BIGINT) AS example_doc
        FROM kept
        GROUP BY shard_id
    """,
    tags=("llm", "curation", "multimodal"),
)
def curate_multimodal_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MULTIMODAL curation manifest — the image-corpus twin of
    ``curate_pretrain_manifest``, composing round 10's perceptual hash
    with the curation machinery: decode+hash every document's image
    (``multimodal.media.image_phashes``), elect one canonical document
    per hash cluster (MIN doc_id — image near-dup dedup, the aHash
    production shape), gate on a minimum caption/text length, and
    hash-shard the survivors into the manifest a training job consumes
    (per shard: doc count, char budget, example member). Every stage is
    exactly recomputable by the oracle — the integer phash, the MIN
    election, the gate, the md5 shard — so the driver hash pins the
    whole composition, not just its pieces. Scale: one fused decode
    pass, one |images|-row groupBy for the election, a broadcast-size
    join back to documents, one shard groupBy."""
    from aws_seismic_data_pipeline_spark.multimodal.media import (
        image_phashes,
    )

    hashes = image_phashes(spark, sf_dir).select(
        F.col("media_id").alias("doc_id"), "phash"
    )
    canonical = hashes.groupBy("phash").agg(F.min("doc_id").alias("doc_id"))
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "n_chars")
    kept = (
        canonical.join(docs, "doc_id")
        .filter(F.col("n_chars") >= 100)
        .select(
            "doc_id",
            "n_chars",
            _md5_bucket("doc_id", N_SHARDS).alias("shard_id"),
        )
    )
    return kept.groupBy("shard_id").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_chars").cast("long").alias("sum_chars"),
        F.min("doc_id").cast("long").alias("example_doc"),
    )


#: release pipeline: packed shard count + per-stratum sample rates
RELEASE_SHARDS = 8
RELEASE_SAMPLE_EN_PCT = 50
RELEASE_SAMPLE_OTHER_PCT = 80

_RELEASE_ORACLE = f"""
    WITH RECURSIVE base AS (
        SELECT doc_id, lang, source, text,
               CAST(len(string_split(text, ' ')) AS BIGINT) AS n_words
        FROM documents
    ),
    urls AS (
        SELECT doc_id,
               CASE WHEN doc_id % 2 = 0 THEN 'HTTPS://' ELSE 'https://' END
               || CASE WHEN doc_id % 3 = 0 THEN upper(source)
                       ELSE source END
               || '.Example.COM'
               || CASE WHEN doc_id % 5 = 0 THEN ':443' ELSE '' END
               || '/docs/' || CAST(doc_id % 140 AS VARCHAR)
               || CASE WHEN doc_id % 4 = 0 THEN '/' ELSE '' END
               || CASE WHEN doc_id % 6 = 0 THEN '?utm_source=feed'
                       ELSE '' END
               || CASE WHEN doc_id % 7 = 0 THEN '#sec1' ELSE '' END
               AS url
        FROM base
    ),
    canon AS (
        SELECT doc_id,
               regexp_replace(
                 regexp_replace(
                   regexp_replace(
                     regexp_replace(lower(url), '#.*$', ''),
                     '\\?utm_[^#]*$', ''),
                   ':443/', '/'),
                 '/$', '') AS curl
        FROM urls
    ),
    u_keep AS (SELECT MIN(doc_id) AS doc_id FROM canon GROUP BY curl),
    s1 AS (SELECT b.* FROM base b JOIN u_keep USING (doc_id)),
    e_keep AS (SELECT MIN(doc_id) AS doc_id FROM s1 GROUP BY text),
    s2 AS (SELECT b.* FROM s1 b JOIN e_keep USING (doc_id)),
    t AS (
        SELECT doc_id,
               list_distinct(
                   list_transform(
                       range(1, len(string_split(text, ' ')) - 1),
                       i -> CAST(('0x' || substring(md5(
                                array_to_string(string_split(text, ' ')[i:i+2], ' ')
                            ), 1, 15)) AS BIGINT)
                   )
               ) AS arr
        FROM s2
        WHERE len(string_split(text, ' ')) >= 3
    ),
    sig AS (
        SELECT doc_id,
           {{_MH_SIG_SQL}}
        FROM t
    ),
    bands AS (
        {{_MH_BAND_SQL}}
    ),
    cand AS (
        SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b
        FROM bands x
        JOIN bands y
          ON x.band = y.band AND x.bkey = y.bkey AND x.doc_id < y.doc_id
    ),
    verified AS (
        SELECT c.doc_a AS a, c.doc_b AS b
        FROM cand c
        JOIN t ta ON c.doc_a = ta.doc_id
        JOIN t tb ON c.doc_b = tb.doc_id
        WHERE CAST(len(list_intersect(ta.arr, tb.arr)) AS DOUBLE)
              / (len(ta.arr) + len(tb.arr) - len(list_intersect(ta.arr, tb.arr)))
              >= {{_LSH_VERIFY_TAU}}
    ),
    und AS (SELECT a, b FROM verified UNION SELECT b, a FROM verified),
    reach(src, dst) AS (
        SELECT a, a FROM und
        UNION
        SELECT r.src, u.b FROM reach r JOIN und u ON r.dst = u.a
    ),
    comp AS (
        SELECT src AS doc_id, MIN(dst) AS cluster_id
        FROM reach GROUP BY src
    ),
    s3 AS (
        SELECT * FROM s2
        WHERE doc_id NOT IN (
            SELECT doc_id FROM comp WHERE doc_id <> cluster_id
        )
    ),
    w AS (
        SELECT doc_id, unnest(string_split(text, ' ')) AS word FROM s3
    ),
    pw AS (SELECT doc_id, word, COUNT(*) AS c FROM w GROUP BY 1, 2),
    gate AS (
        SELECT doc_id,
               (SUM(c) >= {GATE_MIN_WORDS}
                AND CAST(COUNT(*) AS DOUBLE) / SUM(c)
                    >= {GATE_MIN_DISTINCT_RATIO}
                AND CAST(MAX(c) AS DOUBLE) / SUM(c)
                    <= {GATE_MAX_TOP_WORD_FRAC}) AS keep
        FROM pw GROUP BY doc_id
    ),
    s4 AS (
        SELECT s3.* FROM s3 JOIN gate USING (doc_id) WHERE gate.keep
    ),
    s5 AS (
        SELECT * FROM s4
        WHERE CAST(('0x' || substring(md5(CAST(doc_id AS VARCHAR) || ':rel'),
                    1, 15)) AS BIGINT) % 100
              < CASE WHEN lang = 'en' THEN {RELEASE_SAMPLE_EN_PCT}
                     ELSE {RELEASE_SAMPLE_OTHER_PCT} END
    ),
    acct AS (
        SELECT '0_base' AS stage, COUNT(*) AS n_docs,
               SUM(n_words) AS n_tokens FROM base
        UNION ALL
        SELECT '1_url_canonical', COUNT(*), SUM(n_words) FROM s1
        UNION ALL
        SELECT '2_exact', COUNT(*), SUM(n_words) FROM s2
        UNION ALL
        SELECT '3_near_dup', COUNT(*), SUM(n_words) FROM s3
        UNION ALL
        SELECT '4_quality', COUNT(*), SUM(n_words) FROM s4
        UNION ALL
        SELECT '5_sample', COUNT(*), SUM(n_words) FROM s5
        UNION ALL
        SELECT 'shard_' || lpad(CAST(
                   CAST(('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 15))
                        AS BIGINT) % {RELEASE_SHARDS} AS VARCHAR), 2, '0'),
               COUNT(*), SUM(n_words)
        FROM s5 GROUP BY 1
    )
    SELECT stage, CAST(n_docs AS BIGINT) AS n_docs,
           CAST(n_tokens AS BIGINT) AS n_tokens
    FROM acct
"""


def _release_oracle() -> str:
    from aws_seismic_data_pipeline_spark.llm.dedup import (
        _LSH_VERIFY_TAU,
        _MH_BAND_SQL,
        _MH_SIG_SQL,
    )

    return _RELEASE_ORACLE.format(
        _MH_SIG_SQL=_MH_SIG_SQL,
        _MH_BAND_SQL=_MH_BAND_SQL,
        _LSH_VERIFY_TAU=_LSH_VERIFY_TAU,
    )


@register(
    "curate_release_pipeline",
    oracle=_release_oracle(),
    tags=("llm", "dedup", "curation", "iterative"),
)
def curate_release_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The FULL corpus release path one real pretraining build runs,
    composed end to end with per-stage token accounting (round-12
    verdict item 8): URL-canonical dedup (cheapest first — metadata
    key, no content touched) → exact-text dedup (keep lowest doc_id)
    → MinHash-LSH near-dup clustering with exact-Jaccard verification
    and per-cluster canonical election → Gopher-rule quality gate →
    deterministic per-language stratified sample (en downsampled to
    RELEASE_SAMPLE_EN_PCT, other languages RELEASE_SAMPLE_OTHER_PCT)
    → RELEASE_SHARDS packed shards. The
    output is the RELEASE LEDGER: one row per stage with surviving
    doc and token counts (the attrition table a data lead signs off
    on) plus one row per packed shard — so the driver hash pins every
    stage boundary, not just the final corpus: a stage that silently
    drops or resurrects documents moves its row AND every row after
    it. Each component is separately oracle-checked
    (``dedup_url_canonical``, ``dedup_exact``,
    ``dedup_cluster_canonical``, ``curate_quality_gate``,
    ``sample_stratified_seeded``, ``shard_assign_hash``); this pins
    the COMPOSITION.

    Scale shape: every stage is evaluated ONCE, as a per-document
    survivor flag ``k1..k5``, so the ledger counts flags and re-derives
    no stage. Stages 1 and 2 are two windows (min doc_id per canonical
    URL, then per text among URL survivors) whose hash exchanges also
    spread the single-split fixture scan; their flag frame is
    checkpointed with the text kept on exact survivors only. Stage 3 is
    :func:`_lsh_verified_pairs` over the exact survivors — ONE
    checkpointed shingle/signature pass read by both band sides and the
    verify join — then the verified components (driver union-find up
    to ``_LOCAL_CC_MAX`` edges, star contraction above), left-joined
    back. Stage 4 is the per-row rule stack of :func:`quality_gate` on
    near-dup survivors; stage 5 and the shards are md5 arithmetic on
    doc_id/lang, so neither needs a join. The flags land in one
    checkpointed (doc_id, n_words, k1..k5) frame; the ledger is one
    conditional aggregation over it, exploded into the stage rows, plus
    one shard groupBy over the ``k5`` rows. A null flag (a left join
    that found no match) counts as dropped.

    The storage trade: the shingle checkpoint holds one int64 array
    per exact survivor, of the order of the survivor text the flag
    checkpoint already holds. Checkpointing signatures only and
    re-shingling just the candidate docs saves that storage, but its
    semi-joins cost more stages than the second shingle pass they
    avoid."""
    from aws_seismic_data_pipeline_spark.llm.dedup import (
        _LSH_VERIFY_TAU,
        _lsh_verified_pairs,
        _min_label_components,
    )

    docs = load_table(spark, sf_dir, "documents")
    # stage 1: URL-canonical (same synthesized-URL + canonicalization
    # rules as dedup_url_canonical)
    url = F.concat(
        F.when(F.col("doc_id") % 2 == 0, "HTTPS://").otherwise("https://"),
        F.when(F.col("doc_id") % 3 == 0, F.upper("source")).otherwise(
            F.col("source")
        ),
        F.lit(".Example.COM"),
        F.when(F.col("doc_id") % 5 == 0, ":443").otherwise(""),
        F.concat(F.lit("/docs/"), (F.col("doc_id") % 140).cast("string")),
        F.when(F.col("doc_id") % 4 == 0, "/").otherwise(""),
        F.when(F.col("doc_id") % 6 == 0, "?utm_source=feed").otherwise(""),
        F.when(F.col("doc_id") % 7 == 0, "#sec1").otherwise(""),
    )
    curl = F.regexp_replace(
        F.regexp_replace(
            F.regexp_replace(
                F.regexp_replace(F.lower(url), "#.*$", ""),
                r"\?utm_[^#]*$",
                "",
            ),
            ":443/",
            "/",
        ),
        "/$",
        "",
    )
    doc_id = F.col("doc_id")
    k1 = doc_id == F.min("doc_id").over(Window.partitionBy("curl"))
    # stage 2: exact-text dedup among URL survivors
    k2 = F.col("k1") & (
        doc_id
        == F.min(F.when(F.col("k1"), doc_id)).over(Window.partitionBy("text"))
    )
    flags = (
        docs.select(
            "doc_id",
            "lang",
            "text",
            F.size(F.split("text", " ")).cast("long").alias("n_words"),
            curl.alias("curl"),
        )
        .withColumn("k1", k1)
        .withColumn("k2", k2)
        .select(
            "doc_id",
            "lang",
            "n_words",
            "k1",
            "k2",
            F.when(F.col("k2"), F.col("text")).alias("text"),
        )
        .localCheckpoint(eager=True)
    )

    # stage 3: near-dup cluster-canonical over exact survivors
    edges = (
        _lsh_verified_pairs(flags.filter("k2"))
        .filter(F.col("jaccard") >= _LSH_VERIFY_TAU)
        .select("doc_a", "doc_b")
    )
    dropped = (
        _min_label_components(edges)
        .filter(F.col("doc_id") != F.col("component_id"))
        .select("doc_id", F.lit(True).alias("near_dup"))
    )
    k3 = F.col("k2") & F.col("near_dup").isNull()
    # stage 4: Gopher quality gate, evaluated on near-dup survivors only
    gate = _gate_verdict(_gate_stats(F.split("text", " ")))["keep"]
    k4 = k3 & gate
    # stage 5: deterministic per-language stratified sample
    sample_bucket = (
        F.expr(
            "cast(conv(substring(md5(concat(cast(doc_id as string), ':rel')),"
            " 1, 15), 16, 10) as bigint)"
        )
        % 100
    )
    rate = F.when(
        F.col("lang") == "en", F.lit(RELEASE_SAMPLE_EN_PCT)
    ).otherwise(F.lit(RELEASE_SAMPLE_OTHER_PCT))
    flags = (
        flags.join(dropped, "doc_id", "left")
        .select(
            "doc_id",
            "n_words",
            "k1",
            "k2",
            k3.alias("k3"),
            k4.alias("k4"),
            (k4 & (sample_bucket < rate)).alias("k5"),
        )
        .localCheckpoint(eager=True)
    )

    stages = [
        ("0_base", F.lit(True)),
        ("1_url_canonical", F.col("k1")),
        ("2_exact", F.col("k2")),
        ("3_near_dup", F.col("k3")),
        ("4_quality", F.col("k4")),
        ("5_sample", F.col("k5")),
    ]
    totals = flags.agg(
        *[
            F.struct(
                F.lit(stage).alias("stage"),
                F.count(F.when(keep, F.lit(1))).cast("long").alias("n_docs"),
                F.coalesce(F.sum(F.when(keep, F.col("n_words"))), F.lit(0))
                .cast("long")
                .alias("n_tokens"),
            ).alias(stage)
            for stage, keep in stages
        ]
    )
    ledger = totals.select(
        F.explode(F.array(*[stage for stage, _ in stages])).alias("row")
    ).select("row.*")
    shards = (
        flags.filter("k5")
        .select(
            F.concat(
                F.lit("shard_"),
                F.lpad(
                    _md5_bucket("doc_id", RELEASE_SHARDS).cast("string"),
                    2,
                    "0",
                ),
            ).alias("stage"),
            "n_words",
        )
        .groupBy("stage")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum("n_words").cast("long").alias("n_tokens"),
        )
    )
    return ledger.unionByName(shards)
