"""Text analysis operators for training-data pipelines (north star).

Seed: the reference's only text processing is filename parsing
(``/root/reference/app.py:328-330``); this module supplies the text
surface a 100 TB corpus pipeline needs: token stats, quality scoring,
language-ID heuristics, fingerprinting. All pure ``pyspark.sql.functions``
higher-order expressions — zero Python UDFs, so everything stays in
WholeStageCodegen and scales linearly with one map-side pass (plus one
shuffle where grouped).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from aws_seismic_data_pipeline_spark.catalog import load_table, spread
from aws_seismic_data_pipeline_spark.registry import register

STOPWORDS = ("the", "a", "and", "of", "to", "in", "is")


@register(
    "text_tokenize_stats",
    oracle="""
        SELECT doc_id,
               CAST(len(toks) AS BIGINT) AS n_tokens,
               CAST(len(list_distinct(toks)) AS BIGINT) AS n_distinct_tokens,
               list_sum(list_transform(toks, t -> len(t)))
                     / CAST(len(toks) AS DOUBLE) AS avg_token_len,
               CAST(list_sum(list_transform(toks, t -> len(t))) AS BIGINT)
                   AS n_token_chars
        FROM (SELECT doc_id, string_split(text, ' ') AS toks FROM documents)
    """,
    tags=("llm", "text"),
)
def text_tokenize_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Whitespace tokenization + per-doc token statistics."""
    docs = load_table(spark, sf_dir, "documents")
    toks = F.split("text", " ")
    tok_lens = F.expr("transform(split(text, ' '), t -> length(t))")
    total_chars = F.expr(
        "aggregate(transform(split(text, ' '), t -> length(t)), 0L,"
        " (acc, v) -> acc + v)"
    )
    return docs.select(
        "doc_id",
        F.size(toks).cast("long").alias("n_tokens"),
        F.size(F.array_distinct(toks)).cast("long").alias("n_distinct_tokens"),
        (total_chars / F.size(toks).cast("double")).alias("avg_token_len"),
        total_chars.cast("long").alias("n_token_chars"),
    )


@register(
    "text_quality_score",
    oracle=f"""
        SELECT doc_id, n_tokens, stopword_ratio, short_token_ratio,
               0.5 * (1 - stopword_ratio)
                     + 0.3 * (1 - short_token_ratio)
                     + 0.2 * LEAST(n_tokens / 100.0, 1.0) AS quality_score
        FROM (
            SELECT doc_id,
                   CAST(len(toks) AS BIGINT) AS n_tokens,
                   len(list_filter(toks, t -> t IN {STOPWORDS!r}))
                         / CAST(len(toks) AS DOUBLE) AS stopword_ratio,
                   len(list_filter(toks, t -> len(t) <= 2))
                         / CAST(len(toks) AS DOUBLE) AS short_token_ratio
            FROM (SELECT doc_id, string_split(text, ' ') AS toks FROM documents)
        )
    """,
    tags=("llm", "text"),
)
def text_quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heuristic document quality: stopword density, short-token density,
    length credit — the standard cheap pre-filter before expensive
    dedup/training steps."""
    docs = load_table(spark, sf_dir, "documents")
    sw = ", ".join(f"'{s}'" for s in STOPWORDS)
    n_tokens = F.size(F.split("text", " ")).cast("long")
    # No ROUND on the ratios: both engines divide identical integer counts,
    # giving bit-identical doubles; rounding can only diverge near decimal
    # halfway points (e.g. odd/160) where round impls disagree.
    stop_ratio = F.size(
        F.expr(f"filter(split(text, ' '), t -> t IN ({sw}))")
    ) / n_tokens.cast("double")
    short_ratio = F.size(
        F.expr("filter(split(text, ' '), t -> length(t) <= 2)")
    ) / n_tokens.cast("double")
    out = docs.select(
        "doc_id",
        n_tokens.alias("n_tokens"),
        stop_ratio.alias("stopword_ratio"),
        short_ratio.alias("short_token_ratio"),
    )
    return out.withColumn(
        "quality_score",
        0.5 * (1 - F.col("stopword_ratio"))
        + 0.3 * (1 - F.col("short_token_ratio"))
        + 0.2 * F.least(F.col("n_tokens") / 100.0, F.lit(1.0)),
    )


_BPE_PATTERN = r"[a-z]+|[0-9]+|[^a-z0-9\s]+"


@register(
    "text_token_regex",
    oracle=f"""
        SELECT doc_id,
               CAST(len(toks) AS BIGINT) AS n_bpe_tokens,
               CAST(len(list_filter(toks, t -> regexp_full_match(t, '[a-z]+')))
                    AS BIGINT) AS n_word_tokens,
               CAST(len(list_filter(toks, t -> regexp_full_match(t, '[0-9]+')))
                    AS BIGINT) AS n_number_tokens,
               CAST(len(list_distinct(toks)) AS BIGINT) AS n_vocab
        FROM (
            SELECT doc_id,
                   regexp_extract_all(lower(text), '{_BPE_PATTERN}') AS toks
            FROM documents
        )
    """,
    tags=("llm", "text"),
)
def text_token_regex(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE-ish regex token counting: lowercase, then split into letter
    runs / digit runs / punctuation runs — the pre-tokenization pass a
    BPE trainer applies before merges. Same regex class syntax in Java
    and RE2, verified cross-engine. Whole pipeline is JVM built-ins
    (regexp_extract_all + higher-order filters): one map-side pass."""
    docs = load_table(spark, sf_dir, "documents")
    toks = F.regexp_extract_all(F.lower("text"), F.lit(_BPE_PATTERN), 0)
    return docs.select(
        "doc_id",
        F.size(toks).cast("long").alias("n_bpe_tokens"),
        F.size(F.filter(toks, lambda t: t.rlike("^[a-z]+$"))).cast("long").alias(
            "n_word_tokens"
        ),
        F.size(F.filter(toks, lambda t: t.rlike("^[0-9]+$"))).cast("long").alias(
            "n_number_tokens"
        ),
        F.size(F.array_distinct(toks)).cast("long").alias("n_vocab"),
    )


@register(
    "text_lang_id",
    oracle="""
        SELECT doc_id, lang AS labeled_lang, cnt_en, cnt_es, cnt_de,
               CASE
                   WHEN cnt_en >= cnt_es AND cnt_en >= cnt_de THEN 'en'
                   WHEN cnt_es >= cnt_de THEN 'es'
                   ELSE 'de'
               END AS guessed_lang
        FROM (
            SELECT doc_id, lang,
                   CAST(len(list_filter(string_split(text, ' '),
                        t -> t IN ('the', 'a', 'of', 'and'))) AS BIGINT) AS cnt_en,
                   CAST(len(list_filter(string_split(text, ' '),
                        t -> t IN ('el', 'la', 'de', 'y'))) AS BIGINT) AS cnt_es,
                   CAST(len(list_filter(string_split(text, ' '),
                        t -> t IN ('der', 'die', 'und', 'das'))) AS BIGINT) AS cnt_de
            FROM documents
        )
    """,
    tags=("llm", "text"),
)
def text_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Marker-word language-ID heuristic with a deterministic tie order
    (en > es > de). N-gram models don't fit in SQL oracles; marker
    counting is the oracle-checkable core of the same idea."""
    docs = load_table(spark, sf_dir, "documents")

    def marker_count(words: str):
        return F.size(F.expr(f"filter(split(text, ' '), t -> t IN ({words}))")).cast(
            "long"
        )

    cnt_en = marker_count("'the', 'a', 'of', 'and'")
    cnt_es = marker_count("'el', 'la', 'de', 'y'")
    cnt_de = marker_count("'der', 'die', 'und', 'das'")
    out = docs.select(
        "doc_id",
        F.col("lang").alias("labeled_lang"),
        cnt_en.alias("cnt_en"),
        cnt_es.alias("cnt_es"),
        cnt_de.alias("cnt_de"),
    )
    return out.withColumn(
        "guessed_lang",
        F.when(
            (F.col("cnt_en") >= F.col("cnt_es")) & (F.col("cnt_en") >= F.col("cnt_de")),
            "en",
        )
        .when(F.col("cnt_es") >= F.col("cnt_de"), "es")
        .otherwise("de"),
    )


@register(
    "text_fingerprint",
    oracle="""
        SELECT doc_id,
               md5(lower(trim(regexp_replace(text, '\\s+', ' ', 'g'))))
                   AS fingerprint,
               CAST(COUNT(*) OVER (
                   PARTITION BY md5(lower(trim(regexp_replace(text, '\\s+', ' ', 'g'))))
               ) AS BIGINT) AS n_same_fingerprint
        FROM documents
    """,
    tags=("llm", "text"),
)
def text_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Normalized-content fingerprint (lowercase, collapse whitespace →
    md5) + per-fingerprint multiplicity — the cheap exact-dup detector
    that ignores formatting noise."""
    docs = load_table(spark, sf_dir, "documents")
    fp = F.md5(
        F.lower(F.trim(F.regexp_replace("text", r"\s+", " "))).cast("binary")
    )
    from pyspark.sql import Window as W

    return docs.select(
        "doc_id",
        fp.alias("fingerprint"),
        F.count(F.lit(1)).over(W.partitionBy(fp)).cast("long").alias(
            "n_same_fingerprint"
        ),
    )


@register(
    "text_bigram_counts",
    oracle="""
        WITH tok AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
        grams AS (
            SELECT doc_id,
                   unnest(list_transform(
                       range(1, len(toks)),
                       i -> toks[i] || ' ' || toks[i+1]
                   )) AS bigram
            FROM tok
            WHERE len(toks) >= 2
        )
        SELECT bigram,
               CAST(COUNT(*) AS BIGINT) AS n_occurrences,
               CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs
        FROM grams
        GROUP BY bigram
        HAVING COUNT(*) >= GREATEST(
            10,
            (SELECT CAST(FLOOR(COUNT(*) / 50.0) AS BIGINT) FROM documents)
        )
    """,
    tags=("llm", "text"),
)
def text_bigram_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-level n-gram statistics: bigram occurrence and document
    frequency (the vocabulary/collocation profile a training-data
    pipeline computes before filtering boilerplate).

    Split once, slide with index arithmetic (O(n)/doc), explode, one
    hash aggregate. The HAVING threshold is SCALE-AWARE (ADVICE r3):
    max(10, n_docs/50) — a bigram must appear in ~2% of document slots
    to surface, so the result stays "the head of the distribution" at
    any corpus size instead of growing unboundedly with a fixed cutoff.
    At the sf0.01 check fixture (500 docs) the floor of 10 applies. No
    LIMIT, so no tie-break nondeterminism. At 100 TB the bigram space
    is the skew risk: the partial (map-side) agg absorbs hot bigrams
    before the shuffle, and the threshold scalar broadcasts."""
    docs = spread(load_table(spark, sf_dir, "documents"), spark)
    toks = F.split(F.col("text"), " ")
    grams = (
        docs.select("doc_id", toks.alias("toks"))
        .filter(F.size("toks") >= 2)
        .select(
            "doc_id",
            F.explode(
                F.expr(
                    "transform(sequence(1, size(toks) - 1),"
                    " i -> concat(toks[i-1], ' ', toks[i]))"
                )
            ).alias("bigram"),
        )
    )
    threshold = docs.agg(
        F.greatest(
            F.lit(10).cast("long"),
            F.floor(F.count(F.lit(1)) / 50).cast("long"),
        ).alias("min_occurrences")
    )
    return (
        grams.groupBy("bigram")
        .agg(
            F.count(F.lit(1)).alias("n_occurrences"),
            F.countDistinct("doc_id").alias("n_docs"),
        )
        .crossJoin(F.broadcast(threshold))
        .filter(F.col("n_occurrences") >= F.col("min_occurrences"))
        .drop("min_occurrences")
    )


@register(
    "text_edit_distance",
    oracle="""
        WITH blocked AS (
            SELECT doc_id, lang, source, n_chars,
                   substring(text, 1, 40) AS head
            FROM documents
        )
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
               CAST(levenshtein(a.head, b.head) AS INTEGER) AS head_edit_dist
        FROM blocked a
        JOIN blocked b
          ON a.lang = b.lang AND a.source = b.source
         AND a.doc_id < b.doc_id
         AND abs(a.n_chars - b.n_chars) <= 5
    """,
    tags=("llm", "text"),
)
def text_edit_distance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Blocked pairwise edit distance: Levenshtein on 40-char prefixes
    for same-(lang, source) document pairs of similar length — the
    fuzzy-match verifier that runs AFTER cheap blocking, never before.

    Levenshtein is O(m·n) per pair; the (lang, source, |Δchars|<=5)
    block bounds the pair count so the quadratic kernel only sees
    plausible matches — same shape as the shingle/LSH blocking in the
    dedup family. Identical classic edit-distance semantics in both
    engines."""
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "lang", "source", "n_chars",
        F.substring("text", 1, 40).alias("head"),
    )
    a, b = docs.alias("a"), docs.alias("b")
    return (
        a.join(
            b,
            (F.col("a.lang") == F.col("b.lang"))
            & (F.col("a.source") == F.col("b.source"))
            & (F.col("a.doc_id") < F.col("b.doc_id"))
            & (F.abs(F.col("a.n_chars") - F.col("b.n_chars")) <= 5),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            F.levenshtein(F.col("a.head"), F.col("b.head")).alias("head_edit_dist"),
        )
    )


@register(
    "text_pii_redact",
    oracle="""
        WITH synth AS (
            SELECT doc_id,
                   'user' || CAST(doc_id AS VARCHAR) || '@example.com wrote: '
                       || substring(text, 1, 60)
                       || ' call 555-' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')
                       AS raw
            FROM documents
        )
        SELECT doc_id,
               regexp_replace(
                   regexp_replace(raw, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}',
                                  '<EMAIL>', 'g'),
                   '\\d{3}-\\d{4}', '<PHONE>', 'g') AS redacted,
               CAST(raw LIKE '%@%' AS BOOLEAN) AS had_email
        FROM synth
    """,
    tags=("llm", "text", "pii"),
)
def text_pii_redact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII redaction: regexp-replace emails and phone-shaped tokens with
    typed placeholders — the scrubbing pass every training-data
    pipeline runs before publishing a corpus. Synthetic PII is stitched
    onto the fixture text so the patterns have real matches; both
    engines apply identical global regexes, JVM-side (Spark
    ``regexp_replace`` replaces all matches; DuckDB needs the 'g'
    flag)."""
    docs = load_table(spark, sf_dir, "documents")
    raw = F.concat(
        F.lit("user"), F.col("doc_id").cast("string"), F.lit("@example.com wrote: "),
        F.substring("text", 1, 60),
        F.lit(" call 555-"),
        F.lpad((F.col("doc_id") % 10000).cast("string"), 4, "0"),
    )
    synth = docs.select("doc_id", raw.alias("raw"))
    return synth.select(
        "doc_id",
        F.regexp_replace(
            F.regexp_replace(
                F.col("raw"),
                r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}",
                "<EMAIL>",
            ),
            r"\d{3}-\d{4}",
            "<PHONE>",
        ).alias("redacted"),
        F.col("raw").contains("@").alias("had_email"),
    )


@register(
    "text_winnow_fingerprints",
    oracle="""
        WITH tok AS (
            SELECT doc_id, string_split(text, ' ') AS toks FROM documents
        ),
        grams AS (
            SELECT doc_id,
                   list_transform(
                       range(1, len(toks) - 1),
                       i -> CAST(('0x' || substring(
                                md5(toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]),
                                1, 15)) AS BIGINT)
                   ) AS h
            FROM tok
            WHERE len(toks) >= 3
        )
        SELECT doc_id,
               unnest(list_distinct(list_transform(
                   range(1, len(h) - 2),
                   j -> list_min(list_slice(h, j, j + 3))
               ))) AS fingerprint
        FROM grams
        WHERE len(h) >= 4
    """,
    tags=("llm", "text", "dedup"),
)
def text_winnow_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document fingerprinting by winnowing (Schleimer/Wilkerson/Aiken,
    SIGMOD 2003): hash every word 3-gram, slide a window of 4
    consecutive gram hashes, keep each window's minimum — the selected
    distinct hashes are the document's fingerprint set, guaranteeing
    any shared run of ≥6 words between two documents shares a
    fingerprint (the plagiarism/near-dup detection substrate).

    All JVM-side: split once, gram-hash via one transform() over index
    arithmetic (md5→60-bit int64, the engine-portable hash shared with
    dedup_simhash), window minima via transform+slice+array_min (O(n·w)
    per doc, no shuffle), one explode. At 100 TB this is embarrassingly
    parallel scan work; only a downstream join on `fingerprint` (not
    materialized here — dedup_* cover the join patterns) would shuffle,
    and fingerprints are ~1/w of grams, so the winnow IS the shuffle
    reduction. Seed: generalizes the reference's filename-identity
    dedup (app.py:271-273) to content identity."""
    docs = spread(load_table(spark, sf_dir, "documents"), spark)
    return winnow_fingerprints(docs)


def winnow_fingerprints(docs: DataFrame) -> DataFrame:
    """(doc_id, fingerprint) winnowing derivation on any documents
    DataFrame — shared by text_winnow_fingerprints (the fingerprint
    query) and dedup_winnow_pairs (the pair-decision query)."""
    toks = F.split(F.col("text"), " ")
    # >= 6 tokens <=> >= 4 gram hashes (one window). The bound sits on
    # the token column: a size(h) filter would be pushed below the
    # projections with split(text) inlined into the hash lambda,
    # re-splitting the text per index (O(words²) per doc)
    grams = (
        docs.select("doc_id", toks.alias("toks"))
        .filter(F.size("toks") >= 6)
        .select(
            "doc_id",
            F.expr(
                "transform(sequence(1, size(toks) - 2),"
                " i -> cast(conv(substring(md5("
                "concat(toks[i-1], ' ', toks[i], ' ', toks[i+1])"
                "), 1, 15), 16, 10) as bigint))"
            ).alias("h"),
        )
    )
    return grams.select(
        "doc_id",
        F.explode(
            F.array_distinct(
                F.expr(
                    "transform(sequence(1, size(h) - 3),"
                    " j -> array_min(slice(h, j, 4)))"
                )
            )
        ).alias("fingerprint"),
    )


@register(
    "text_tfidf_topk",
    oracle="""
        WITH tf AS (
            SELECT doc_id, term, CAST(COUNT(*) AS BIGINT) AS tf
            FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS term
                  FROM documents)
            GROUP BY doc_id, term
        ),
        df AS (
            SELECT term, CAST(COUNT(*) AS BIGINT) AS df FROM tf GROUP BY term
        ),
        n AS (SELECT COUNT(*) AS n_docs FROM documents),
        scored AS (
            SELECT tf.doc_id, tf.term, tf.tf, df.df,
                   tf.tf * ROUND(ln((n.n_docs + 1.0) / (df.df + 1.0)), 6) AS score
            FROM tf JOIN df ON tf.term = df.term, n
        )
        SELECT doc_id, term, tf, df, score
        FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY doc_id
                       ORDER BY score DESC, term) AS rn
              FROM scored)
        WHERE rn <= 3
    """,
    tags=("llm", "text", "agg"),
)
def text_tfidf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document top-3 TF-IDF terms — the keyword/topic profile a
    corpus pipeline computes for routing, clustering and boilerplate
    detection. idf = ln((N+1)/(df+1)) (add-one smoothed).

    Plan: one explode→(doc,term) hash agg for TF (map-side partials
    absorb hot terms), a |vocab|-sized DF aggregate REUSING tf (not
    re-tokenizing), N as a 1-row broadcast, df joined back onto tf
    WITHOUT a pinned hint — vocabulary grows unboundedly with a web
    corpus (Heaps' law), so AQE must keep the option to demote the df
    join to a shuffle past the broadcast budget (it broadcasts it at
    any practical vocab size) — and the top-3 as row_number over
    (doc_id) — rank runs on the same doc_id partitioning the TF
    shuffle produced. Float
    discipline: ln is libm → rounded 6dp; tf·idf is then a product of
    identical doubles (bit-identical); ties broken by term for a
    deterministic top-3. At 100 TB the vocab-side DF agg is the skew
    point — stopwords dominate — which the partial agg flattens."""
    docs = spread(load_table(spark, sf_dir, "documents"), spark)
    terms = docs.select(
        "doc_id", F.explode(F.split(F.col("text"), " ")).alias("term")
    )
    # tf feeds BOTH branches (scores and df); without cutting lineage
    # Spark would re-scan and re-tokenize the corpus for each branch —
    # eager localCheckpoint materializes the (doc,term) aggregate once
    # (see dedup_connected_components for the same pattern)
    tf = (
        terms.groupBy("doc_id", "term")
        .agg(F.count(F.lit(1)).alias("tf"))
        .localCheckpoint(eager=True)
    )
    df = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    n = docs.agg(F.count(F.lit(1)).alias("n_docs"))
    scored = (
        tf.join(df, "term")
        .join(F.broadcast(n))
        .withColumn(
            "score",
            F.col("tf")
            * F.round(
                F.log((F.col("n_docs") + F.lit(1.0)) / (F.col("df") + F.lit(1.0))), 6
            ),
        )
    )
    w = Window.partitionBy("doc_id").orderBy(F.desc("score"), F.asc("term"))
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 3)
        .select("doc_id", "term", "tf", "df", "score")
    )


@register(
    "text_char_entropy",
    oracle="""
        WITH chars AS (
            SELECT doc_id, unnest(string_split(text, '')) AS ch
            FROM documents
        ),
        freq AS (
            SELECT doc_id, ch, CAST(COUNT(*) AS BIGINT) AS c
            FROM chars GROUP BY doc_id, ch
        ),
        tot AS (
            SELECT doc_id, CAST(SUM(c) AS BIGINT) AS n FROM freq GROUP BY doc_id
        )
        SELECT f.doc_id,
               t.n AS n_chars,
               CAST(COUNT(*) AS BIGINT) AS n_distinct_chars,
               ROUND(SUM(-(f.c * 1.0 / t.n) * ln(f.c * 1.0 / t.n)), 6)
                   AS entropy_nats
        FROM freq f
        JOIN tot t USING (doc_id)
        GROUP BY f.doc_id, t.n
    """,
    tags=("llm", "text"),
)
def text_char_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document character-distribution Shannon entropy (nats) — the
    cheap gibberish/boilerplate detector: natural prose sits ~3-4 nats,
    base64 blobs and repeated-padding junk sit far above/below. Also
    reports size and alphabet width.

    Plan: one explode to chars, one (doc,char) hash count, a windowed
    total per doc (rides the same doc_id partitioning — no extra
    shuffle), one final per-doc aggregate. Float discipline: ln is
    libm (per-engine last-ulp), but each term's error is ~1e-16 and
    the ~60-term sum rounds at 6dp on an irrational value — no decimal
    halfway hazard. At 100 TB chars-per-doc explodes 300× the row
    count: the (doc,char) partial agg collapses it right back before
    any shuffle; nothing leaves the node at exploded granularity."""
    docs = spread(load_table(spark, sf_dir, "documents"), spark)
    chars = docs.select(
        "doc_id", F.explode(F.split(F.col("text"), "")).alias("ch")
    )
    freq = chars.groupBy("doc_id", "ch").agg(F.count(F.lit(1)).alias("c"))
    w = Window.partitionBy("doc_id")
    p = F.col("c") * F.lit(1.0) / F.sum("c").over(w)
    return (
        freq.withColumn("term", -p * F.log(p))
        .groupBy("doc_id")
        .agg(
            F.sum("c").alias("n_chars"),
            F.count(F.lit(1)).alias("n_distinct_chars"),
            F.round(F.sum("term"), 6).alias("entropy_nats"),
        )
    )


@register(
    "text_lm_perplexity",
    oracle="""
        WITH toks AS (
            SELECT doc_id, unnest(string_split(text, ' ')) AS tok
            FROM documents
        ),
        counts AS (
            SELECT tok, CAST(COUNT(*) AS DOUBLE) AS c
            FROM toks GROUP BY tok
        ),
        tot AS (SELECT SUM(c) AS n FROM counts)
        SELECT t.doc_id,
               CAST(COUNT(*) AS BIGINT) AS n_tokens,
               ROUND(AVG(-ln(c.c / tot.n)), 6) AS cross_entropy
        FROM toks t
        JOIN counts c ON t.tok = c.tok
        CROSS JOIN tot
        GROUP BY t.doc_id
    """,
    tags=("llm", "text"),
)
def text_lm_perplexity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unigram-LM cross-entropy per document — the CCNet-style quality
    signal: documents whose tokens are improbable under the corpus's own
    unigram distribution (high cross-entropy) are gibberish/rare-junk
    candidates; abnormally LOW cross-entropy flags boilerplate. The LM
    is trained and applied in the same plan: token counts over the whole
    corpus, surprisal -ln(c/N) per distinct token, averaged per doc.

    Value parity: the per-token surprisals are bit-identical across
    engines (same ln on same doubles); only the per-doc AVG accumulates
    in engine-specific order, so the ROUND(6) sits on the aggregate —
    an irrational-valued sum, no decimal-halfway hazard (same policy as
    text_char_entropy).

    Scale shape: tokenization explodes 200× the row count but the count
    aggregate collapses map-side before its linear shuffle; the
    surprisal join-back has ONE row per distinct token (vocabulary ≪
    corpus, no skew blowup — a hot token fans out only to its own
    occurrences); the per-doc rollup rides doc-scoped keys. The 1-row
    total joins via broadcast. The exploded token table is eagerly
    localCheckpointed once and feeds both the count and score branches —
    one corpus scan + one tokenize (tfidf precedent)."""
    docs = spread(load_table(spark, sf_dir, "documents"), spark)
    toks = (
        docs.select("doc_id", F.explode(F.split("text", " ")).alias("tok"))
        .localCheckpoint(eager=True)
    )
    counts = toks.groupBy("tok").agg(
        F.count(F.lit(1)).cast("double").alias("c")
    )
    total = counts.agg(F.sum("c").alias("n"))
    surprisal = counts.crossJoin(F.broadcast(total)).select(
        "tok", (-F.log(F.col("c") / F.col("n"))).alias("surprisal")
    )
    return (
        toks.join(surprisal, "tok")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            F.round(F.avg("surprisal"), 6).alias("cross_entropy"),
        )
    )


#: (token, weight) rows of the frozen linear quality model applied by
#: text_classifier_score — stand-in for fastText/DCLM-style classifier
#: weights shipped as a model artifact alongside the pipeline. Kept as
#: data (not code) so the Spark map literal and the oracle CASE arms are
#: generated from ONE source and cannot drift.
CLASSIFIER_WEIGHTS = (
    ("spark", 0.9),
    ("query", 0.7),
    ("table", 0.6),
    ("join", 0.5),
    ("stream", 0.5),
    ("data", 0.4),
    ("vector", 0.4),
    ("slow", -0.6),
    ("the", -0.3),
    ("a", -0.4),
    ("of", -0.3),
    ("to", -0.3),
)

#: intercept of the frozen model
CLASSIFIER_BIAS = -0.5


@register(
    "text_classifier_score",
    oracle=f"""
        SELECT doc_id,
               CAST(n_hits AS BIGINT) AS n_hits,
               ROUND(z, 6) + 0.0 AS logit,
               ROUND(1.0 / (1.0 + exp(-z)), 6) AS prob_keep,
               ROUND(z, 6) >= 0 AS keep
        FROM (
            SELECT doc_id,
                   len(list_filter(string_split(text, ' '),
                       t -> {" OR ".join(f"t = '{t}'" for t, _ in CLASSIFIER_WEIGHTS)}))
                       AS n_hits,
                   {CLASSIFIER_BIAS} + list_sum(list_transform(
                       string_split(text, ' '),
                       t -> CASE {" ".join(f"WHEN t = '{t}' THEN {w}" for t, w in CLASSIFIER_WEIGHTS)}
                            ELSE 0.0 END)) AS z
            FROM documents
        )
    """,
    tags=("llm", "text", "classifier"),
)
def text_classifier_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Model-based quality filtering: apply a FROZEN linear text
    classifier (bag-of-words weights + bias, the shape of a
    fastText / DCLM quality model after training) to every document in
    one map-only pass. Token weights live in a map literal folded over
    the token list with ``aggregate`` — per-row lookup, no explode, no
    join, no shuffle; the sigmoid and keep/drop label are computed from
    the same logit. This is the third quality signal family next to the
    heuristic ratios (``text_quality_score``) and the self-trained LM
    (``text_lm_perplexity``): pretrained-model scoring, the filter
    modern curation stacks (CCNet, DCLM) put in front of pretraining.

    Value parity: the weights are exact multiples of 0.1, so true
    logits can be EXACTLY zero — and the two engines associate the
    bias+weights sum differently, leaving +-1e-16 residues on opposite
    sides of a raw ``z >= 0`` threshold (caught by the minidriver on
    first run). Both the keep label and the emitted logit therefore go
    through ROUND(6), with ``+ 0.0`` normalizing the -0.0 a negative
    residue rounds to; the sigmoid gets the same ROUND(6) as every
    exp/ln oracle (text_lm_perplexity policy).

    Scale shape: embarrassingly parallel scan — the model rides the
    plan as a literal (at real vocab sizes it would broadcast as a map
    column), cost linear in corpus bytes, WholeStageCodegen end to end.
    Seed: reference has no scoring at all; its only per-object gate is
    the HTTP 200 check (app.py:342-344)."""
    docs = load_table(spark, sf_dir, "documents")
    map_lit = ", ".join(f"'{t}', {w}d" for t, w in CLASSIFIER_WEIGHTS)
    hits = F.expr(
        "size(filter(split(text, ' '), t -> array_contains(array("
        + ", ".join(f"'{t}'" for t, _ in CLASSIFIER_WEIGHTS)
        + "), t)))"
    )
    z = F.expr(
        f"aggregate(split(text, ' '), {CLASSIFIER_BIAS}d,"
        f" (acc, t) -> acc + coalesce(element_at(map({map_lit}), t), 0.0d))"
    )
    return docs.select(
        "doc_id",
        hits.cast("long").alias("n_hits"),
        (F.round(z, 6) + F.lit(0.0)).alias("logit"),
        F.round(F.lit(1.0) / (F.lit(1.0) + F.exp(-z)), 6).alias("prob_keep"),
        (F.round(z, 6) >= 0).alias("keep"),
    )


#: number of top merge candidates text_bpe_pair_counts returns
BPE_TOP_PAIRS = 30


@register(
    "text_bpe_pair_counts",
    oracle=f"""
        WITH words AS (
            SELECT tok, CAST(COUNT(*) AS BIGINT) AS wc
            FROM (
                SELECT unnest(string_split(text, ' ')) AS tok FROM documents
            )
            WHERE len(tok) >= 2
            GROUP BY tok
        ),
        pairs AS (
            SELECT substring(tok, i, 2) AS pair, wc
            FROM words,
                 unnest(generate_series(1, len(tok) - 1)) AS t(i)
        ),
        totals AS (
            SELECT pair, CAST(SUM(wc) AS BIGINT) AS pair_count
            FROM pairs GROUP BY pair
        )
        SELECT pair, pair_count, CAST(rn AS BIGINT) AS merge_rank
        FROM (
            SELECT pair, pair_count,
                   ROW_NUMBER() OVER (ORDER BY pair_count DESC, pair) AS rn
            FROM totals
        )
        WHERE rn <= {BPE_TOP_PAIRS}
    """,
    tags=("llm", "text", "tokenizer"),
)
def text_bpe_pair_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The inner loop of BPE tokenizer TRAINING (Sennrich et al. 2016),
    distributed: rank adjacent symbol pairs by corpus frequency — the
    top pair is the next merge rule. The critical scale trick is the
    word DICTIONARY: pair counts aggregate over DISTINCT words weighted
    by word frequency, so the quadratic-ish pair explosion runs over
    the vocabulary (≪ corpus tokens; every real BPE trainer does this).
    One tokenize pass → word counts → per-distinct-word character
    pairs via substring over a position sequence (pure higher-order
    expressions, no Python) → weighted pair rollup → top-K merge
    candidates. Repeating with the chosen merge applied is the full
    trainer; each round is exactly this plan shape.

    Value parity: integer counts and string pairs only — no floats
    anywhere. Words shorter than 2 chars are filtered BEFORE the
    position sequence on both engines (Spark's ``sequence(1, 0)``
    would otherwise DESCEND, not return empty like generate_series).

    Scale shape: the explode fans out |vocab|·avg_len rows, not
    |corpus|·avg_len — the dictionary trick's entire point; both
    aggregates are map-side partial + key shuffle; the final top-K is
    a WindowGroupLimit over the pair table.

    Seed: reference has no tokenizer; nearest is filename token
    splitting (app.py:328-330)."""
    docs = spread(load_table(spark, sf_dir, "documents"), spark)
    words = (
        docs.select(F.explode(F.split("text", " ")).alias("tok"))
        .filter(F.length("tok") >= 2)
        .groupBy("tok")
        .agg(F.count(F.lit(1)).cast("long").alias("wc"))
    )
    pairs = words.select(
        F.explode(
            F.expr("transform(sequence(1, length(tok) - 1),"
                   " i -> substring(tok, i, 2))")
        ).alias("pair"),
        "wc",
    )
    totals = pairs.groupBy("pair").agg(F.sum("wc").alias("pair_count"))
    w = Window.orderBy(F.col("pair_count").desc(), "pair")
    return (
        totals.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= BPE_TOP_PAIRS)
        .select("pair", "pair_count", F.col("rn").cast("long").alias("merge_rank"))
    )


#: merge rounds the BPE TRAINER runs (pinned: the oracle unrolls
#: exactly this many CTE rounds)
BPE_TRAIN_ROUNDS = 6


def _bpe_merge_round_sql(k: int) -> str:
    """One unrolled BPE training round as DuckDB CTEs: pair counts
    over words{k-1}, the round's winning merge, and words{k} with the
    merge applied greedily left-to-right. The merge fold encodes the
    symbol sequence as a space-joined string so ``list_reduce``'s
    same-type accumulator can carry it (symbols are space-split word
    tokens — they never contain spaces)."""
    toks = "string_split(acc, ' ')"
    return f"""
        pairs{k} AS (
            SELECT l, r, CAST(SUM(wc) AS BIGINT) AS pair_count
            FROM (
                SELECT list_extract(syms, i) AS l,
                       list_extract(syms, i + 1) AS r,
                       wc
                FROM words{k - 1}, unnest(range(1, len(syms))) AS t(i)
                WHERE len(syms) >= 2
            )
            GROUP BY l, r
        ),
        win{k} AS (
            SELECT CAST({k} AS BIGINT) AS merge_rank, l, r, pair_count
            FROM pairs{k} ORDER BY pair_count DESC, l, r LIMIT 1
        ),
        words{k} AS (
            SELECT CASE WHEN len(syms) < 2 THEN syms
                ELSE string_split(list_reduce(syms, (acc, x) -> CASE
                    WHEN list_extract({toks}, -1) = w.l AND x = w.r
                    THEN CASE WHEN len({toks}) > 1
                         THEN array_to_string(
                                  list_slice({toks}, 1, len({toks}) - 1),
                                  ' ') || ' ' || w.l || w.r
                         ELSE w.l || w.r END
                    ELSE acc || ' ' || x END), ' ')
                END AS syms, wc
            FROM words{k - 1}, win{k} w
        )"""


def _bpe_train_oracle() -> str:
    rounds = ",".join(
        _bpe_merge_round_sql(k) for k in range(1, BPE_TRAIN_ROUNDS + 1)
    )
    finals = " UNION ALL ".join(
        f"SELECT merge_rank, l AS lhs, r AS rhs, pair_count FROM win{k}"
        for k in range(1, BPE_TRAIN_ROUNDS + 1)
    )
    return f"""
        WITH words0 AS (
            SELECT list_transform(range(1, len(tok) + 1),
                                  i -> substring(tok, i, 1)) AS syms,
                   wc
            FROM (
                SELECT tok, CAST(COUNT(*) AS BIGINT) AS wc
                FROM (
                    SELECT unnest(string_split(text, ' ')) AS tok
                    FROM documents
                )
                WHERE len(tok) >= 1
                GROUP BY tok
            )
        ),
        {rounds}
        {finals}
    """


@register(
    "text_bpe_train",
    oracle=_bpe_train_oracle(),
    tags=("llm", "text", "tokenizer", "iterative"),
)
def text_bpe_train(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The FULL BPE tokenizer TRAINING LOOP (Sennrich et al. 2016) —
    ``text_bpe_pair_counts`` is one candidate-ranking step; this runs
    ``BPE_TRAIN_ROUNDS`` actual merge rounds and returns the ranked
    MERGES TABLE (merge_rank, lhs, rhs, pair_count) every real
    tokenizer pipeline trains and ships. Each round: count adjacent
    symbol pairs over the word DICTIONARY weighted by word frequency
    (the vocabulary trick — pair work is |vocab|-sized, never
    |corpus|-sized), elect the winner (count desc, pair asc — the
    deterministic tie-break both engines share), and apply the merge
    greedily left-to-right inside every word's symbol sequence via a
    single higher-order ``aggregate`` fold (pure JVM expressions, no
    Python). The winner rides a 1-row broadcast crossJoin into the
    merge expression, so no round collects anything to the driver;
    the dictionary re-checkpoints per round (the ``graph_pagerank``
    iteration pattern — lineage stays round-depth-1). The oracle
    unrolls the SAME rounds as chained CTEs with the merge fold in
    ``list_reduce``, so the driver hash pins every elected merge AND
    its count at every round — a wrong round-k merge shifts rows k..N.

    Scale shape: per round one |vocab|-keyed shuffle for pair counts
    + one broadcast of a 1-row frame; at 100 TB the corpus is touched
    ONCE (the initial word count), all training iterations run on the
    dictionary. Seed: reference has no tokenizer; nearest is filename
    token splitting (``app.py:328-330``)."""
    docs = spread(load_table(spark, sf_dir, "documents"), spark)
    words = (
        docs.select(F.explode(F.split("text", " ")).alias("tok"))
        .filter(F.length("tok") >= 1)
        .groupBy("tok")
        .agg(F.count(F.lit(1)).cast("long").alias("wc"))
        .select(
            F.expr(
                "transform(sequence(1, length(tok)),"
                " i -> substring(tok, i, 1))"
            ).alias("syms"),
            "wc",
        )
        .localCheckpoint(eager=True)
    )
    merge_fold = F.expr(
        """
        IF(size(syms) < 2, syms,
           aggregate(slice(syms, 2, size(syms) - 1),
                     array(element_at(syms, 1)),
                     (acc, x) -> IF(element_at(acc, -1) = _l AND x = _r,
                                    concat(slice(acc, 1, size(acc) - 1),
                                           array(concat(_l, _r))),
                                    concat(acc, array(x)))))
        """
    )
    winners = []
    for k in range(1, BPE_TRAIN_ROUNDS + 1):
        pairs = (
            words.filter(F.size("syms") >= 2)
            .select(
                F.explode(
                    F.expr(
                        "transform(sequence(1, size(syms) - 1),"
                        " i -> struct(element_at(syms, i) AS l,"
                        "             element_at(syms, i + 1) AS r))"
                    )
                ).alias("p"),
                "wc",
            )
            .groupBy(F.col("p.l").alias("_l"), F.col("p.r").alias("_r"))
            .agg(F.sum("wc").cast("long").alias("pair_count"))
        )
        top = (
            pairs.orderBy(F.col("pair_count").desc(), "_l", "_r")
            .limit(1)
            .localCheckpoint(eager=True)
        )
        winners.append(
            top.select(
                F.lit(k).cast("long").alias("merge_rank"),
                F.col("_l").alias("lhs"),
                F.col("_r").alias("rhs"),
                "pair_count",
            )
        )
        if k < BPE_TRAIN_ROUNDS:  # last round's merge is never applied
            words = (
                words.crossJoin(F.broadcast(top.select("_l", "_r")))
                .select(merge_fold.alias("syms"), "wc")
                .localCheckpoint(eager=True)
            )
    from functools import reduce as _reduce

    return _reduce(lambda a, b: a.unionByName(b), winners)


#: BM25 hyperparameters (Robertson's defaults) and the demo query
BM25_K1 = 1.2
BM25_B = 0.75
BM25_QUERY = ("vector", "join", "spark")
BM25_TOP_DOCS = 20


@register(
    "text_bm25_topk",
    oracle=f"""
        WITH dl AS (
            SELECT doc_id, CAST(len(string_split(text, ' ')) AS BIGINT) AS dl
            FROM documents
        ),
        stats AS (
            SELECT CAST(COUNT(*) AS DOUBLE) AS n_docs,
                   SUM(CAST(dl AS DOUBLE)) / CAST(COUNT(*) AS DOUBLE) AS avgdl
            FROM dl
        ),
        tf AS (
            SELECT doc_id, term, CAST(COUNT(*) AS BIGINT) AS tf
            FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS term
                  FROM documents)
            WHERE term IN {tuple(BM25_QUERY)}
            GROUP BY doc_id, term
        ),
        df AS (
            SELECT term, CAST(COUNT(*) AS DOUBLE) AS df FROM tf GROUP BY term
        ),
        scored AS (
            SELECT tf.doc_id,
                   ROUND(ln((s.n_docs - df.df + 0.5) / (df.df + 0.5) + 1.0), 6)
                   * ((tf.tf * (CAST(1.2 AS DOUBLE) + 1.0))
                      / (tf.tf + CAST(1.2 AS DOUBLE)
                         * (1.0 - CAST(0.75 AS DOUBLE)
                            + CAST(0.75 AS DOUBLE) * (dl.dl / s.avgdl))))
                       AS term_score
            FROM tf
            JOIN df ON tf.term = df.term
            JOIN dl ON tf.doc_id = dl.doc_id
            CROSS JOIN stats s
        ),
        totals AS (
            SELECT doc_id,
                   CAST(COUNT(*) AS BIGINT) AS n_hit,
                   ROUND(SUM(term_score), 6) AS bm25
            FROM scored GROUP BY doc_id
        )
        SELECT doc_id, n_hit, bm25, CAST(rn AS BIGINT) AS rank
        FROM (
            SELECT *, ROW_NUMBER() OVER (ORDER BY bm25 DESC, doc_id) AS rn
            FROM totals
        )
        WHERE rn <= {BM25_TOP_DOCS}
    """,
    tags=("llm", "text", "search"),
)
def text_bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 ranked retrieval (Robertson & Zaragoza 2009; Lucene's
    scoring function) for a fixed keyword query: per matched term,
    idf = ln((N − df + 0.5)/(df + 0.5) + 1) saturated by
    tf·(k1+1)/(tf + k1·(1 − b + b·dl/avgdl)), summed per document, top
    BM25_TOP_DOCS returned. Complements ``text_keyword_search`` (which
    finds the boolean candidate set from the posting index) with the
    RANKING a search/retrieval pipeline applies to that set, and
    ``text_tfidf_topk`` (per-doc keyword profiles) with query-side
    scoring.

    Value parity: tf is filtered to the query's 3 terms BEFORE
    aggregation, so every downstream frame is query-sized; ln goes
    through ROUND(6) (tfidf policy); k1/b constants are CAST AS DOUBLE
    in the oracle and F.lit floats in Spark — BOTH engines parse bare
    decimal SQL literals as DECIMAL (the agg_kmv_distinct lesson, from
    the Spark side); the ≤3-term per-doc sum rounds at 6dp; the final
    rank orders by the ROUNDED score with doc_id ties.

    Scale shape: ONE corpus scan, no tokenize explode at all — each
    query term's tf is a per-row ``size(filter(tokens, = t))`` (the
    query is 3 terms, so this is 3 vectorized array scans), doc length
    rides the same projection, and the narrow (doc_id, dl, tf…) frame
    is checkpointed once and feeds stats, candidate rows (via stack +
    tf > 0), and df — the corpus text is never read twice (the first
    landing scanned it separately for dl and tf; this shape halved the
    sf0.1 slot). df and the 1-row stats broadcast; the rank is a
    single WindowGroupLimit over the candidate set. At 100 TB the
    posting index supplies tf without touching text at all — same
    scores, index-sized cost."""
    docs = spread(load_table(spark, sf_dir, "documents"), spark)
    tf_cols = [
        F.expr(f"cast(size(filter(split(text, ' '), x -> x = '{t}')) as long)")
        .alias(f"tf_{i}")
        for i, t in enumerate(BM25_QUERY)
    ]
    base = docs.select(
        "doc_id",
        F.size(F.split("text", " ")).cast("long").alias("dl"),
        *tf_cols,
    ).localCheckpoint(eager=True)
    stats = base.agg(
        F.count(F.lit(1)).cast("double").alias("n_docs"),
        (F.sum(F.col("dl").cast("double")) / F.count(F.lit(1)).cast("double")).alias(
            "avgdl"
        ),
    )
    stack_args = ", ".join(
        f"'{t}', tf_{i}" for i, t in enumerate(BM25_QUERY)
    )
    tf = (
        base.select(
            "doc_id",
            F.expr(f"stack({len(BM25_QUERY)}, {stack_args}) AS (term, tf)"),
        )
        .filter(F.col("tf") > 0)
    )
    dl = base.select("doc_id", "dl")
    df = tf.groupBy("term").agg(F.count(F.lit(1)).cast("double").alias("df"))
    k1, b = F.lit(BM25_K1), F.lit(BM25_B)
    idf = F.round(
        F.log(
            (F.col("n_docs") - F.col("df") + F.lit(0.5))
            / (F.col("df") + F.lit(0.5))
            + F.lit(1.0)
        ),
        6,
    )
    sat = (F.col("tf") * (k1 + F.lit(1.0))) / (
        F.col("tf")
        + k1 * (F.lit(1.0) - b + b * (F.col("dl") / F.col("avgdl")))
    )
    scored = (
        tf.join(F.broadcast(df), "term")
        .join(dl, "doc_id")
        .crossJoin(F.broadcast(stats))
        .withColumn("term_score", idf * sat)
    )
    totals = scored.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_hit"),
        F.round(F.sum("term_score"), 6).alias("bm25"),
    )
    w = Window.orderBy(F.col("bm25").desc(), "doc_id")
    return (
        totals.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= BM25_TOP_DOCS)
        .select("doc_id", "n_hit", "bm25", F.col("rn").cast("long").alias("rank"))
    )


@register(
    "text_bigram_perplexity",
    oracle="""
        WITH tok AS (
            SELECT doc_id, string_split(text, ' ') AS toks FROM documents
        ),
        pairs AS (
            SELECT doc_id,
                   unnest(list_transform(range(1, len(toks)),
                                         i -> toks[i])) AS w1,
                   unnest(list_transform(range(1, len(toks)),
                                         i -> toks[i+1])) AS w2
            FROM tok WHERE len(toks) >= 2
        ),
        c12 AS (
            SELECT w1, w2, CAST(COUNT(*) AS BIGINT) AS c12
            FROM pairs GROUP BY w1, w2
        ),
        c1 AS (
            SELECT w1, CAST(SUM(c12) AS BIGINT) AS c1 FROM c12 GROUP BY w1
        ),
        v AS (
            SELECT CAST(COUNT(DISTINCT tokk) AS DOUBLE) AS v
            FROM (SELECT unnest(toks) AS tokk FROM tok)
        ),
        scored AS (
            SELECT p.doc_id,
                   -ln((b.c12 + 1.0) / (u.c1 + v.v)) AS surprisal
            FROM pairs p
            JOIN c12 b ON p.w1 = b.w1 AND p.w2 = b.w2
            JOIN c1 u ON p.w1 = u.w1
            CROSS JOIN v
        )
        SELECT doc_id,
               CAST(COUNT(*) AS BIGINT) AS n_bigrams,
               ROUND(AVG(surprisal), 6) AS bigram_cross_entropy
        FROM scored GROUP BY doc_id
    """,
    tags=("llm", "text"),
)
def text_bigram_perplexity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bigram conditional LM cross-entropy per document — the proper
    sequence model over ``text_lm_perplexity``'s unigram: surprisal of
    each bigram is -ln P(w2|w1) under add-one smoothing over the
    unigram vocabulary, ``(c(w1,w2)+1)/(c(w1,·)+V)``, averaged per
    doc. Boilerplate repeats its transitions, so it scores LOW;
    shuffled/garbled text has plausible unigrams but improbable
    transitions, so it scores HIGH where the unigram LM is blind — the
    two together are the CCNet-style quality pair.

    Value parity: per-bigram surprisals are the same ln of the same
    integer-derived doubles on both engines; only the per-doc AVG
    accumulates in engine order, hence ROUND(6) on the aggregate
    (text_lm_perplexity policy).

    Scale shape: one tokenize pass; the (doc, w1, w2) pair explode is
    localCheckpointed and feeds the bigram counts, the prefix counts
    (derived FROM the bigram counts, not a second corpus pass), and
    the final join-back; both count tables are vocabulary-sized;
    V rides a 1-row broadcast. Hot-prefix skew (stopword w1) flattens
    in the map-side partials exactly as in tfidf's df aggregate."""
    docs = spread(load_table(spark, sf_dir, "documents"), spark)
    toks = F.split("text", " ")
    pairs = (
        # tokens projected once: split(text) inside the lambda would
        # re-split the whole text per index (O(words²) per doc)
        docs.select("doc_id", toks.alias("toks"))
        .filter(F.size("toks") >= 2)
        .select(
            "doc_id",
            F.explode(
                F.expr(
                    "transform(sequence(1, size(toks) - 1),"
                    " i -> struct(element_at(toks, i) AS w1,"
                    " element_at(toks, i + 1) AS w2))"
                )
            ).alias("p"),
        )
        .select("doc_id", "p.w1", "p.w2")
        .localCheckpoint(eager=True)
    )
    # vocab-scale count table, materialized ONCE: four consumer
    # branches (c1, cont, t, the score join) otherwise each re-run the
    # corpus-wide aggregate — measured 0 ReusedExchange in the plan
    c12 = (
        pairs.groupBy("w1", "w2")
        .agg(F.count(F.lit(1)).cast("long").alias("c12"))
        .localCheckpoint(eager=True)
    )
    c1 = c12.groupBy("w1").agg(F.sum("c12").cast("long").alias("c1"))
    v = (
        docs.select(F.explode(toks).alias("tokk"))
        .agg(F.countDistinct("tokk").cast("double").alias("v"))
    )
    scored = (
        pairs.join(c12, ["w1", "w2"])
        .join(c1, "w1")
        .crossJoin(F.broadcast(v))
        .select(
            "doc_id",
            (-F.log((F.col("c12") + F.lit(1.0)) / (F.col("c1") + F.col("v")))).alias(
                "surprisal"
            ),
        )
    )
    return scored.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_bigrams"),
        F.round(F.avg("surprisal"), 6).alias("bigram_cross_entropy"),
    )


@register(
    "text_kneser_ney",
    oracle="""
        WITH tok AS (
            SELECT doc_id, string_split(text, ' ') AS toks FROM documents
        ),
        pairs AS (
            SELECT doc_id,
                   unnest(list_transform(range(1, len(toks)),
                                         i -> toks[i])) AS w1,
                   unnest(list_transform(range(1, len(toks)),
                                         i -> toks[i+1])) AS w2
            FROM tok WHERE len(toks) >= 2
        ),
        c12 AS (
            SELECT w1, w2, CAST(COUNT(*) AS BIGINT) AS c12
            FROM pairs GROUP BY w1, w2
        ),
        c1 AS (
            SELECT w1, CAST(SUM(c12) AS BIGINT) AS c1,
                   CAST(COUNT(*) AS BIGINT) AS n1p
            FROM c12 GROUP BY w1
        ),
        cont AS (
            SELECT w2, CAST(COUNT(*) AS BIGINT) AS ncont
            FROM c12 GROUP BY w2
        ),
        t AS (SELECT CAST(COUNT(*) AS DOUBLE) AS t FROM c12),
        scored AS (
            SELECT p.doc_id,
                   -ln(
                     (GREATEST(b.c12 - 0.75, 0.0) / u.c1)
                     + (0.75 * u.n1p / u.c1) * (k.ncont / t.t)
                   ) AS surprisal
            FROM pairs p
            JOIN c12 b ON p.w1 = b.w1 AND p.w2 = b.w2
            JOIN c1 u ON p.w1 = u.w1
            JOIN cont k ON p.w2 = k.w2
            CROSS JOIN t
        )
        SELECT doc_id,
               CAST(COUNT(*) AS BIGINT) AS n_bigrams,
               ROUND(AVG(surprisal), 6) AS kn_cross_entropy
        FROM scored GROUP BY doc_id
    """,
    tags=("llm", "text"),
)
def text_kneser_ney(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interpolated Kneser-Ney bigram cross-entropy per document — the
    smoothing KenLM ships and CCNet's quality scoring actually runs,
    upgrading ``text_bigram_perplexity``'s add-one: the discounted
    direct estimate max(c(w1,w2)-D, 0)/c(w1) is interpolated with the
    CONTINUATION probability |{w1': c(w1',w2)>0}| / |bigram types| —
    "how many contexts does w2 follow" rather than "how often does w2
    occur" — weighted by the mass D·N1+(w1,·)/c(w1) the discount freed.
    D = 0.75 (the standard Chen-Goodman fixed discount). Boilerplate's
    repeated transitions score low; tokens that only ever follow one
    context ("francisco") stop leaking unigram mass into improbable
    positions — the failure add-one and Katz share.

    Value parity: every factor is a quotient of integer-derived
    doubles composed in the SAME association on both engines
    (term1 + (D·n1p/c1)·(ncont/T)); only the per-doc AVG accumulates
    in engine order, hence ROUND(6) (the text_lm_perplexity policy).

    Scale shape: identical to the add-one sibling — one tokenize pass,
    checkpointed pair explode, all model tables derived FROM the
    bigram-count table (c1/N1+ by w1, continuation counts by w2, the
    type total as a 1-row broadcast), join-back for scoring."""
    docs = spread(load_table(spark, sf_dir, "documents"), spark)
    toks = F.split("text", " ")
    pairs = (
        # tokens projected once: split(text) inside the lambda would
        # re-split the whole text per index (O(words²) per doc)
        docs.select("doc_id", toks.alias("toks"))
        .filter(F.size("toks") >= 2)
        .select(
            "doc_id",
            F.explode(
                F.expr(
                    "transform(sequence(1, size(toks) - 1),"
                    " i -> struct(element_at(toks, i) AS w1,"
                    " element_at(toks, i + 1) AS w2))"
                )
            ).alias("p"),
        )
        .select("doc_id", "p.w1", "p.w2")
        .localCheckpoint(eager=True)
    )
    # vocab-scale count table, materialized ONCE: four consumer
    # branches (c1, cont, t, the score join) otherwise each re-run the
    # corpus-wide aggregate — measured 0 ReusedExchange in the plan
    c12 = (
        pairs.groupBy("w1", "w2")
        .agg(F.count(F.lit(1)).cast("long").alias("c12"))
        .localCheckpoint(eager=True)
    )
    c1 = c12.groupBy("w1").agg(
        F.sum("c12").cast("long").alias("c1"),
        F.count(F.lit(1)).cast("long").alias("n1p"),
    )
    cont = c12.groupBy("w2").agg(
        F.count(F.lit(1)).cast("long").alias("ncont")
    )
    t = c12.agg(F.count(F.lit(1)).cast("double").alias("t"))
    p_kn = (
        F.greatest(F.col("c12") - F.lit(0.75), F.lit(0.0)) / F.col("c1")
    ) + (F.lit(0.75) * F.col("n1p") / F.col("c1")) * (
        F.col("ncont") / F.col("t")
    )
    scored = (
        pairs.join(c12, ["w1", "w2"])
        .join(c1, "w1")
        .join(cont, "w2")
        .crossJoin(F.broadcast(t))
        .select("doc_id", (-F.log(p_kn)).alias("surprisal"))
    )
    return scored.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_bigrams"),
        F.round(F.avg("surprisal"), 6).alias("kn_cross_entropy"),
    )


@register(
    "text_kneser_ney_trigram",
    oracle="""
        WITH tok AS (
            SELECT doc_id, string_split(text, ' ') AS toks FROM documents
        ),
        triples AS (
            SELECT doc_id,
                   unnest(list_transform(range(1, len(toks) - 1),
                                         i -> toks[i])) AS w1,
                   unnest(list_transform(range(1, len(toks) - 1),
                                         i -> toks[i+1])) AS w2,
                   unnest(list_transform(range(1, len(toks) - 1),
                                         i -> toks[i+2])) AS w3
            FROM tok WHERE len(toks) >= 3
        ),
        pairs AS (
            SELECT doc_id,
                   unnest(list_transform(range(1, len(toks)),
                                         i -> toks[i])) AS w1,
                   unnest(list_transform(range(1, len(toks)),
                                         i -> toks[i+1])) AS w2
            FROM tok WHERE len(toks) >= 2
        ),
        c12b AS (
            SELECT w1, w2, CAST(COUNT(*) AS BIGINT) AS c12
            FROM pairs GROUP BY w1, w2
        ),
        cont AS (
            SELECT w2 AS w3, CAST(COUNT(*) AS BIGINT) AS ncont
            FROM c12b GROUP BY w2
        ),
        t AS (SELECT CAST(COUNT(*) AS DOUBLE) AS t FROM c12b),
        tri AS (
            SELECT w1, w2, w3, CAST(COUNT(*) AS BIGINT) AS c123
            FROM triples GROUP BY w1, w2, w3
        ),
        ctx12 AS (
            SELECT w1, w2, CAST(SUM(c123) AS BIGINT) AS cctx,
                   CAST(COUNT(*) AS BIGINT) AS n1p12
            FROM tri GROUP BY w1, w2
        ),
        mid23 AS (
            SELECT w2, w3, CAST(COUNT(*) AS BIGINT) AS n1p23
            FROM tri GROUP BY w2, w3
        ),
        mid2 AS (
            SELECT w2, CAST(SUM(n1p23) AS BIGINT) AS nctx2,
                   CAST(COUNT(*) AS BIGINT) AS ntypes2
            FROM mid23 GROUP BY w2
        ),
        scored AS (
            SELECT p.doc_id,
                   -ln(
                     (GREATEST(b.c123 - 0.75, 0.0) / x.cctx)
                     + (0.75 * x.n1p12 / x.cctx) * (
                         (GREATEST(m.n1p23 - 0.75, 0.0) / g.nctx2)
                         + (0.75 * g.ntypes2 / g.nctx2) * (k.ncont / t.t)
                       )
                   ) AS surprisal
            FROM triples p
            JOIN tri b ON p.w1 = b.w1 AND p.w2 = b.w2 AND p.w3 = b.w3
            JOIN ctx12 x ON p.w1 = x.w1 AND p.w2 = x.w2
            JOIN mid23 m ON p.w2 = m.w2 AND p.w3 = m.w3
            JOIN mid2 g ON p.w2 = g.w2
            JOIN cont k ON p.w3 = k.w3
            CROSS JOIN t
        )
        SELECT doc_id,
               CAST(COUNT(*) AS BIGINT) AS n_trigrams,
               ROUND(AVG(surprisal), 6) AS kn3_cross_entropy
        FROM scored GROUP BY doc_id
    """,
    tags=("llm", "text"),
)
def text_kneser_ney_trigram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interpolated Kneser-Ney at TRIGRAM order with recursive backoff
    — the construction KenLM/CCNet actually run at order 5, proved here
    one recursion deeper than ``text_kneser_ney``'s bigram core:

        P3(w3|w1w2) = max(c123-D,0)/c(w1w2)
                      + D·N1+(w1w2·)/c(w1w2) · P2(w3|w2)
        P2(w3|w2)   = max(N1+(·w2w3)-D,0)/N1+(·w2·)
                      + D·N1+(w2·)/N1+(·w2·) · P1(w3)
        P1(w3)      = N1+(·w3)/|bigram types|

    with Chen-Goodman fixed discount D=0.75 and CONTINUATION counts at
    every lower order (the mid level asks "how many left contexts does
    (w2,w3) follow", never raw frequency). The unigram base SHARES the
    bigram model's tables (c12/cont/T — the same frames
    ``text_kneser_ney`` builds), so a deployment keeps one artifact per
    order, each derived from the next-higher count table.

    Value parity: every factor is a quotient of integer-derived doubles
    composed in the SAME association on both engines
    (term3 + lam3·(term2 + lam2·(ncont/t))); only the per-doc AVG
    accumulates in engine order, hence ROUND(6).

    Scale shape: one tokenize pass, checkpointed triple explode, ALL
    model tables derived from the trigram-count table by groupBy (plus
    the shared bigram tables), five join-backs on (wᵢ...) keys — the
    same join-back shape as the bigram model, shuffling model tables
    (vocab-sized) never the corpus twice."""
    # tokens projected once as a column: split(text) inside the lambdas
    # would re-split the whole text per index (O(words²) per doc)
    docs = spread(load_table(spark, sf_dir, "documents"), spark).select(
        "doc_id", F.split("text", " ").alias("toks")
    )
    toks = "toks"
    triples = (
        docs.filter(F.expr(f"size({toks})") >= 3)
        .select(
            "doc_id",
            F.explode(
                F.expr(
                    f"transform(sequence(1, size({toks}) - 2),"
                    f" i -> struct(element_at({toks}, i) AS w1,"
                    f" element_at({toks}, i + 1) AS w2,"
                    f" element_at({toks}, i + 2) AS w3))"
                )
            ).alias("p"),
        )
        .select("doc_id", "p.w1", "p.w2", "p.w3")
        .localCheckpoint(eager=True)
    )
    pairs = (
        docs.filter(F.expr(f"size({toks})") >= 2)
        .select(
            "doc_id",
            F.explode(
                F.expr(
                    f"transform(sequence(1, size({toks}) - 1),"
                    f" i -> struct(element_at({toks}, i) AS w1,"
                    f" element_at({toks}, i + 1) AS w2))"
                )
            ).alias("p"),
        )
        .select("p.w1", "p.w2")
    )
    # count tables materialized ONCE (vocab-scale): without the
    # checkpoints the final plan re-tokenized the raw corpus once per
    # consumer branch (4 parquet scans measured; 0 ReusedExchange)
    c12b = (
        pairs.groupBy("w1", "w2")
        .agg(F.count(F.lit(1)).cast("long").alias("c12"))
        .localCheckpoint(eager=True)
    )
    cont = c12b.groupBy(F.col("w2").alias("w3")).agg(
        F.count(F.lit(1)).cast("long").alias("ncont")
    )
    t = c12b.agg(F.count(F.lit(1)).cast("double").alias("t"))
    tri = (
        triples.groupBy("w1", "w2", "w3")
        .agg(F.count(F.lit(1)).cast("long").alias("c123"))
        .localCheckpoint(eager=True)
    )
    ctx12 = tri.groupBy("w1", "w2").agg(
        F.sum("c123").cast("long").alias("cctx"),
        F.count(F.lit(1)).cast("long").alias("n1p12"),
    )
    mid23 = tri.groupBy("w2", "w3").agg(
        F.count(F.lit(1)).cast("long").alias("n1p23")
    )
    mid2 = mid23.groupBy("w2").agg(
        F.sum("n1p23").cast("long").alias("nctx2"),
        F.count(F.lit(1)).cast("long").alias("ntypes2"),
    )
    d = F.lit(0.75)
    p1 = F.col("ncont") / F.col("t")
    p2 = (
        F.greatest(F.col("n1p23") - d, F.lit(0.0)) / F.col("nctx2")
    ) + (d * F.col("ntypes2") / F.col("nctx2")) * p1
    p3 = (
        F.greatest(F.col("c123") - d, F.lit(0.0)) / F.col("cctx")
    ) + (d * F.col("n1p12") / F.col("cctx")) * p2
    scored = (
        triples.join(tri, ["w1", "w2", "w3"])
        .join(ctx12, ["w1", "w2"])
        .join(mid23, ["w2", "w3"])
        .join(mid2, "w2")
        .join(cont, "w3")
        .crossJoin(F.broadcast(t))
        .select("doc_id", (-F.log(p3)).alias("surprisal"))
    )
    return scored.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_trigrams"),
        F.round(F.avg("surprisal"), 6).alias("kn3_cross_entropy"),
    )


@register(
    "text_kneser_ney_4gram",
    oracle="""
        WITH tok AS (
            SELECT doc_id, string_split(text, ' ') AS toks FROM documents
        ),
        quads AS (
            SELECT doc_id,
                   unnest(list_transform(range(1, len(toks) - 2),
                                         i -> toks[i])) AS w1,
                   unnest(list_transform(range(1, len(toks) - 2),
                                         i -> toks[i+1])) AS w2,
                   unnest(list_transform(range(1, len(toks) - 2),
                                         i -> toks[i+2])) AS w3,
                   unnest(list_transform(range(1, len(toks) - 2),
                                         i -> toks[i+3])) AS w4
            FROM tok WHERE len(toks) >= 4
        ),
        triples AS (
            SELECT unnest(list_transform(range(1, len(toks) - 1),
                                         i -> toks[i])) AS w1,
                   unnest(list_transform(range(1, len(toks) - 1),
                                         i -> toks[i+1])) AS w2,
                   unnest(list_transform(range(1, len(toks) - 1),
                                         i -> toks[i+2])) AS w3
            FROM tok WHERE len(toks) >= 3
        ),
        pairs AS (
            SELECT unnest(list_transform(range(1, len(toks)),
                                         i -> toks[i])) AS w1,
                   unnest(list_transform(range(1, len(toks)),
                                         i -> toks[i+1])) AS w2
            FROM tok WHERE len(toks) >= 2
        ),
        c12b AS (
            SELECT w1, w2, CAST(COUNT(*) AS BIGINT) AS c12
            FROM pairs GROUP BY w1, w2
        ),
        cont AS (
            SELECT w2 AS w4, CAST(COUNT(*) AS BIGINT) AS ncont
            FROM c12b GROUP BY w2
        ),
        t AS (SELECT CAST(COUNT(*) AS DOUBLE) AS t FROM c12b),
        tri AS (
            SELECT w1, w2, w3, CAST(COUNT(*) AS BIGINT) AS c123
            FROM triples GROUP BY w1, w2, w3
        ),
        n1p34 AS (
            SELECT w2 AS w3, w3 AS w4, CAST(COUNT(*) AS BIGINT) AS n34
            FROM tri GROUP BY w2, w3
        ),
        mid3 AS (
            SELECT w3, CAST(SUM(n34) AS BIGINT) AS nctx3,
                   CAST(COUNT(*) AS BIGINT) AS ntypes3
            FROM n1p34 GROUP BY w3
        ),
        quad AS (
            SELECT w1, w2, w3, w4, CAST(COUNT(*) AS BIGINT) AS c1234
            FROM quads GROUP BY w1, w2, w3, w4
        ),
        ctx123 AS (
            SELECT w1, w2, w3, CAST(SUM(c1234) AS BIGINT) AS cctx,
                   CAST(COUNT(*) AS BIGINT) AS n1ptop
            FROM quad GROUP BY w1, w2, w3
        ),
        mid234 AS (
            SELECT w2, w3, w4, CAST(COUNT(*) AS BIGINT) AS n234
            FROM quad GROUP BY w2, w3, w4
        ),
        mid23c AS (
            SELECT w2, w3, CAST(SUM(n234) AS BIGINT) AS nctx23,
                   CAST(COUNT(*) AS BIGINT) AS ntypes23
            FROM mid234 GROUP BY w2, w3
        ),
        scored AS (
            SELECT p.doc_id,
                   -ln(
                     (GREATEST(b.c1234 - 0.75, 0.0) / x.cctx)
                     + (0.75 * x.n1ptop / x.cctx) * (
                         (GREATEST(m.n234 - 0.75, 0.0) / g.nctx23)
                         + (0.75 * g.ntypes23 / g.nctx23) * (
                             (GREATEST(l.n34 - 0.75, 0.0) / h.nctx3)
                             + (0.75 * h.ntypes3 / h.nctx3) * (k.ncont / t.t)
                           )
                       )
                   ) AS surprisal
            FROM quads p
            JOIN quad b ON p.w1 = b.w1 AND p.w2 = b.w2
                       AND p.w3 = b.w3 AND p.w4 = b.w4
            JOIN ctx123 x ON p.w1 = x.w1 AND p.w2 = x.w2 AND p.w3 = x.w3
            JOIN mid234 m ON p.w2 = m.w2 AND p.w3 = m.w3 AND p.w4 = m.w4
            JOIN mid23c g ON p.w2 = g.w2 AND p.w3 = g.w3
            JOIN n1p34 l ON p.w3 = l.w3 AND p.w4 = l.w4
            JOIN mid3 h ON p.w3 = h.w3
            JOIN cont k ON p.w4 = k.w4
            CROSS JOIN t
        )
        SELECT doc_id,
               CAST(COUNT(*) AS BIGINT) AS n_4grams,
               ROUND(AVG(surprisal), 6) AS kn4_cross_entropy
        FROM scored GROUP BY doc_id
    """,
    tags=("llm", "text"),
)
def text_kneser_ney_4gram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interpolated Kneser-Ney at 4-GRAM order — PRODUCTION order for
    the artifact-per-order story (KenLM ships order 5; each order's
    tables derive from the raw (k+1)-gram count table one level up),
    proving the recursion ``text_kneser_ney_trigram`` opened
    generalizes without new machinery:

        P4(w4|w1w2w3) = max(c1234-D,0)/c(w1w2w3)
                        + D·N1+(w1w2w3·)/c(w1w2w3) · P3'(w4|w2w3)
        P3'(w4|w2w3)  = max(N1+(·w2w3w4)-D,0)/N1+(·w2w3·)
                        + D·Ntypes(·w2w3·)/N1+(·w2w3·) · P2'(w4|w3)
        P2'(w4|w3)    = max(N1+(·w3w4)-D,0)/N1+(·w3·)
                        + D·Ntypes(·w3·)/N1+(·w3·) · P1(w4)
        P1(w4)        = N1+(·w4)/|bigram types|

    D = 0.75 (Chen-Goodman fixed discount). The lower orders REUSE the
    existing models' tables: P2'/P1 read the trigram and bigram count
    tables the sibling queries already build (continuation counts keyed
    by the LAST words of the next-higher-order table) — one count
    artifact per order, shared downward, never a re-tokenize.

    Value parity: every factor is a quotient of integer-derived doubles
    composed in the SAME association on both engines
    (term4 + lam4·(term3 + lam3·(term2 + lam2·(ncont/t)))); only the
    per-doc AVG accumulates in engine order, hence ROUND(6).

    Scale shape: one tokenize pass per order (the corpus is shuffled
    once per count table, all model tables vocab-sized, derived by
    groupBy from the order above), seven join-backs on word keys —
    model tables shuffle, the corpus never shuffles twice."""
    # tokens projected once as a column: split(text) inside the lambdas
    # would re-split the whole text per index (O(words²) per doc)
    docs = spread(load_table(spark, sf_dir, "documents"), spark).select(
        "doc_id", F.split("text", " ").alias("toks")
    )
    toks = "toks"
    quads = (
        docs.filter(F.expr(f"size({toks})") >= 4)
        .select(
            "doc_id",
            F.explode(
                F.expr(
                    f"transform(sequence(1, size({toks}) - 3),"
                    f" i -> struct(element_at({toks}, i) AS w1,"
                    f" element_at({toks}, i + 1) AS w2,"
                    f" element_at({toks}, i + 2) AS w3,"
                    f" element_at({toks}, i + 3) AS w4))"
                )
            ).alias("p"),
        )
        .select("doc_id", "p.w1", "p.w2", "p.w3", "p.w4")
        .localCheckpoint(eager=True)
    )
    triples = (
        docs.filter(F.expr(f"size({toks})") >= 3)
        .select(
            F.explode(
                F.expr(
                    f"transform(sequence(1, size({toks}) - 2),"
                    f" i -> struct(element_at({toks}, i) AS w1,"
                    f" element_at({toks}, i + 1) AS w2,"
                    f" element_at({toks}, i + 2) AS w3))"
                )
            ).alias("p"),
        )
        .select("p.w1", "p.w2", "p.w3")
    )
    pairs = (
        docs.filter(F.expr(f"size({toks})") >= 2)
        .select(
            F.explode(
                F.expr(
                    f"transform(sequence(1, size({toks}) - 1),"
                    f" i -> struct(element_at({toks}, i) AS w1,"
                    f" element_at({toks}, i + 1) AS w2))"
                )
            ).alias("p"),
        )
        .select("p.w1", "p.w2")
    )
    # count tables materialized ONCE (vocab-scale): the final plan
    # otherwise re-tokenized the raw corpus per consumer branch (8
    # parquet scans measured at 4-gram order; 0 ReusedExchange)
    c12b = (
        pairs.groupBy("w1", "w2")
        .agg(F.count(F.lit(1)).cast("long").alias("c12"))
        .localCheckpoint(eager=True)
    )
    cont = c12b.groupBy(F.col("w2").alias("w4")).agg(
        F.count(F.lit(1)).cast("long").alias("ncont")
    )
    t = c12b.agg(F.count(F.lit(1)).cast("double").alias("t"))
    tri = (
        triples.groupBy("w1", "w2", "w3")
        .agg(F.count(F.lit(1)).cast("long").alias("c123"))
        .localCheckpoint(eager=True)
    )
    n1p34 = tri.groupBy(
        F.col("w2").alias("w3"), F.col("w3").alias("w4")
    ).agg(F.count(F.lit(1)).cast("long").alias("n34"))
    mid3 = n1p34.groupBy("w3").agg(
        F.sum("n34").cast("long").alias("nctx3"),
        F.count(F.lit(1)).cast("long").alias("ntypes3"),
    )
    quad = (
        quads.groupBy("w1", "w2", "w3", "w4")
        .agg(F.count(F.lit(1)).cast("long").alias("c1234"))
        .localCheckpoint(eager=True)
    )
    ctx123 = quad.groupBy("w1", "w2", "w3").agg(
        F.sum("c1234").cast("long").alias("cctx"),
        F.count(F.lit(1)).cast("long").alias("n1ptop"),
    )
    mid234 = quad.groupBy("w2", "w3", "w4").agg(
        F.count(F.lit(1)).cast("long").alias("n234")
    )
    mid23c = mid234.groupBy("w2", "w3").agg(
        F.sum("n234").cast("long").alias("nctx23"),
        F.count(F.lit(1)).cast("long").alias("ntypes23"),
    )
    d = F.lit(0.75)
    p1 = F.col("ncont") / F.col("t")
    p2 = (
        F.greatest(F.col("n34") - d, F.lit(0.0)) / F.col("nctx3")
    ) + (d * F.col("ntypes3") / F.col("nctx3")) * p1
    p3 = (
        F.greatest(F.col("n234") - d, F.lit(0.0)) / F.col("nctx23")
    ) + (d * F.col("ntypes23") / F.col("nctx23")) * p2
    p4 = (
        F.greatest(F.col("c1234") - d, F.lit(0.0)) / F.col("cctx")
    ) + (d * F.col("n1ptop") / F.col("cctx")) * p3
    scored = (
        quads.join(quad, ["w1", "w2", "w3", "w4"])
        .join(ctx123, ["w1", "w2", "w3"])
        .join(mid234, ["w2", "w3", "w4"])
        .join(mid23c, ["w2", "w3"])
        .join(n1p34, ["w3", "w4"])
        .join(mid3, "w3")
        .join(cont, "w4")
        .crossJoin(F.broadcast(t))
        .select("doc_id", (-F.log(p4)).alias("surprisal"))
    )
    return scored.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_4grams"),
        F.round(F.avg("surprisal"), 6).alias("kn4_cross_entropy"),
    )
