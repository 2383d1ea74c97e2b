"""Corpus-curation operators: semantic invariants beyond oracle parity
(planted duplicates, packing conservation laws, sampling determinism).
"""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from aws_seismic_data_pipeline_spark.catalog import load_table
from aws_seismic_data_pipeline_spark.llm.curation import (
    LANG_KEEP_PCT,
    N_SHARDS,
    PACK_BUDGET,
    dedup_segment_crossdoc,
    pack_token_budget,
    sample_stratified_seeded,
    shard_assign_hash,
    text_doc_repetition,
)

from .conftest import SF_DIR


def _mini_corpus(spark, tmp_path, rows):
    """Write a documents.parquet fixture: rows = [(doc_id, text, lang)]."""
    d = str(tmp_path / "mini")
    os.makedirs(d, exist_ok=True)
    df = spark.createDataFrame(
        [(i, t, lang, "src0", len(t)) for i, t, lang in rows],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    df.coalesce(1).write.mode("overwrite").parquet(f"{d}/documents.parquet")
    return d


def test_stratified_sample_is_deterministic_and_nested(spark):
    once = {r.doc_id for r in sample_stratified_seeded(spark, SF_DIR).collect()}
    twice = {r.doc_id for r in sample_stratified_seeded(spark, SF_DIR).collect()}
    assert once == twice  # rerun-stable, unlike DataFrame.sample

    docs = load_table(spark, SF_DIR, "documents")
    by_lang_total = {
        r.lang: r.n for r in docs.groupBy("lang").agg(F.count("*").alias("n")).collect()
    }
    kept = sample_stratified_seeded(spark, SF_DIR)
    by_lang_kept = {
        r.lang: r.n for r in kept.groupBy("lang").agg(F.count("*").alias("n")).collect()
    }
    for lang, total in by_lang_total.items():
        rate = by_lang_kept.get(lang, 0) / total
        want = LANG_KEEP_PCT[lang] / 100
        # md5 buckets are uniform; allow generous sampling noise
        assert abs(rate - want) < 0.25, (lang, rate, want)


def test_pack_token_budget_conservation(spark):
    docs = load_table(spark, SF_DIR, "documents")
    totals = {
        r.lang: r.t
        for r in docs.select(
            "lang", F.size(F.split("text", " ")).alias("n")
        )
        .groupBy("lang")
        .agg(F.sum("n").alias("t"))
        .collect()
    }
    max_doc = docs.select(F.max(F.size(F.split("text", " ")))).collect()[0][0]
    packs = pack_token_budget(spark, SF_DIR).collect()
    by_lang: dict = {}
    for r in packs:
        by_lang.setdefault(r.lang, []).append(r)
    for lang, rows in by_lang.items():
        # conservation: every token lands in exactly one pack
        assert sum(r.pack_tokens for r in rows) == totals[lang]
        # contiguous pack ids from 0
        ids = sorted(r.pack_id for r in rows)
        assert ids == list(range(len(ids)))
        # streaming-pack overflow bound: a pack exceeds the budget by
        # less than one document
        for r in rows:
            assert r.pack_tokens < PACK_BUDGET + max_doc


def test_shard_assignment_balanced(spark):
    docs_n = load_table(spark, SF_DIR, "documents").count()
    shards = shard_assign_hash(spark, SF_DIR).collect()
    assert len(shards) == N_SHARDS
    assert sum(r.n_docs for r in shards) == docs_n
    for r in shards:
        assert 0.4 < r.load_factor < 1.8, (r.shard_id, r.load_factor)


def test_segment_dedup_detects_planted_boilerplate(spark, tmp_path):
    boiler = "w1 w2 w3 w4 w5 w6 w7 w8"  # exactly one 8-token segment
    uniq = ["u%d" % i for i in range(8)]
    rows = [
        (1, boiler + " a1 a2 a3 a4 a5 a6 a7 a8", "en"),
        (2, boiler + " b1 b2 b3 b4 b5 b6 b7 b8", "en"),
        (3, " ".join(uniq) + " c1 c2 c3 c4 c5 c6 c7 c8", "en"),
    ]
    d = _mini_corpus(spark, tmp_path, rows)
    out = {r.doc_id: r for r in dedup_segment_crossdoc(spark, d).collect()}
    assert out[1].n_segments == 2 and out[1].n_dup_segments == 1
    assert out[2].n_segments == 2 and out[2].n_dup_segments == 1
    assert out[3].n_dup_segments == 0
    assert abs(out[1].dup_segment_ratio - 0.5) < 1e-9


def test_doc_repetition_flags_loops(spark, tmp_path):
    rows = [
        (1, "spam spam spam spam spam spam", "en"),  # pure loop
        (2, "alpha beta gamma delta epsilon zeta", "en"),  # all distinct
    ]
    d = _mini_corpus(spark, tmp_path, rows)
    out = {r.doc_id: r for r in text_doc_repetition(spark, d).collect()}
    assert out[1].dup_token_ratio > 0.8
    assert abs(out[1].top_bigram_ratio - 1.0) < 1e-9  # one bigram dominates
    assert out[2].dup_token_ratio == 0.0
    assert out[2].top_bigram_ratio < 0.25


def _plan_of(df) -> str:
    import io
    from contextlib import redirect_stdout

    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def test_decontaminate_benchmark_side_broadcasts(spark):
    """The benchmark n-gram set must ride a BroadcastHashJoin — if a
    future edit drops the hint and the eval set shuffle-joins the
    exploded corpus, that's the scale regression this test pins."""
    from aws_seismic_data_pipeline_spark.registry import load_all

    df = load_all()["text_decontaminate"].builder(spark, SF_DIR)
    assert "BroadcastHashJoin" in _plan_of(df)


def test_pretrain_manifest_composition(spark):
    """The composed manifest must equal recomputing its stages from the
    component queries (gate ∧ not-contaminated ∧ keeper ∧ non-benchmark),
    and its broadcast joins must survive in the physical plan."""
    from aws_seismic_data_pipeline_spark.llm.curation import (
        DECON_BENCH_PCT,
        N_SHARDS,
        _md5_bucket,
    )
    from aws_seismic_data_pipeline_spark.registry import load_all

    reg = load_all()
    manifest = {
        r.shard_id: (r.n_docs, r.n_tokens)
        for r in reg["curate_pretrain_manifest"].builder(spark, SF_DIR).collect()
    }
    plan = _plan_of(reg["curate_pretrain_manifest"].builder(spark, SF_DIR))
    assert "BroadcastHashJoin" in plan

    gate = reg["curate_quality_gate"].builder(spark, SF_DIR)
    contaminated = {
        r.doc_id for r in reg["text_decontaminate"].builder(spark, SF_DIR).collect()
    }
    keepers = {
        r.keeper_id for r in reg["dedup_exact"].builder(spark, SF_DIR).collect()
    }
    docs = load_table(spark, SF_DIR, "documents").withColumn(
        "bucket", _md5_bucket("doc_id", 100)
    )
    rows = (
        docs.join(gate.select("doc_id", "n_words", "keep"), "doc_id")
        .filter((F.col("bucket") >= DECON_BENCH_PCT) & F.col("keep"))
        .select("doc_id", "n_words")
        .collect()
    )
    expect: dict = {}
    import hashlib

    for r in rows:
        if r.doc_id in contaminated or r.doc_id not in keepers:
            continue
        bucket = int(hashlib.md5(str(r.doc_id).encode()).hexdigest()[:15], 16) % N_SHARDS
        n_docs, n_tokens = expect.get(bucket, (0, 0))
        expect[bucket] = (n_docs + 1, n_tokens + r.n_words)
    assert manifest == expect


def test_decontaminate_indexed_equals_direct(spark):
    """The posting-index decontamination plan must report the identical
    (doc_id, n_grams, n_hits, frac) rows as the direct broadcast scan —
    the two-plans-one-truth contract the shared oracle encodes — and
    the persisted index must carry only integer columns (the probe can
    never touch text)."""
    from aws_seismic_data_pipeline_spark.registry import load_all

    reg = load_all()
    direct = sorted(
        tuple(r)
        for r in reg["text_decontaminate"].builder(spark, SF_DIR).collect()
    )
    indexed = sorted(
        tuple(r)
        for r in reg["text_decontaminate_indexed"]
        .builder(spark, SF_DIR)
        .collect()
    )
    assert direct == indexed and direct


def test_gram_index_schema_and_reuse(spark, tmp_path):
    """One index build serves multiple benchmark probes: probing two
    different bench slices against the same artifact matches running
    the direct plan against each."""
    from aws_seismic_data_pipeline_spark.llm.curation import (
        DECON_BENCH_PCT,
        _doc_grams,
        _md5_bucket,
        build_gram_index,
        probe_gram_index,
    )

    docs = load_table(spark, SF_DIR, "documents")
    corpus = docs.filter(_md5_bucket("doc_id", 100) >= DECON_BENCH_PCT)
    idx = str(tmp_path / "gram_idx")
    build_gram_index(spark, corpus, idx)
    stored = spark.read.parquet(idx)
    assert set(stored.columns) == {"doc_id", "n_grams", "h"}

    grams = _doc_grams(docs)
    for lo, hi in ((0, DECON_BENCH_PCT), (97, 100)):
        bench = (
            grams.filter(
                (F.col("bucket") >= lo) & (F.col("bucket") < hi)
            )
            .select(F.explode("gs").alias("h"))
            .distinct()
        )
        got = sorted(
            tuple(r) for r in probe_gram_index(spark, idx, bench).collect()
        )
        # direct recomputation over the same corpus/bench split
        corpus_grams = grams.filter(F.col("bucket") >= DECON_BENCH_PCT)
        explode = corpus_grams.select(
            "doc_id",
            F.size("gs").cast("long").alias("n_grams"),
            F.explode("gs").alias("h"),
        )
        want = sorted(
            tuple(r)
            for r in explode.join(F.broadcast(bench), "h")
            .groupBy("doc_id")
            .agg(
                F.first("n_grams").alias("n_grams"),
                F.count(F.lit(1)).alias("n_hits"),
            )
            .select(
                "doc_id",
                "n_grams",
                "n_hits",
                (
                    F.col("n_hits").cast("double") / F.col("n_grams")
                ).alias("contamination_frac"),
            )
            .collect()
        )
        assert got == want
        if lo == 0:
            assert got  # the standard bench slice must contaminate


def test_importance_weights_match_hand_model(spark):
    """curate_importance_weights on a 3-doc corpus must reproduce the
    hand-computed add-one-smoothed unigram log ratios: a token appearing
    only in the en target slice scores positive, a token appearing only
    outside it scores negative, and per-doc weights are the exact sums
    (repeats counted)."""
    import math

    import aws_seismic_data_pipeline_spark.llm.curation as C
    from aws_seismic_data_pipeline_spark.registry import REGISTRY

    docs = spark.createDataFrame(
        [
            (1, "good good nice", "en"),
            (2, "good bad", "de"),
            (3, "bad bad", "de"),
        ],
        "doc_id long, text string, lang string",
    )
    import aws_seismic_data_pipeline_spark.catalog as cat

    orig_load, orig_spread = cat.load_table, C.spread
    try:
        C.load_table = lambda s, d, t: docs
        C.spread = lambda df, s: df
        out = {
            r.doc_id: r
            for r in REGISTRY["curate_importance_weights"]
            .builder(spark, "unused")
            .collect()
        }
    finally:
        C.load_table = orig_load
        C.spread = orig_spread

    # joint vocab {good,nice,bad} V=3; raw N=7: good=3,nice=1,bad=3
    # target (en) N=3: good=2,nice=1,bad=0
    def lr(c_tgt, c_raw):
        return math.log((c_tgt + 1.0) / (3 + 3.0)) - math.log(
            (c_raw + 1.0) / (7 + 3.0)
        )

    good, nice, bad = lr(2, 3), lr(1, 1), lr(0, 3)
    assert good > 0 and nice > 0 and bad < 0
    expect = {
        1: 2 * good + nice,
        2: good + bad,
        3: 2 * bad,
    }
    for doc_id, z in expect.items():
        assert abs(out[doc_id].log_weight - round(z, 6)) < 1e-9, (
            doc_id,
            out[doc_id].log_weight,
            z,
        )
    assert out[1].n_tokens == 3 and out[3].n_tokens == 2


def test_perplexity_buckets_are_balanced_tertiles(spark):
    """Within every language the head/middle/tail buckets must differ
    in size by at most 1 (ntile contract) and respect the entropy
    order: max(head) <= min(middle) <= ... at the rounded precision."""
    from aws_seismic_data_pipeline_spark.registry import REGISTRY

    out = (
        REGISTRY["curate_perplexity_buckets"]
        .builder(spark, os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001"))
        .collect()
    )
    by_lang: dict = {}
    for r in out:
        by_lang.setdefault(r.lang, {}).setdefault(r.bucket, []).append(
            r.cross_entropy
        )
    assert by_lang
    for lang, buckets in by_lang.items():
        sizes = [len(v) for v in buckets.values()]
        assert max(sizes) - min(sizes) <= 1, (lang, sizes)
        if {"head", "middle", "tail"} <= buckets.keys():
            assert max(buckets["head"]) <= min(buckets["middle"]) + 1e-9
            assert max(buckets["middle"]) <= min(buckets["tail"]) + 1e-9


def test_chunk_windows_cover_and_overlap(spark):
    """Chunking invariants on the fixture: every doc's chunks start at
    exact STRIDE multiples, the union of chunks covers every token
    position, consecutive chunks overlap by WINDOW-STRIDE (when full),
    and rejoining the stride-aligned prefix of each chunk reconstructs
    the original text exactly."""
    import aws_seismic_data_pipeline_spark.llm.curation as C
    from aws_seismic_data_pipeline_spark.registry import REGISTRY

    sf = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")
    docs = {r.doc_id: r.text for r in load_table(spark, sf, "documents").collect()}
    chunks = REGISTRY["text_chunk_windows"].builder(spark, sf).collect()
    by_doc: dict = {}
    for r in chunks:
        by_doc.setdefault(r.doc_id, []).append(r)
    assert set(by_doc) == set(docs)
    for doc_id, rows in by_doc.items():
        toks = docs[doc_id].split(" ")
        rows.sort(key=lambda r: r.chunk_start)
        starts = [r.chunk_start for r in rows]
        assert starts == list(range(0, len(toks), C.CHUNK_STRIDE))
        # coverage: last chunk reaches the final token
        last = rows[-1]
        assert last.chunk_start + last.n_chunk_tokens == len(toks)
        # reconstruction from stride-aligned prefixes
        rebuilt: list = []
        for r in rows:
            rebuilt.extend(r.chunk_text.split(" ")[: C.CHUNK_STRIDE])
        assert rebuilt == toks, doc_id
        # overlap: a full chunk re-covers STRIDE..WINDOW of the next
        for a, b in zip(rows, rows[1:]):
            if a.n_chunk_tokens == C.CHUNK_WINDOW:
                assert (
                    a.chunk_text.split(" ")[C.CHUNK_STRIDE :]
                    == b.chunk_text.split(" ")[: C.CHUNK_WINDOW - C.CHUNK_STRIDE]
                )


def test_weighted_reservoir_biases_toward_long_docs(spark):
    """A-ES semantics: per language exactly min(K, n_lang) docs come
    back, ranks are 1..K dense, and the sample's mean length exceeds
    the population mean length in a clear majority of languages (length-
    proportional inclusion; a uniform sampler would center on the
    population mean)."""
    from aws_seismic_data_pipeline_spark.llm.curation import RESERVOIR_K
    from aws_seismic_data_pipeline_spark.registry import REGISTRY

    sf = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")
    docs = load_table(spark, sf, "documents").select("doc_id", "lang", "n_chars").collect()
    pop: dict = {}
    for r in docs:
        pop.setdefault(r.lang, []).append(r.n_chars)
    out = REGISTRY["sample_weighted_reservoir"].builder(spark, sf).collect()
    by_lang: dict = {}
    for r in out:
        by_lang.setdefault(r.lang, []).append(r)
    assert set(by_lang) == set(pop)
    heavier = 0
    for lang, rows in by_lang.items():
        assert len(rows) == min(RESERVOIR_K, len(pop[lang])), lang
        assert sorted(r.sample_rank for r in rows) == list(range(1, len(rows) + 1))
        if len(pop[lang]) > 2 * RESERVOIR_K:
            samp_mean = sum(r.n_chars for r in rows) / len(rows)
            pop_mean = sum(pop[lang]) / len(pop[lang])
            heavier += samp_mean > pop_mean
    assert heavier >= 1  # at sf0.001 only en clears the 2K bar


# --- curate_release_pipeline: survivor flags on degenerate corpora ------

def _release_ledger(spark, sf_dir) -> dict:
    from aws_seismic_data_pipeline_spark.llm.curation import (
        curate_release_pipeline,
    )

    rows = curate_release_pipeline(spark, sf_dir).collect()
    ledger = {r.stage: (r.n_docs, r.n_tokens) for r in rows}
    assert len(ledger) == len(rows)  # one row per stage and per shard
    return ledger


def _md5_int(s: str) -> int:
    import hashlib

    return int(hashlib.md5(s.encode()).hexdigest()[:15], 16)


def _expected_tail(survivors: dict) -> dict:
    """The sample row and shard rows for the given stage-4 survivors
    {doc_id: (lang, n_words)}: the md5 arithmetic the release applies
    after the quality gate, recomputed on the driver."""
    from aws_seismic_data_pipeline_spark.llm.curation import (
        RELEASE_SAMPLE_EN_PCT,
        RELEASE_SAMPLE_OTHER_PCT,
        RELEASE_SHARDS,
    )

    kept = {
        d: n
        for d, (lang, n) in survivors.items()
        if _md5_int(f"{d}:rel") % 100
        < (RELEASE_SAMPLE_EN_PCT if lang == "en" else RELEASE_SAMPLE_OTHER_PCT)
    }
    out = {"5_sample": (len(kept), sum(kept.values()))}
    for d, n in kept.items():
        key = "shard_%02d" % (_md5_int(str(d)) % RELEASE_SHARDS)
        docs, toks = out.get(key, (0, 0))
        out[key] = (docs + 1, toks + n)
    return out


def _unique_text(doc_id: int, n: int = 25) -> str:
    return " ".join(f"d{doc_id}w{j}" for j in range(n))


def test_release_ledger_without_lsh_candidates(spark, tmp_path):
    """No two exact survivors share a band key, so the verified edge
    list is empty and stage 3 keeps every exact survivor. Doc 141's
    canonical URL equals doc 1's (doc_id % 140) and doc 7 repeats doc
    2's text, so stages 1 and 2 each drop one document."""
    from aws_seismic_data_pipeline_spark.llm.dedup import dedup_lsh_verified

    langs = {1: "en", 2: "de", 3: "en", 4: "fr", 5: "en", 6: "zh"}
    rows = [(d, _unique_text(d), lang) for d, lang in langs.items()]
    rows += [(7, _unique_text(2), "en"), (141, _unique_text(141), "en")]
    d = _mini_corpus(spark, tmp_path, rows)
    # the only banded candidate is the exact pair stage 2 removes first
    pairs = dedup_lsh_verified(spark, d).collect()
    assert [(r.doc_a, r.doc_b) for r in pairs] == [(2, 7)]
    want = {
        "0_base": (8, 200),
        "1_url_canonical": (7, 175),
        "2_exact": (6, 150),
        "3_near_dup": (6, 150),
        "4_quality": (6, 150),
    }
    want.update(_expected_tail({i: (lang, 25) for i, lang in langs.items()}))
    assert _release_ledger(spark, d) == want


def test_release_ledger_when_no_document_passes_the_gate(spark, tmp_path):
    """Every document repeats one word 10 times in 25 (top-word share
    0.4 > GATE_MAX_TOP_WORD_FRAC), so stages 4 and 5 are empty: their
    rows stay, with zero docs and zero tokens, and no shard row is
    emitted. Doc 5 is doc 4 with its last word replaced, a verified
    near duplicate that stage 3 drops."""

    def text(d: int) -> str:
        return " ".join([f"d{d}w0"] * 10 + [f"d{d}w{j}" for j in range(1, 16)])

    rows = [(d, text(d), "en") for d in (1, 2, 3, 4)]
    rows.append((5, text(4).rsplit(" ", 1)[0] + " other", "de"))
    d = _mini_corpus(spark, tmp_path, rows)
    assert _release_ledger(spark, d) == {
        "0_base": (5, 125),
        "1_url_canonical": (5, 125),
        "2_exact": (5, 125),
        "3_near_dup": (4, 100),
        "4_quality": (0, 0),
        "5_sample": (0, 0),
    }


def test_release_ledger_when_every_document_is_under_three_words(
    spark, tmp_path
):
    """No document has a word 3-gram, so the shingle frame is empty;
    every document is also too short for the gate. Doc 4 repeats doc
    2's text."""
    rows = [
        (1, "alpha beta", "en"),
        (2, "gamma", "de"),
        (3, "delta epsilon", "en"),
        (4, "gamma", "fr"),
    ]
    d = _mini_corpus(spark, tmp_path, rows)
    assert _release_ledger(spark, d) == {
        "0_base": (4, 6),
        "1_url_canonical": (4, 6),
        "2_exact": (3, 5),
        "3_near_dup": (3, 5),
        "4_quality": (0, 0),
        "5_sample": (0, 0),
    }


def test_release_ledger_with_components_gate_closed(
    spark, tmp_path, monkeypatch
):
    """Production-scale edge lists take the distributed star
    contraction instead of the driver union-find: with the gate closed
    the ledger must be row-identical. The perfbench corpus plants near
    duplicates, so stage 3 really drops documents here."""
    from perfbench import gen

    from aws_seismic_data_pipeline_spark.llm import dedup as _dedup
    from aws_seismic_data_pipeline_spark.llm.curation import (
        curate_release_pipeline,
    )

    sf_dir = str(tmp_path / "sf")
    corpus, _ = gen.curation_corpus(2, 300, 10)
    gen.write_tables(corpus, sf_dir)
    gate_open = sorted(curate_release_pipeline(spark, sf_dir).collect())
    by_stage = {r.stage: r.n_docs for r in gate_open}
    assert by_stage["3_near_dup"] < by_stage["2_exact"]

    star_calls = []
    star = _dedup._star_components

    def counted_star(*args, **kwargs):
        star_calls.append(1)
        return star(*args, **kwargs)

    monkeypatch.setattr(_dedup, "_LOCAL_CC_MAX", 0)
    monkeypatch.setattr(_dedup, "_star_components", counted_star)
    gate_closed = sorted(curate_release_pipeline(spark, sf_dir).collect())
    assert star_calls
    assert gate_closed == gate_open


#: Spark jobs of one release (status store): the same at local[2],
#: local[4] and local[8], and at sf0.001, sf0.01 and the perfbench corpus
RELEASE_JOBS = 17


def test_release_evaluates_each_stage_once(spark):
    """Job-count pin of the release: each stage is evaluated once. A
    second shingle pass, a re-derived stage or a per-stage ledger
    branch each add jobs."""
    from perfbench.harness import StatusCounters

    from aws_seismic_data_pipeline_spark.llm.curation import (
        curate_release_pipeline,
    )

    counters = StatusCounters(spark)
    curate_release_pipeline(spark, SF_DIR).collect()
    assert counters.delta()["jobs"] <= RELEASE_JOBS
