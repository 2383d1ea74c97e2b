"""Pipeline-semantics tests for LLM/multimodal operators with no (or
partial) SQL-oracle coverage: simhash banding guarantees, vectorized
top-k merge correctness, multimodal decode plumbing.
"""

from __future__ import annotations

import hashlib

from pyspark.sql import functions as F

from aws_seismic_data_pipeline_spark.registry import load_all

from .conftest import SF_DIR

REGISTRY = load_all()


def test_simhash_identical_docs_hamming_zero(spark):
    """Exact-duplicate texts must produce identical fingerprints, so
    every exact-dup pair appears in the pairs output with hamming 0."""
    fp = REGISTRY["dedup_simhash"].builder(spark, SF_DIR)
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    joined = docs.alias("d").join(fp.alias("f"), F.col("d.doc_id") == F.col("f.doc_id"))
    # group identical texts: all members share one simhash
    per_text = joined.groupBy("d.text").agg(
        F.countDistinct("f.simhash").alias("n_hashes"),
        F.count(F.lit(1)).alias("n_docs"),
    )
    assert per_text.filter(F.col("n_hashes") > 1).count() == 0

    dup_pairs = (
        docs.alias("a")
        .join(docs.alias("b"), (F.col("a.text") == F.col("b.text"))
              & (F.col("a.doc_id") < F.col("b.doc_id")))
        .select(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
    )
    pairs = REGISTRY["dedup_simhash_pairs"].builder(spark, SF_DIR)
    found = pairs.filter(F.col("hamming") == 0)
    missing = dup_pairs.join(found, ["doc_a", "doc_b"], "left_anti")
    assert missing.count() == 0, "banding lost an exact-duplicate pair"


def test_simhash_numpy_kernel_equals_sql_expression(spark):
    """The vectorized fingerprint kernel (used by the pairs query) must
    produce exactly the SQL-expression fingerprints (used by the
    oracle-checked dedup_simhash query)."""
    from aws_seismic_data_pipeline_spark.llm.simhash import simhash_fingerprints_np

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    sql_fp = {
        r["doc_id"]: r["simhash"]
        for r in REGISTRY["dedup_simhash"].builder(spark, SF_DIR).collect()
    }
    np_fp = {
        r["doc_id"]: r["simhash"] for r in simhash_fingerprints_np(docs).collect()
    }
    assert np_fp == sql_fp


def test_vector_topk_matches_bruteforce_join(spark):
    """The mapInPandas partial-top-k plan must equal the naive SQL plan."""
    from aws_seismic_data_pipeline_spark.llm.vector import rank_topk, topk_dots

    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    queries = [
        (r["vec_id"], None, r["embedding"])
        for r in emb.filter(F.col("vec_id") < 5).collect()
    ]
    got = {
        (r["query_id"], r["rank"]): r["neighbor_id"]
        for r in rank_topk(topk_dots(emb.repartition(8), queries, 4, False), 4).collect()
    }
    # naive reference: explicit dot product via SQL aggregate
    dot = (
        "aggregate(zip_with(q.embedding, c.embedding,"
        " (x, y) -> cast(x as double) * cast(y as double)),"
        " 0D, (acc, v) -> acc + v)"
    )
    q = emb.filter(F.col("vec_id") < 5).alias("q")
    c = emb.alias("c")
    from pyspark.sql import Window as W

    w = W.partitionBy("q.vec_id").orderBy(
        F.round(F.col("dot"), 6).desc(), F.col("c.vec_id")
    )
    ref = (
        q.crossJoin(c)
        .filter(F.col("c.vec_id") != F.col("q.vec_id"))
        .withColumn("dot", F.expr(dot))
        .withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= 4)
        .select(F.col("q.vec_id").alias("query_id"), "rank",
                F.col("c.vec_id").alias("neighbor_id"))
    )
    want = {(r["query_id"], r["rank"]): r["neighbor_id"] for r in ref.collect()}
    assert got == want


def test_multimodal_decode_matches_local_fake(spark):
    """The distributed decode stage must agree with a driver-side call
    of the same kernel on the same bytes."""
    from aws_seismic_data_pipeline_spark.multimodal.media import fake_decode

    meta = REGISTRY["mm_decode_metadata"].builder(spark, SF_DIR)
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet").limit(20).collect()
    got = {r["media_id"]: r.asDict() for r in meta.collect()}
    for d in docs:
        local = fake_decode(d["text"].encode("utf-8"))
        row = got[d["doc_id"]]
        for k in ("format", "width", "height", "n_frames"):
            assert row[k] == local[k], (d["doc_id"], k)


def test_multimodal_real_decode_round_trip():
    """The stdlib WAV codec must round-trip its own generator exactly
    (header fields and PCM bytes), and reject non-RIFF payloads."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from aws_seismic_data_pipeline_spark.multimodal.media import (
        WAV_RATES,
        bmp_payload,
        real_decode,
        wav_payload,
    )

    @settings(max_examples=50, deadline=None)
    @given(st.integers(0, 10**9))
    def check(mid):
        meta = real_decode(wav_payload(mid))
        assert meta["format"] == "wav"
        assert meta["sample_rate"] == WAV_RATES[mid % 4]
        assert meta["n_channels"] == 1 + (mid % 2)
        assert meta["bits_per_sample"] == 16
        assert meta["n_frames"] == 300 + (mid % 40) * 10
        assert len(meta["pcm"]) == meta["n_frames"] * meta["n_channels"] * 2

        img = real_decode(bmp_payload(mid))
        w, h = 4 + mid % 13, 3 + mid % 7
        assert img["format"] == "bmp"
        assert (img["width"], img["height"]) == (w, h)
        assert img["bits_per_pixel"] == 24
        # padding-stripped pixel bytes match the generator's flat index
        assert img["pixels"] == bytes(
            ((mid * 7 + j * 5) % 256) for j in range(w * h * 3)
        )

    check()

    import pytest as _pytest

    with _pytest.raises(ValueError):
        real_decode(b"\x00")
    with _pytest.raises(ValueError):
        real_decode(b"\x89PNG\r\n\x1a\n" + b"\x00" * 32)
    # truncation must raise, never silently return partial bytes
    with _pytest.raises(ValueError):
        real_decode(bmp_payload(7)[:-5])
    with _pytest.raises(ValueError):
        real_decode(wav_payload(7)[:-5])
    with _pytest.raises(ValueError):
        real_decode(b"BM" + b"\x00" * 10)  # header shorter than 54 bytes
    # a fmt chunk carrying block_align=0 must raise ValueError, not
    # ZeroDivisionError, when deriving n_frames
    import struct as _struct

    bad = bytearray(wav_payload(7))
    fmt_at = bad.index(b"fmt ") + 8  # chunk body start
    _struct.pack_into("<H", bad, fmt_at + 12, 0)  # block_align field
    with _pytest.raises(ValueError, match="block_align"):
        real_decode(bytes(bad))


def test_feature_extract_unit_range(spark):
    feats = REGISTRY["mm_feature_extract"].builder(spark, SF_DIR)
    dim_cols = [f"f{i}" for i in range(8)]
    assert all(c in feats.columns for c in dim_cols)
    cond = None
    for c in dim_cols:
        bad_c = (F.col(c) < 0.0) | (F.col(c) > 1.0)
        cond = bad_c if cond is None else (cond | bad_c)
    assert feats.filter(cond).count() == 0


def test_winnowing_guarantee_shared_run_shares_fingerprint(spark):
    """Winnowing guarantee (SIGMOD'03 Thm 1 analog for k=3, w=4): any
    two documents sharing a contiguous run of >= k + w - 1 = 6 words
    must share at least one fingerprint — a PLANTED shared run is
    always detected. Also: a pair with entirely disjoint vocabulary
    shares nothing."""
    import random

    from aws_seismic_data_pipeline_spark.llm.text import winnow_fingerprints

    rng = random.Random(7)
    vocab_a = [f"a{i}" for i in range(200)]
    vocab_b = [f"b{i}" for i in range(200)]
    rows = []
    planted_pairs = []
    for pair in range(5):
        run = [f"run{pair}_{j}" for j in range(6)]  # the shared 6-run
        doc1 = [rng.choice(vocab_a) for _ in range(30)] + run + [
            rng.choice(vocab_a) for _ in range(30)
        ]
        doc2 = [rng.choice(vocab_b) for _ in range(30)] + run + [
            rng.choice(vocab_b) for _ in range(30)
        ]
        rows.append((2 * pair, " ".join(doc1)))
        rows.append((2 * pair + 1, " ".join(doc2)))
        planted_pairs.append((2 * pair, 2 * pair + 1))
    # disjoint-vocab pair: must share NO fingerprint
    rows.append((100, " ".join(rng.choice(vocab_a) for _ in range(40))))
    rows.append((101, " ".join(rng.choice(vocab_b) for _ in range(40))))

    docs = spark.createDataFrame(rows, "doc_id long, text string")
    fps = winnow_fingerprints(docs).collect()
    by_doc = {}
    for r in fps:
        by_doc.setdefault(r.doc_id, set()).add(r.fingerprint)
    for d1, d2 in planted_pairs:
        assert by_doc[d1] & by_doc[d2], f"planted run not detected ({d1},{d2})"
    assert not (by_doc[100] & by_doc[101]), "disjoint docs share a fingerprint"


def test_minhash_banded_recovers_high_jaccard_pairs(spark):
    """The LSH recall contract: with 4 bands of 3 rows, a pair at
    Jaccard j is a candidate with probability 1-(1-j³)⁴ — ≥94% at
    j=0.8, ~99.5% at j=0.9. The fixed hash constants make the outcome
    deterministic for the fixture, so we pin it exactly: EVERY pair at
    capped-Jaccard ≥ 0.8 must surface as a banded candidate, and the
    estimate must broadly track the true similarity."""
    from aws_seismic_data_pipeline_spark.llm.dedup import (
        _capped_shingle_jaccard,
    )

    jac = {
        (r.doc_a, r.doc_b): r.jaccard_capped
        for r in _capped_shingle_jaccard(spark, SF_DIR).collect()
    }
    banded = {
        (r.doc_a, r.doc_b): r.est_jaccard
        for r in REGISTRY["dedup_minhash_banded"].builder(spark, SF_DIR).collect()
    }
    high = {p for p, j in jac.items() if j >= 0.8}
    assert high, "fixture should contain near-dup pairs"
    missed = high - set(banded)
    assert not missed, f"high-jaccard pairs missed by LSH banding: {missed}"
    # the signature-agreement estimate is a (coarse, 12-hash) unbiased
    # estimator of jaccard: on true near-dups it must read high
    for p in high:
        assert banded[p] >= 0.5, (p, banded[p], jac[p])


def test_incremental_snapshot_status_branches(spark):
    """The fixture has zero byte-identical texts, so the driver check
    can never exercise classify_snapshot's exact_dup arm — pin all
    three branches with synthetic frames."""
    from aws_seismic_data_pipeline_spark.llm.dedup import classify_snapshot

    schema = "doc_id long, text string"
    base = "alpha beta gamma delta epsilon zeta eta theta iota kappa " \
           "lam mu nu xi omicron pi rho sigma tau upsilon"
    corpus = spark.createDataFrame(
        [(1, base), (2, "unrelated words entirely disjoint vocabulary here")],
        schema,
    )
    snap = spark.createDataFrame(
        [
            (10, base),  # byte-identical -> exact_dup (wins over band hits)
            (11, base.replace("kappa", "KAPPA")),  # near-dup, one word off
            (12, "zero overlap with anything stored in that corpus table"),
        ],
        schema,
    )
    out = {r.doc_id: r for r in classify_snapshot(corpus, snap).collect()}
    assert out[10].status == "exact_dup"
    assert out[11].status == "near_dup_candidate" and out[11].n_band_hits == 1
    assert out[12].status == "new" and out[12].n_band_hits == 0


def _tree_plan(df):
    return df._jdf.queryExecution().executedPlan().toString()


def _broadcast_subtrees(plan: str) -> list[str]:
    """Subtree text under each BroadcastExchange node of a Spark plan
    tree string (children are the following lines with deeper
    tree-marker indentation)."""
    import re

    lines = plan.splitlines()
    depths = [len(re.match(r"^([\s:+|-]*)", ln).group(1)) for ln in lines]
    subs = []
    for i, ln in enumerate(lines):
        if "BroadcastExchange" in ln:
            j = i + 1
            sub = []
            while j < len(lines) and depths[j] > depths[i]:
                sub.append(lines[j])
                j += 1
            subs.append("\n".join(sub))
    return subs


def test_snapshot_dedup_never_broadcasts_corpus(spark):
    """r5-verdict scale-killer pin: the incremental gate must only ever
    broadcast SNAPSHOT-bounded frames. The corpus branch (fixture
    marker: bucket < 80) may appear under a BroadcastExchange only
    downstream of a LeftSemi probe by the snapshot hash set (whose
    output is snapshot-sized); the snapshot branch (bucket >= 80) must
    be a broadcast build side somewhere (the band/hash probes)."""
    import shutil

    from aws_seismic_data_pipeline_spark.llm.curation import _md5_bucket
    from aws_seismic_data_pipeline_spark.llm.dedup import (
        _INC_CORPUS_PCT,
        classify_snapshot_persisted,
        corpus_index_path,
        write_corpus_index,
    )

    df = REGISTRY["dedup_incremental_snapshot"].builder(spark, SF_DIR)
    subs = _broadcast_subtrees(_tree_plan(df))
    assert subs
    assert any(">= 80" in s for s in subs)
    for sub in subs:
        if "< 80" in sub:
            assert "LeftSemi" in sub, sub

    # persisted path: the corpus is the stored artifact (path marker);
    # its md5 table may feed a broadcast only through the semi probe
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet").withColumn(
        "bucket", _md5_bucket("doc_id", 100)
    )
    path = corpus_index_path(spark, SF_DIR) + "_plantest"
    try:
        write_corpus_index(docs.filter(F.col("bucket") < _INC_CORPUS_PCT), path)
        out = classify_snapshot_persisted(
            spark, docs.filter(F.col("bucket") >= _INC_CORPUS_PCT), path
        )
        subs = _broadcast_subtrees(_tree_plan(out))
        assert subs
        for sub in subs:
            if "dedup_corpus" in sub:
                assert "LeftSemi" in sub, sub
    finally:
        shutil.rmtree(path, ignore_errors=True)


def test_incremental_snapshot_persisted_equals_in_memory(spark):
    """The persisted-artifact path must classify identically to the
    in-memory gate (mirror of tests/test_ivf.py's persisted check)."""
    mem = {
        (r.doc_id, r.status, r.n_band_hits)
        for r in REGISTRY["dedup_incremental_snapshot"].builder(spark, SF_DIR).collect()
    }
    per = {
        (r.doc_id, r.status, r.n_band_hits)
        for r in REGISTRY["dedup_incremental_snapshot_persisted"]
        .builder(spark, SF_DIR)
        .collect()
    }
    assert mem == per and mem


def test_range_search_complete_and_consistent_with_topk(spark):
    """Range search must (a) only emit pairs clearing the threshold,
    (b) contain every top-k pair whose cosine clears it (completeness
    against the independently-computed top-k path)."""
    from aws_seismic_data_pipeline_spark.llm.similarity import RANGE_TAU

    rng = {
        (r.query_id, r.neighbor_id): r.cosine
        for r in REGISTRY["sim_range_search"].builder(spark, SF_DIR).collect()
    }
    assert rng
    assert all(c >= RANGE_TAU - 1e-4 for c in rng.values())
    topk = REGISTRY["sim_topk_bruteforce"].builder(spark, SF_DIR).collect()
    for r in topk:
        if r.query_id < 20 and r.cosine >= RANGE_TAU + 1e-4:
            assert (r.query_id, r.neighbor_id) in rng, r


def test_lsh_verified_matches_exact_jaccard_witness(spark):
    """Every verified candidate pair's exact Jaccard must equal the
    uncapped witness's value for that pair (same distinct-shingle-set
    semantics), and the decision flag must follow the threshold."""
    from aws_seismic_data_pipeline_spark.llm.dedup import _LSH_VERIFY_TAU

    verified = REGISTRY["dedup_lsh_verified"].builder(spark, SF_DIR).collect()
    assert verified
    from aws_seismic_data_pipeline_spark.llm.dedup import ngram_jaccard_exact

    exact = {
        (r.doc_a, r.doc_b): r.jaccard
        for r in ngram_jaccard_exact(spark, SF_DIR).collect()
    }
    for r in verified:
        assert r.is_dup == (r.jaccard >= _LSH_VERIFY_TAU), r
        key = (r.doc_a, r.doc_b)
        if key in exact:
            assert abs(r.jaccard - exact[key]) < 1e-12, (r, exact[key])
        else:
            # witness only keeps jaccard >= 0.05: sub-floor candidates
            # are LSH false positives the verify stage exists to score
            assert r.jaccard < 0.05, r


def test_min_label_components_raises_on_exhausted_rounds(spark, monkeypatch):
    """Non-convergence must raise, never silently return partial
    labels: star contraction cannot form + verify a star over a 6-node
    path in 1 round — and must say so. The same chain converges (to one
    component) with the default bound. The local-components gate is
    forced CLOSED so the distributed loop (where the contract lives)
    is what runs."""
    import pytest as _pytest

    from aws_seismic_data_pipeline_spark.llm import dedup as _dedup
    from aws_seismic_data_pipeline_spark.llm.dedup import _min_label_components

    monkeypatch.setattr(_dedup, "_LOCAL_CC_MAX", -1)
    chain = spark.createDataFrame(
        [(i, i + 1) for i in range(5)], "doc_a long, doc_b long"
    )
    with _pytest.raises(RuntimeError, match="did not converge"):
        _min_label_components(chain, max_rounds=1)

    labels = _min_label_components(chain).collect()
    assert {r.component_id for r in labels} == {0}
    assert len(labels) == 6


def test_local_components_equal_star_contraction(spark, monkeypatch):
    """The r16 driver-side union-find fast path must label EXACTLY like
    the distributed star contraction — same nodes, same component
    minima, same schema — on a multi-shape graph (path, triangle,
    self-loop singleton, one edge, plus duplicate and reversed edges,
    which the star path canonicalizes away)."""
    from aws_seismic_data_pipeline_spark.llm import dedup as _dedup
    from aws_seismic_data_pipeline_spark.llm.dedup import _min_label_components

    edges = (
        [(i, i + 1) for i in range(40)]
        + [(300, 301), (301, 302), (302, 300)]
        + [(400, 400)]
        + [(500, 501), (501, 500), (500, 501)]  # reversed + duplicate
    )
    pairs = spark.createDataFrame(edges, "doc_a long, doc_b long")

    local_df = _min_label_components(pairs)  # gate open (tiny edge set)
    local = sorted((r.doc_id, r.component_id) for r in local_df.collect())

    monkeypatch.setattr(_dedup, "_LOCAL_CC_MAX", -1)  # force star path
    star_df = _min_label_components(pairs)
    star = sorted((r.doc_id, r.component_id) for r in star_df.collect())

    assert local == star
    assert [f.dataType for f in local_df.schema.fields] == [
        f.dataType for f in star_df.schema.fields
    ]
    assert local_df.columns == star_df.columns


def test_non_integer_keys_take_star_contraction(spark, monkeypatch):
    """The driver-side union-find compares ids as Python ints, so only
    integer-keyed edge lists may take it: string keys (and fractional
    doubles, which int() would merge) fall through to the distributed
    star contraction, which labels each node with its component's
    minimum key in the column's own ordering."""
    from aws_seismic_data_pipeline_spark.llm import dedup as _dedup
    from aws_seismic_data_pipeline_spark.llm.dedup import _min_label_components

    calls = []
    star = _dedup._star_components

    def spy(pairs, max_rounds=200):
        calls.append(pairs.schema["doc_a"].dataType.simpleString())
        return star(pairs, max_rounds)

    monkeypatch.setattr(_dedup, "_star_components", spy)
    edges = [("b", "c"), ("c", "d"), ("x", "y"), ("y", "x"), ("q", "q")]
    pairs = spark.createDataFrame(edges, "doc_a string, doc_b string")
    labels = sorted(
        (r.doc_id, r.component_id)
        for r in _min_label_components(pairs).collect()
    )
    assert calls == ["string"]
    assert labels == [
        ("b", "b"), ("c", "b"), ("d", "b"), ("q", "q"), ("x", "x"), ("y", "x")
    ]

    frac = spark.createDataFrame([(1.5, 1.25)], "doc_a double, doc_b double")
    got = sorted(
        (r.doc_id, r.component_id)
        for r in _min_label_components(frac).collect()
    )
    assert calls == ["string", "double"]
    assert got == [(1.25, 1.25), (1.5, 1.25)]


def test_star_components_path_graph_logarithmic_rounds(spark):
    """The round-count contract that motivated replacing min-label
    propagation with large-star/small-star contraction: a 256-node
    path has diameter 255, so min-label needed ~255 rounds — star
    contraction must collapse it in O(log n) (≈8 doubling rounds plus
    fixpoint-verification slack). Also pins correctness on a graph
    with several components of different shapes: the path, a
    triangle, an isolated self-loop node, and a 2-node edge — every
    node labeled by its component minimum."""
    from aws_seismic_data_pipeline_spark.llm.dedup import _star_components

    edges = (
        [(i, i + 1) for i in range(255)]  # 256-node path: 0..255
        + [(300, 301), (301, 302), (302, 300)]  # triangle
        + [(400, 400)]  # self-loop only: singleton component
        + [(500, 501)]  # one edge
    )
    pairs = spark.createDataFrame(edges, "doc_a long, doc_b long")
    labels_df, rounds = _star_components(pairs)
    assert rounds <= 16, f"expected O(log n) rounds, used {rounds}"
    labels = {r.doc_id: r.component_id for r in labels_df.collect()}
    assert len(labels) == 256 + 3 + 1 + 2
    assert all(labels[i] == 0 for i in range(256))
    assert all(labels[i] == 300 for i in (300, 301, 302))
    assert labels[400] == 400
    assert labels[500] == 500 and labels[501] == 500


def test_classifier_score_matches_hand_logit(spark):
    """text_classifier_score is a frozen linear model: on a crafted doc
    the logit must equal bias + sum(weights of matched tokens, counting
    repeats), the sigmoid must match, and the keep label must flip
    exactly at logit 0 — including the exact-zero case the rounded
    threshold exists for (weights are 0.1-multiples, so z == 0.0 is
    reachable and engine summation order must not decide the label)."""
    import math

    import aws_seismic_data_pipeline_spark.llm.text as T

    w = dict(T.CLASSIFIER_WEIGHTS)
    docs = spark.createDataFrame(
        [
            (1, "spark query join"),            # 0.9+0.7+0.5-0.5 = 1.6
            (2, "the a of to"),                 # -1.3-0.5 = -1.8
            (3, "spark spark unknown"),         # repeats count: 1.8-0.5=1.3
            (4, "spark a"),                     # 0.9-0.4-0.5 = 0.0 exactly
        ],
        "doc_id long, text string",
    )
    docs.createOrReplaceTempView("documents_clf_test")
    # reuse the registered builder's expression by scoring the temp view
    # through the same module-level code path
    from aws_seismic_data_pipeline_spark.registry import REGISTRY

    builder = REGISTRY["text_classifier_score"].builder
    import aws_seismic_data_pipeline_spark.catalog as cat

    orig = cat.load_table
    try:
        cat.load_table = lambda s, d, t: docs  # builder only loads documents
        T.load_table = cat.load_table
        out = {r.doc_id: r for r in builder(spark, "unused").collect()}
    finally:
        cat.load_table = orig
        T.load_table = orig

    def hand(text):
        z = T.CLASSIFIER_BIAS + sum(w.get(t, 0.0) for t in text.split(" "))
        return z

    for doc_id, text in [(1, "spark query join"), (2, "the a of to"),
                         (3, "spark spark unknown"), (4, "spark a")]:
        z = hand(text)
        r = out[doc_id]
        assert abs(r.logit - round(z, 6)) < 1e-12, (doc_id, r.logit, z)
        assert abs(r.prob_keep - round(1 / (1 + math.exp(-z)), 6)) < 1e-6
        assert r.keep == (round(z, 6) >= 0), (doc_id, r)
    # the exact-zero doc must be kept (>= threshold), not order-dependent
    assert out[4].keep is True and out[4].logit == 0.0


def test_png_codec_round_trip_property():
    """The stdlib PNG codec must round-trip its own generator exactly
    for arbitrary media ids — the generator cycles all five scanline
    filters per row, so a surviving round trip proves every inverse
    filter; corrupt CRCs, truncation, and unsupported headers must
    raise, and a hand-built RGBA image must decode through the
    color-type-6 path."""
    import struct
    import zlib

    import numpy as np
    import pytest as _pytest
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from aws_seismic_data_pipeline_spark.multimodal.media import (
        png_payload,
        real_decode,
    )

    @settings(max_examples=60, deadline=None)
    @given(st.integers(0, 10**9))
    def check(mid):
        w, h = 4 + mid % 13, 3 + mid % 7
        meta = real_decode(png_payload(mid))
        assert (meta["format"], meta["width"], meta["height"]) == ("png", w, h)
        raw = (
            (mid * 11 + np.arange(w * h * 3, dtype=np.int64) * 3) % 256
        ).astype(np.uint8)
        assert np.array_equal(np.frombuffer(meta["pixels"], np.uint8), raw)

    check()

    # CRC corruption anywhere in IDAT must be detected
    p = bytearray(png_payload(9))
    p[45] ^= 0x01
    with _pytest.raises(ValueError, match="CRC"):
        real_decode(bytes(p))
    # truncated chunk must be detected
    with _pytest.raises(ValueError, match="truncated|missing"):
        real_decode(png_payload(9)[:-8])

    # hand-built 1x2 RGBA (color type 6): decoder must honor bpp=4
    def chunk(ctype, data):
        body = ctype + data
        return (
            struct.pack(">I", len(data))
            + body
            + struct.pack(">I", zlib.crc32(body) & 0xFFFFFFFF)
        )

    pixels = bytes([10, 20, 30, 40, 50, 60, 70, 80])
    idat = zlib.compress(b"\x00" + pixels[:4] + b"\x02" + bytes(
        (pixels[4 + i] - pixels[i]) % 256 for i in range(4)
    ))
    rgba = (
        b"\x89PNG\r\n\x1a\n"
        + chunk(b"IHDR", struct.pack(">IIBBBBB", 1, 2, 8, 6, 0, 0, 0))
        + chunk(b"IDAT", idat)
        + chunk(b"IEND", b"")
    )
    meta = real_decode(rgba)
    assert meta["bits_per_pixel"] == 32
    assert meta["pixels"] == pixels

    # 16-bit depth is out of scope and must say so, not mis-decode
    bad = (
        b"\x89PNG\r\n\x1a\n"
        + chunk(b"IHDR", struct.pack(">IIBBBBB", 1, 1, 16, 2, 0, 0, 0))
        + chunk(b"IDAT", zlib.compress(b"\x00\x00\x00\x00\x00\x00\x00"))
        + chunk(b"IEND", b"")
    )
    with _pytest.raises(ValueError, match="8-bit"):
        real_decode(bad)


def test_bpe_pair_counts_match_naive_python(spark, monkeypatch):
    """The dictionary-weighted pair count must equal the naive count
    over raw running text — the vocabulary trick changes the cost
    model, never the answer."""
    from collections import Counter

    import aws_seismic_data_pipeline_spark.llm.text as T
    from aws_seismic_data_pipeline_spark.registry import REGISTRY

    docs = spark.createDataFrame(
        [
            (1, "low low lower lowest a"),
            (2, "newer newest new er"),
        ],
        "doc_id long, text string",
    )
    monkeypatch.setattr(T, "load_table", lambda s, d, t: docs)
    monkeypatch.setattr(T, "spread", lambda df, s: df)
    out = REGISTRY["text_bpe_pair_counts"].builder(spark, "unused").collect()

    naive = Counter()
    for text in ("low low lower lowest a", "newer newest new er"):
        for w in text.split(" "):
            if len(w) >= 2:
                for i in range(len(w) - 1):
                    naive[w[i : i + 2]] += 1
    got = {r.pair: r.pair_count for r in out}
    for pair, n in naive.items():
        assert got.get(pair) == n, (pair, n, got.get(pair))
    # ranks must be dense, count-descending with pair tiebreak
    ranked = sorted(out, key=lambda r: r.merge_rank)
    assert [r.merge_rank for r in ranked] == list(range(1, len(ranked) + 1))
    keys = [(-r.pair_count, r.pair) for r in ranked]
    assert keys == sorted(keys)
    # the most frequent pair is the next merge rule: 'lo' or 'ow' (3 each)
    assert ranked[0].pair_count == max(naive.values())


def test_embedding_lsh_recall_of_true_pairs(spark):
    """Sign-LSH candidate generation must recover a usable fraction of
    the TRUE near-dup pairs (label-blocked exact cosine >= 0.18) in a
    shared band bucket — six 3-bit bands give 1-(1-(1-theta/pi)^3)^6
    ~ 0.69 at tau (the single 8-bit signature this replaced measured
    recall 0.026), so pin recall >= 0.5 —
    and every emitted pair must itself clear the exact threshold
    (zero false accepts by construction of the verify stage)."""
    import os

    from aws_seismic_data_pipeline_spark.registry import REGISTRY

    sf = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")
    truth = {
        (r.vec_a, r.vec_b)
        for r in REGISTRY["dedup_embedding_cosine"].builder(spark, sf).collect()
    }
    got = REGISTRY["dedup_embedding_lsh"].builder(spark, sf).collect()
    got_pairs = {(r.vec_a, r.vec_b) for r in got}
    assert truth, "fixture must contain true near-dup pairs"
    for r in got:
        assert r.cosine >= 0.18, r
    recall = len(truth & got_pairs) / len(truth)
    assert recall >= 0.5, (recall, len(truth), len(got_pairs))
    # the reverse direction: LSH surfaces verified pairs the label
    # blocking structurally CANNOT (cross-label near-dups) — measured
    # ~6x the label-blocked pair count at every fixture SF
    assert len(got_pairs - truth) > len(truth)


def test_slsh_geometry_scales_with_corpus():
    """The sign-LSH bucket space must DOUBLE whenever the corpus does
    (r14 verdict item 1: a fixed 8-bucket space makes the in-bucket
    join quadratic): rows = smallest b>=3 with 250*2^b >= n, bands =
    rows+3, and the fixture scales keep the original 6x3 geometry."""
    from aws_seismic_data_pipeline_spark.llm.dedup import _slsh_geometry

    assert _slsh_geometry(500) == (6, 3)      # sf0.001 / sf0.01
    assert _slsh_geometry(2000) == (6, 3)     # sf0.1 — bit-identical
    assert _slsh_geometry(2001) == (7, 4)
    assert _slsh_geometry(20_000) == (10, 7)  # sf1 probe scale
    assert _slsh_geometry(200_000) == (13, 10)
    # per-band bucket space tracks n: n / (250 * 2^rows) stays in (0.5, 1]
    for n in (3000, 50_000, 1_000_000, 10_000_000):
        bands, rows = _slsh_geometry(n)
        assert 250 * (1 << rows) >= n > 250 * (1 << (rows - 1))
        assert bands == rows + 3
    # saturation cap: 20 bits
    assert _slsh_geometry(10**12) == (23, 20)


def test_slsh_oracle_geometry_matches_python():
    """The DuckDB-side COUNT(*)-driven geometry recurrence must equal
    ``_slsh_geometry`` exactly — any drift silently desyncs the oracle
    from the engine at large corpus sizes."""
    import duckdb

    from aws_seismic_data_pipeline_spark.llm.dedup import (
        _SLSH_DUCK_GEO,
        _slsh_geometry,
    )

    con = duckdb.connect()
    for n in (1, 499, 500, 2000, 2001, 4000, 20_000, 123_457, 10**7):
        con.execute("CREATE OR REPLACE VIEW embeddings AS "
                    f"SELECT * FROM range({n})")
        got = con.execute(
            f"WITH {_SLSH_DUCK_GEO} SELECT nrows FROM geo"
        ).fetchone()[0]
        assert got == _slsh_geometry(n)[1], (n, got)


def test_slsh_signatures_bit_identical_at_scaled_geometry(spark):
    """Cross-engine bit-identity of the band signatures at a NON-base
    geometry (rows=5, bands=8) — the driver only exercises rows=3, so
    this pins the dynamic template's LCG indexing (h = j*rows + i)
    agrees between Spark and DuckDB when rows grows."""
    import duckdb

    from aws_seismic_data_pipeline_spark.llm.dedup import (
        _SLSH_DUCK,
        _slsh_spark_expr,
    )

    sf = SF_DIR
    spark_sig = {
        r.vec_id: r.bands
        for r in spark.read.parquet(f"{sf}/embeddings.parquet")
        .select("vec_id", F.expr(_slsh_spark_expr(8, 5)).alias("bands"))
        .collect()
    }
    con = duckdb.connect()
    con.execute("CREATE VIEW embeddings AS "
                f"SELECT * FROM '{sf}/embeddings.parquet'")
    duck_sig = {
        vid: bands
        for vid, bands in con.execute(
            "WITH geo AS (SELECT 5 AS nrows) "
            f"SELECT vec_id, {_SLSH_DUCK} AS bands FROM embeddings, geo"
        ).fetchall()
    }
    assert spark_sig.keys() == duck_sig.keys()
    for vid, bands in spark_sig.items():
        assert list(bands) == list(duck_sig[vid]), vid
    # 8 bands of 5 bits: every bucket fits the advertised space
    assert all(0 <= b < 32 for bs in spark_sig.values() for b in bs)
    assert len(next(iter(spark_sig.values()))) == 8


def test_bigram_perplexity_separates_transitions(spark, monkeypatch):
    """The bigram LM must rank a doc with REPEATED transitions below
    (lower surprisal) a doc whose unigrams are identical but whose
    transitions are unique — the case the unigram LM cannot separate —
    and match the hand-computed add-one conditional model."""
    import math

    import aws_seismic_data_pipeline_spark.llm.text as Tm
    from aws_seismic_data_pipeline_spark.registry import REGISTRY

    # doc1 repeats the transition (a b); doc2 uses the same unigram
    # bag {a,a,b,b,c} but never repeats a transition
    docs = spark.createDataFrame(
        [(1, "a b a b c"), (2, "a a b b c")],
        "doc_id long, text string",
    )
    monkeypatch.setattr(Tm, "load_table", lambda s, d, t: docs)
    monkeypatch.setattr(Tm, "spread", lambda df, s: df)
    out = {r.doc_id: r for r in
           REGISTRY["text_bigram_perplexity"].builder(spark, "x").collect()}

    # corpus bigrams: doc1 -> (a,b)(b,a)(a,b)(b,c), doc2 -> (a,a)(a,b)(b,b)(b,c)
    c12 = {("a","b"): 3, ("b","a"): 1, ("b","c"): 2, ("a","a"): 1, ("b","b"): 1}
    c1 = {"a": 4, "b": 4}
    V = 3.0

    def ce(text):
        ts = text.split(" ")
        ss = [-math.log((c12[(x, y)] + 1.0) / (c1[x] + V))
              for x, y in zip(ts, ts[1:])]
        return round(sum(ss) / len(ss), 6)

    for doc_id, text in [(1, "a b a b c"), (2, "a a b b c")]:
        assert abs(out[doc_id].bigram_cross_entropy - ce(text)) < 2e-6
        assert out[doc_id].n_bigrams == 4
    assert out[1].bigram_cross_entropy < out[2].bigram_cross_entropy


def test_embedding_canonical_covers_and_respects_edges(spark):
    """Canonicalization invariants: every vector is labeled exactly
    once, every LSH-verified pair lands in one component, each
    component's canonical is its min member, and dropping
    non-canonicals removes exactly n_vectors - n_components rows."""
    import os

    from aws_seismic_data_pipeline_spark.catalog import load_table
    from aws_seismic_data_pipeline_spark.registry import REGISTRY

    sf = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")
    n_vecs = load_table(spark, sf, "embeddings").count()
    labels = {r.vec_id: r for r in
              REGISTRY["dedup_embedding_canonical"].builder(spark, sf).collect()}
    assert len(labels) == n_vecs
    comps: dict = {}
    for r in labels.values():
        comps.setdefault(r.component_id, []).append(r.vec_id)
        assert r.is_canonical == (r.vec_id == r.component_id)
    for cid, members in comps.items():
        assert cid == min(members), (cid, min(members))
    pairs = REGISTRY["dedup_embedding_lsh"].builder(spark, sf).collect()
    assert pairs
    for p in pairs:
        assert labels[p.vec_a].component_id == labels[p.vec_b].component_id
    n_canonical = sum(r.is_canonical for r in labels.values())
    assert n_canonical == len(comps) < n_vecs


def test_gif_lzw_codec_round_trip_property():
    """The GIF LZW pair must round-trip arbitrary ids (growing code
    widths exercised by the fixture dimensions), survive the
    dictionary-reset path on large high-entropy images (> 4096 codes),
    handle the KwKwK self-reference and max-compression runs, and
    reject truncated payloads."""
    import numpy as np
    import pytest as _pytest
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from aws_seismic_data_pipeline_spark.multimodal.media import (
        _lzw_decode,
        _lzw_encode,
        gif_payload,
        real_decode,
    )

    @settings(max_examples=40, deadline=None)
    @given(st.integers(0, 10**9))
    def check(mid):
        w, h = 40 + mid % 13, 30 + mid % 7
        meta = real_decode(gif_payload(mid))
        raw = ((mid * 13 + np.arange(w * h, dtype=np.int64) * 7) % 256).astype(
            np.uint8
        )
        assert (meta["width"], meta["height"]) == (w, h)
        assert np.array_equal(np.frombuffer(meta["pixels"], np.uint8), raw)

    check()

    import random

    rng = random.Random(11)
    big = bytes(rng.randrange(256) for _ in range(12000))  # forces 4096 reset
    assert _lzw_decode(_lzw_encode(big)) == big
    assert _lzw_decode(_lzw_encode(b"\x07" * 6000)) == b"\x07" * 6000  # KwKwK runs
    assert _lzw_decode(_lzw_encode(b"")) == b""

    with _pytest.raises(ValueError, match="truncated"):
        real_decode(gif_payload(9)[:-40])


def test_gif_animation_walks_all_frames():
    """Multi-frame decode: every frame's indices must round-trip (not
    just the first — the single-frame decoder returns early by
    contract), frame counts follow the generator, and a stream whose
    trailer is missing raises."""
    import numpy as np
    import pytest as _pytest
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from aws_seismic_data_pipeline_spark.multimodal.media import (
        gif_animation_payload,
        real_decode,
        real_decode_frames,
    )

    @settings(max_examples=30, deadline=None)
    @given(st.integers(0, 10**9))
    def check(mid):
        w, h, nf = 24 + mid % 9, 18 + mid % 5, 2 + mid % 4
        m = real_decode_frames(gif_animation_payload(mid))
        assert (m["width"], m["height"], m["n_frames"]) == (w, h, nf)
        for f, fr in enumerate(m["frames"]):
            raw = (
                (mid * 13 + f * 31 + np.arange(w * h, dtype=np.int64) * 7)
                % 256
            ).astype(np.uint8)
            assert np.array_equal(np.frombuffer(fr, np.uint8), raw)
        # the single-frame decoder sees the same container's FIRST frame
        first = real_decode(gif_animation_payload(mid))
        assert first["pixels"] == m["frames"][0]

    check()

    with _pytest.raises(ValueError, match="trailer|truncated"):
        real_decode_frames(gif_animation_payload(3)[:-1])


def test_dedup_span_exact_merges_maximal_spans(spark, tmp_path):
    """The gaps-and-islands merge must produce MAXIMAL spans: two docs
    share (a) a 10-token verbatim run — overlapping 8-gram hits that
    must merge into ONE span of exactly 10 tokens — and (b) a second
    8-token run separated by a unique gap — its own span, not merged
    across the gap. A third doc shares nothing and must not appear."""
    from aws_seismic_data_pipeline_spark.llm.dedup import dedup_span_exact

    shared10 = "alpha bravo charlie delta echo foxtrot golf hotel india juliet"
    shared8 = "kilo lima mike november oscar papa quebec romeo"
    docs = [
        # doc 0: [shared10][2 unique][shared8][1 unique]
        (0, f"{shared10} u0a u0b {shared8} u0c"),
        # doc 1: [3 unique][shared10][4 unique][shared8]
        (1, f"v1a v1b v1c {shared10} v1d v1e v1f v1g {shared8}"),
        # doc 2: all unique
        (2, "w0 w1 w2 w3 w4 w5 w6 w7 w8 w9 w10 w11"),
    ]
    sf_dir = str(tmp_path)
    spark.createDataFrame(
        [(i, t, "en", "test", len(t)) for i, t in docs],
        "doc_id long, text string, lang string, source string, n_chars long",
    ).write.parquet(f"{sf_dir}/documents.parquet")

    rows = dedup_span_exact(spark, sf_dir).collect()
    got = {
        (r.doc_id, r.span_start, r.span_end, r.span_tokens) for r in rows
    }
    assert got == {
        # doc 0: tokens 0-9 (shared10), then 12-19 (shared8)
        (0, 0, 9, 10),
        (0, 12, 19, 8),
        # doc 1: tokens 3-12 (shared10), then 17-24 (shared8)
        (1, 3, 12, 10),
        (1, 17, 24, 8),
    }, got


def test_dedup_span_strip_rewrites_exactly(spark, tmp_path):
    """Splice-out semantics: every occurrence of a duplicated span is
    removed from every doc, survivors re-join in order, untouched docs
    pass through verbatim, and token accounting agrees with the span
    report (n_before - n_after == sum of the doc's span_tokens)."""
    from aws_seismic_data_pipeline_spark.llm.dedup import (
        dedup_span_exact,
        dedup_span_strip,
    )

    shared10 = "alpha bravo charlie delta echo foxtrot golf hotel india juliet"
    shared8 = "kilo lima mike november oscar papa quebec romeo"
    docs = [
        (0, f"{shared10} u0a u0b {shared8} u0c"),
        (1, f"v1a v1b v1c {shared10} v1d v1e v1f v1g {shared8}"),
        (2, "w0 w1 w2 w3 w4 w5 w6 w7 w8 w9 w10 w11"),
        (3, shared10),  # fully duplicated -> empty survivor
    ]
    sf_dir = str(tmp_path)
    spark.createDataFrame(
        [(i, t, "en", "test", len(t)) for i, t in docs],
        "doc_id long, text string, lang string, source string, n_chars long",
    ).write.parquet(f"{sf_dir}/documents.parquet")

    got = {r.doc_id: r for r in dedup_span_strip(spark, sf_dir).collect()}
    assert got[0].cleaned_text == "u0a u0b u0c"
    assert got[1].cleaned_text == "v1a v1b v1c v1d v1e v1f v1g"
    assert got[2].cleaned_text == docs[2][1]  # untouched, verbatim
    assert got[3].cleaned_text == "" and got[3].n_tokens_after == 0

    spans = dedup_span_exact(spark, sf_dir).collect()
    removed = {}
    for s in spans:
        removed[s.doc_id] = removed.get(s.doc_id, 0) + s.span_tokens
    for did, r in got.items():
        assert r.n_tokens_before - r.n_tokens_after == removed.get(did, 0)


def test_dedup_span_property_random_planted(spark, tmp_path):
    """Property check against a pure-Python reference: random corpora
    with planted shared runs (at doc starts, ends, interiors, and
    multiple occurrences INSIDE one doc of a run shared with another)
    must yield exactly the reference's maximal spans and exactly its
    splice-out texts. Guards the window/island logic where hand-picked
    cases can't: span-at-position-0, span-to-EOF, back-to-back spans
    that must merge, within-doc repeats of a cross-doc shingle."""
    import random

    from aws_seismic_data_pipeline_spark.llm.dedup import (
        _SPAN_K,
        dedup_span_exact,
        dedup_span_strip,
    )

    rng = random.Random(417)
    k = _SPAN_K
    shared_runs = [
        [f"s{r}w{j}" for j in range(rng.randint(k, k + 6))] for r in range(4)
    ]
    docs = []
    for i in range(10):
        toks = []
        # unique prefix for some docs, shared run at position 0 for others
        if i % 3 != 0:
            toks += [f"d{i}u{j}" for j in range(rng.randint(1, 6))]
        for r, run in enumerate(shared_runs):
            if (i + r) % 2 == 0:
                toks += run
                if i % 4 == 0:
                    toks += run  # within-doc repeat (back-to-back: merges)
                toks += [f"d{i}g{r}{j}" for j in range(rng.randint(2, 5))]
        if i % 5 != 0:
            toks += shared_runs[i % 4]  # span running to EOF
        docs.append((i, " ".join(toks)))

    def ref_spans(corpus):
        from collections import defaultdict

        owners = defaultdict(set)
        sh = {}
        for did, text in corpus:
            w = text.split(" ")
            sh[did] = [tuple(w[p:p + k]) for p in range(len(w) - k + 1)]
            for g in sh[did]:
                owners[g].add(did)
        out = {}
        for did, grams in sh.items():
            covered = set()
            for p, g in enumerate(grams):
                if len(owners[g]) >= 2:
                    covered.update(range(p, p + k))
            spans, start, prev = [], None, None
            for p in sorted(covered):
                if start is None:
                    start = prev = p
                elif p == prev + 1:
                    prev = p
                else:
                    spans.append((start, prev))
                    start = prev = p
            if start is not None:
                spans.append((start, prev))
            out[did] = spans
        return out

    sf_dir = str(tmp_path)
    spark.createDataFrame(
        [(i, t, "en", "test", len(t)) for i, t in docs],
        "doc_id long, text string, lang string, source string, n_chars long",
    ).write.parquet(f"{sf_dir}/documents.parquet")

    want = ref_spans(docs)
    got = {}
    for r in dedup_span_exact(spark, sf_dir).collect():
        got.setdefault(r.doc_id, []).append((r.span_start, r.span_end))
        assert r.span_tokens == r.span_end - r.span_start + 1
    for did, spans in want.items():
        assert sorted(got.get(did, [])) == spans, (did, got.get(did), spans)

    stripped = {
        r.doc_id: r for r in dedup_span_strip(spark, sf_dir).collect()
    }
    for did, text in docs:
        w = text.split(" ")
        covered = {p for a, b in want[did] for p in range(a, b + 1)}
        expect = " ".join(t for p, t in enumerate(w) if p not in covered)
        assert stripped[did].cleaned_text == expect, did
        assert stripped[did].n_tokens_before == len(w)
        assert stripped[did].n_tokens_after == len(w) - len(covered)


def test_minhash_lsh_property_surface_verifies_library(spark):
    """The dedup_minhash_lsh verified-property surface (round 11): the
    pair axis is the portable banded candidate set; per pair the
    library must (a) also be a candidate — library 8x1 over tokens is
    laxer than banded 4x3 over shingles — and (b) report a distance
    equal to the true distinct-token Jaccard (approxSimilarityJoin's
    exact-distance contract). Rerun gives identical rows (seed=42)."""
    rows1 = {
        (r.doc_a, r.doc_b, r.lib_candidate, r.lib_sim_exact)
        for r in REGISTRY["dedup_minhash_lsh"].builder(spark, SF_DIR).collect()
    }
    assert rows1, "banded candidate set must be non-empty at fixture SF"
    assert all(c and e for _, _, c, e in rows1)
    rows2 = {
        (r.doc_a, r.doc_b, r.lib_candidate, r.lib_sim_exact)
        for r in REGISTRY["dedup_minhash_lsh"].builder(spark, SF_DIR).collect()
    }
    assert rows1 == rows2


def test_pairwise_library_verdict_matches_approx_similarity_join(spark):
    """The r12 pair-bounded library verdict (positional hash-equality
    candidacy on model.transform hashes + keyDistance recomputed from
    the persisted vocabulary artifact) must agree with the library's
    own approxSimilarityJoin on the banded pair axis: same surviving
    pairs, same similarities (1e-9). Pinned at fixture scale where the
    full join is affordable — at 10x it materialized 8.09M intermediate
    rows for a 2,583-pair axis (the sf1 probe's one super-linear
    finding), which is why the query path is pairwise."""
    import os

    from pyspark.ml.feature import MinHashLSH

    from aws_seismic_data_pipeline_spark.llm.dedup import (
        _minhash_library_pairs,
        dedup_minhash_banded,
        ensure_minhash_index,
    )

    banded = dedup_minhash_banded(spark, SF_DIR).select("doc_a", "doc_b")
    got = {
        (r.doc_a, r.doc_b): r.lib_sim
        for r in _minhash_library_pairs(
            spark, SF_DIR, candidate_pairs=banded
        ).collect()
    }
    assert got, "banded candidate set must be non-empty at fixture SF"

    feats = spark.read.parquet(
        os.path.join(ensure_minhash_index(spark, SF_DIR), "features")
    )
    model = MinHashLSH(
        inputCol="features", outputCol="hashes", numHashTables=8, seed=42
    ).fit(feats)
    pair_docs = banded.select(F.col("doc_a").alias("doc_id")).unionByName(
        banded.select(F.col("doc_b").alias("doc_id"))
    ).distinct()
    feats_r = feats.join(F.broadcast(pair_docs), "doc_id")
    truth_all = {
        (r.a, r.b): r.sim
        for r in model.approxSimilarityJoin(
            feats_r, feats_r, 0.9, distCol="d"
        )
        .filter(F.col("datasetA.doc_id") < F.col("datasetB.doc_id"))
        .select(
            F.col("datasetA.doc_id").alias("a"),
            F.col("datasetB.doc_id").alias("b"),
            (1 - F.col("d")).alias("sim"),
        )
        .collect()
    }
    banded_pairs = {(r.doc_a, r.doc_b) for r in banded.collect()}
    truth = {p: s for p, s in truth_all.items() if p in banded_pairs}
    assert set(got) == set(truth)
    for p, s in truth.items():
        assert abs(got[p] - s) < 1e-9, (p, got[p], s)


def test_bpe_train_greedy_merge_semantics(spark):
    """The BPE trainer's merge fold is GREEDY LEFT-TO-RIGHT and
    non-overlapping (Sennrich et al.): for pair (a,a), 'aaaa' merges
    to [aa, aa] and 'aaa' to [aa, a]; merged symbols immediately
    participate in later comparisons only as whole symbols."""
    from pyspark.sql import functions as F

    df = spark.createDataFrame(
        [(list("aaaa"),), (list("aaa"),), (list("baab"),), (["x"],)],
        "syms array<string>",
    ).crossJoin(
        spark.createDataFrame([("a", "a")], "_l string, _r string")
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
    got = {
        tuple(r.before): r.after
        for r in df.select(
            F.col("syms").alias("before"), merge_fold.alias("after")
        ).collect()
    }
    assert got[tuple("aaaa")] == ["aa", "aa"]
    assert got[tuple("aaa")] == ["aa", "a"]
    assert got[tuple("baab")] == ["b", "aa", "b"]
    assert got[("x",)] == ["x"]


def test_bpe_train_rounds_pinned(spark):
    """text_bpe_train returns exactly BPE_TRAIN_ROUNDS merges, ranks
    1..N, counts non-increasing is NOT required (later rounds count a
    rewritten dictionary), but every (lhs, rhs) must be distinct and
    every count positive."""
    from aws_seismic_data_pipeline_spark.llm.text import (
        BPE_TRAIN_ROUNDS,
        text_bpe_train,
    )

    from .conftest import SF_DIR

    rows = text_bpe_train(spark, SF_DIR).collect()
    assert len(rows) == BPE_TRAIN_ROUNDS
    assert sorted(r.merge_rank for r in rows) == list(
        range(1, BPE_TRAIN_ROUNDS + 1)
    )
    assert len({(r.lhs, r.rhs) for r in rows}) == BPE_TRAIN_ROUNDS
    assert all(r.pair_count > 0 for r in rows)


def test_shingle_lambdas_slice_a_projected_token_column(spark):
    """The word-shingle lambdas slice a token column projected once;
    the optimizer must not inline ``split(text)`` back into the lambda
    (CollapseProject would, for a column referenced only once), which
    re-splits the whole text per index — O(words²) per document."""
    from aws_seismic_data_pipeline_spark.llm.curation import _doc_grams
    from aws_seismic_data_pipeline_spark.llm.dedup import (
        _mh_shingle_arrs,
        _mh_sig_cols,
        ngram_jaccard_exact,
    )

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    plans = [
        _mh_shingle_arrs(docs).select("doc_id", *_mh_sig_cols()),
        ngram_jaccard_exact(spark, SF_DIR),
        _doc_grams(docs),
    ]
    for df in plans:
        plan = df._jdf.queryExecution().executedPlan().toString()
        bodies = [
            line.split("lambdafunction", 1)[1]
            for line in plan.splitlines()
            if "lambdafunction" in line
        ]
        assert bodies, plan
        assert not any("split(text" in b for b in bodies), plan
