"""Product-quantization pins (llm/pq.py) — the strong properties that
replace a SQL oracle for the iterative-training path, mirroring
tests/test_ivf.py's contract:

- ADC == exhaustive rescoring of the SAME codes: the approximation is
  exactly the quantization, the search machinery adds zero error.
- The codes table really is the compressed artifact (M ints per vector,
  vs d floats of input).
- Training and encoding are deterministic across rebuilds.
- Mean ADC error is bounded, and recall against exact brute force is
  well above the random-guess floor.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import functions as F

from aws_seismic_data_pipeline_spark.catalog import load_table
from aws_seismic_data_pipeline_spark.llm.pq import (
    K_SUB,
    M_SUB,
    adc_topk,
    encode_corpus,
    pq_search_rerank,
    train_codebooks,
)
from aws_seismic_data_pipeline_spark.llm.vector import as_matrix, rank_topk

from .conftest import SF_DIR


def _fixture(spark):
    emb = load_table(spark, SF_DIR, "embeddings")
    d = len(emb.select("embedding").limit(1).collect()[0]["embedding"])
    return emb, d


def test_adc_equals_exhaustive_rescore(spark):
    """For every (query, neighbor) the distributed ADC score must equal
    the driver-side reconstruction dot q . decode(codes) — bit-level
    modulo the 6dp rank rounding. If partial top-k, partitioning, or
    the LUT gather ever diverged from the math, this catches it."""
    emb, d = _fixture(spark)
    C = train_codebooks(emb, d)
    codes_df = encode_corpus(emb, C)
    codes = {
        r.vec_id: np.asarray(r.codes) for r in codes_df.collect()
    }
    queries = [
        (r["vec_id"], np.asarray(r["embedding"], dtype=np.float64))
        for r in emb.filter(F.col("vec_id") < 5)
        .select("vec_id", "embedding")
        .collect()
    ]
    got = rank_topk(adc_topk(codes_df, queries, C, k=5), 5).collect()
    d_sub = d // M_SUB
    for r in got:
        q = dict(queries)[r.query_id]
        recon = np.concatenate(
            [C[m, codes[r.neighbor_id][m]] for m in range(M_SUB)]
        )
        exact = float(q @ recon)
        assert abs(r.dot - exact) < 1e-9, (r.query_id, r.neighbor_id)
    assert len(got) == 5 * len(queries)
    assert d_sub * M_SUB == d


def test_codes_are_compressed_and_deterministic(spark):
    emb, d = _fixture(spark)
    C1 = train_codebooks(emb, d)
    C2 = train_codebooks(emb, d)
    assert np.array_equal(C1, C2)
    assert C1.shape == (M_SUB, K_SUB, d // M_SUB)

    codes1 = {
        r.vec_id: tuple(r.codes) for r in encode_corpus(emb, C1).collect()
    }
    codes2 = {
        r.vec_id: tuple(r.codes) for r in encode_corpus(emb, C1).collect()
    }
    assert codes1 == codes2
    n = emb.count()
    assert len(codes1) == n
    # every vector stored as exactly M_SUB small ints — the 32x story
    assert all(
        len(c) == M_SUB and all(0 <= v < K_SUB for v in c)
        for c in codes1.values()
    )


def test_adc_error_bounded_and_recall_beats_floor(spark):
    """ADC approximates the true dot within the quantization error
    (empirically well under the score scale on unit vectors), and
    recall@5 against exact brute force is far above the ~5/n random
    floor even on the isotropic fixture."""
    emb, d = _fixture(spark)
    C = train_codebooks(emb, d)
    codes_df = encode_corpus(emb, C)
    rows = emb.select("vec_id", "embedding").collect()
    X = as_matrix([r.embedding for r in rows])
    ids = np.array([r.vec_id for r in rows])
    queries = [
        (int(ids[i]), X[i].astype(np.float64)) for i in range(10)
    ]

    got = rank_topk(adc_topk(codes_df, queries, C, k=5), 5).collect()
    by_q: dict = {}
    for r in got:
        by_q.setdefault(r.query_id, set()).add(r.neighbor_id)

    dots = X[:10] @ X.T
    hits = total = 0
    errs = []
    for qi in range(10):
        qid = int(ids[qi])
        row = dots[qi].copy()
        row[ids == qid] = -np.inf
        exact_top = set(ids[np.argsort(-row)[:5]])
        hits += len(exact_top & by_q[qid])
        total += 5
        # mean |ADC - exact| over this query's returned neighbors
        for r in got:
            if r.query_id == qid:
                exact_dot = float(
                    X[qi] @ X[np.nonzero(ids == r.neighbor_id)[0][0]]
                )
                errs.append(abs(r.dot - exact_dot))
    recall = hits / total
    # the fixture is ISOTROPIC (labels carry no geometric signal — see
    # llm/ivf.py's docstring): 32-bit codes cannot separate near-equal
    # dots there, so the honest fixture pin is a multiple of the 5/n
    # random floor (~0.025 at sf0.001); ordering quality on separable
    # data is pinned at >= 0.9 on planted clusters below
    assert recall >= 0.075, recall
    assert float(np.mean(errs)) < 0.2, np.mean(errs)


def test_pq_recall_on_planted_clusters(spark, tmp_path):
    """On genuinely clustered data (the same planting as
    tests/test_ivf.py), ADC over 8-byte codes must recover nearly all
    true neighbors once the exact re-rank restores within-cluster
    order (ADC alone identifies the right cluster but cannot resolve
    its interior — measured 0.43 here, the textbook reason the PQ
    literature pairs ADC with re-ranking)."""
    rng = np.random.default_rng(7)
    centers = rng.normal(size=(10, 32))
    centers /= np.linalg.norm(centers, axis=1, keepdims=True)
    vecs = []
    for c in range(10):
        pts = centers[c] + 0.15 * rng.normal(size=(40, 32))
        pts /= np.linalg.norm(pts, axis=1, keepdims=True)
        vecs.append(pts)
    X = np.vstack(vecs)
    df = spark.createDataFrame(
        [(i, X[i].tolist()) for i in range(len(X))],
        "vec_id long, embedding array<float>",
    )

    C = train_codebooks(df, 32)
    codes_df = encode_corpus(df, C)
    queries = [(i, X[i].astype(np.float64)) for i in range(30)]
    approx: dict = {}
    for r in pq_search_rerank(df, codes_df, queries, C, k=5).collect():
        approx.setdefault(r.query_id, set()).add(r.neighbor_id)

    D = X.astype(np.float64) @ X.astype(np.float64).T
    np.fill_diagonal(D, -np.inf)
    hits = total = 0
    for q in range(30):
        true = set(np.argsort(-np.round(D[q], 6))[:5].tolist())
        hits += len(approx[q] & true)
        total += 5
    recall = hits / total
    assert recall >= 0.9, f"recall@5 = {recall:.2f}"


def test_ivfpq_composition_on_planted_clusters(spark):
    """IVF cell pruning and PQ codes composed (the production shape):
    on planted clusters the probe scans only the probed cells' codes
    yet still recovers nearly all true neighbors after the exact
    re-rank — both scale axes engaged without recall collapse."""
    from aws_seismic_data_pipeline_spark.llm.pq import ivfpq_search

    rng = np.random.default_rng(7)
    centers = rng.normal(size=(10, 32))
    centers /= np.linalg.norm(centers, axis=1, keepdims=True)
    vecs = []
    for c in range(10):
        pts = centers[c] + 0.15 * rng.normal(size=(40, 32))
        pts /= np.linalg.norm(pts, axis=1, keepdims=True)
        vecs.append(pts)
    X = np.vstack(vecs)
    df = spark.createDataFrame(
        [(i, X[i].tolist()) for i in range(len(X))],
        "vec_id long, embedding array<float>",
    )

    queries = [(i, X[i].astype(np.float64)) for i in range(20)]
    approx: dict = {}
    for r in ivfpq_search(spark, df, queries, k=5).collect():
        approx.setdefault(r.query_id, set()).add(r.neighbor_id)

    D = X.astype(np.float64) @ X.astype(np.float64).T
    np.fill_diagonal(D, -np.inf)
    hits = total = 0
    for q in range(20):
        true = set(np.argsort(-np.round(D[q], 6))[:5].tolist())
        hits += len(approx.get(q, set()) & true)
        total += 5
    recall = hits / total
    assert recall >= 0.85, f"recall@5 = {recall:.2f}"


def test_residual_encoding_cuts_quantization_error(spark):
    """What residual encoding actually buys, measured: the SAME 8-byte
    budget spent on residuals (norm ~cluster-spread) instead of raw
    unit vectors (norm 1) must cut the ADC score error — quantization
    error scales with the encoded vector's magnitude. (Recall is NOT
    the right pin here: the planted clusters' interiors are isotropic
    noise, so no code assignment can rank within them — raw and
    residual ADC measured 0.45 vs 0.46 recall@5, an honest null
    result; the re-ranked pipeline is where recall is asserted.)"""
    from aws_seismic_data_pipeline_spark.llm.ivf import train_centroids
    from aws_seismic_data_pipeline_spark.llm.pq import (
        _residual_frame,
        adc_topk_residual,
        ivfpq_residual_search,
    )

    rng = np.random.default_rng(7)
    centers = rng.normal(size=(10, 32))
    centers /= np.linalg.norm(centers, axis=1, keepdims=True)
    vecs = []
    for c in range(10):
        pts = centers[c] + 0.08 * rng.normal(size=(40, 32))
        pts /= np.linalg.norm(pts, axis=1, keepdims=True)
        vecs.append(pts)
    X = np.vstack(vecs)
    df = spark.createDataFrame(
        [(i, X[i].tolist()) for i in range(len(X))],
        "vec_id long, embedding array<float>",
    )
    queries = [(i, X[i].astype(np.float64)) for i in range(20)]
    Xd = X.astype(np.float64)

    def mean_abs_score_err(rows):
        errs = [
            abs(r.dot - float(Xd[r.query_id] @ Xd[r.neighbor_id]))
            for r in rows
        ]
        return float(np.mean(errs))

    C_raw = train_codebooks(df, 32)
    raw_rows = rank_topk(
        adc_topk(encode_corpus(df, C_raw), queries, C_raw, 5), 5
    ).collect()
    raw_err = mean_abs_score_err(raw_rows)

    coarse = train_centroids(df)
    res = _residual_frame(df, coarse).localCheckpoint(eager=True)
    C_res = train_codebooks(res, 32)
    codes_res = encode_corpus(res, C_res).join(
        res.select("vec_id", "cell"), "vec_id"
    )
    res_rows = rank_topk(
        adc_topk_residual(codes_res, queries, C_res, coarse, 5), 5
    ).collect()
    res_err = mean_abs_score_err(res_rows)

    # same byte budget, materially tighter scores (measured 0.036 raw
    # vs 0.024 residual = 0.67x; pinned with margin)
    assert res_err < 0.75 * raw_err, (raw_err, res_err)

    # and the full residual pipeline with re-rank recovers the truth
    D = Xd @ Xd.T
    np.fill_diagonal(D, -np.inf)
    truth = {
        q: set(np.argsort(-np.round(D[q], 6))[:5].tolist())
        for q in range(20)
    }
    by_q: dict = {}
    for r in ivfpq_residual_search(spark, df, queries, k=5).collect():
        by_q.setdefault(r.query_id, set()).add(r.neighbor_id)
    hits = sum(len(truth[q] & by_q.get(q, set())) for q in range(20))
    assert hits / 100 >= 0.9, hits / 100


def test_sim_topk_pq_rejects_empty_query_set(spark, tmp_path):
    """An embeddings table with no query vectors (vec_id < 10) raises a
    clear ValueError instead of an IndexError from inside the build."""
    import pyarrow.compute as pc
    import pyarrow.parquet as pq
    import pytest

    from aws_seismic_data_pipeline_spark.llm.pq import sim_topk_pq

    table = pq.read_table(f"{SF_DIR}/embeddings.parquet")
    pq.write_table(
        table.filter(pc.field("vec_id") >= 10), tmp_path / "embeddings.parquet"
    )
    with pytest.raises(ValueError, match="no query vectors"):
        sim_topk_pq(spark, str(tmp_path))
