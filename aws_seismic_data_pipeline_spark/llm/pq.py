"""Product quantization (PQ) — the MEMORY tier of ANN search.

IVF (``llm/ivf.py``) cuts how much of the corpus a probe SCANS; PQ cuts
how many bytes each vector COSTS: split the d-dim embedding into M
subspaces, learn a tiny codebook per subspace (k-means on sub-vectors),
and store each vector as M one-byte codes — here 64 float32 dims
(256 B) become 8 codes (8 B), a 32× compression that turns a 100 TB
embedding store into ~3 TB of codes that fit in cluster RAM. Search
uses ASYMMETRIC DISTANCE COMPUTATION (ADC, Jégou et al., TPAMI 2011 —
public literature): the UNquantized query builds an M × k_sub lookup
table of sub-dot-products once, then every corpus vector's approximate
dot is M table lookups — no float vector is ever touched at probe time.

Scale shape mirrors the IVF module exactly:

- **train** — per-subspace L2 k-means on the driver (``vector.kmeans``)
  over one bounded md5(vec_id)-order sample of at most 256 vectors per
  codebook entry (``vector.md5_sample``, the same draw IVF trains on);
  no Spark job per iteration. Iterations stop at the exact fixpoint.
- **encode** — one Arrow/numpy pass over the corpus emitting (vec_id,
  codes); the codes table is what persists, 32× smaller than its input.
- **probe** — per-partition LUT scoring + partial top-k, then the same
  deterministic global re-rank as brute force (``llm/vector.py:
  rank_topk``). The corpus floats are NOT read.

Oracle (round 10 — was rows-only through r9): the registered query
emits the VERIFIED-PROPERTY surface (``llm/vector.py:
topk_property_surface``, same contract as ``sim_topk_ivf``) —
per query k results / self excluded / monotone scores, plus AGGREGATE
recall >= 0.45 vs exact brute force (measured 0.6+ at every fixture
SF), hash-checked against literal oracle verdicts. tests/test_pq.py
keeps the strong properties on raw rows: ADC == exhaustive rescoring
of the codes (the approximation is exactly the quantization, nothing
else), 32× compression measured on the stored table, determinism
across rebuilds, bounded mean ADC error, and recall against exact
brute force.
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from aws_seismic_data_pipeline_spark.catalog import load_table, spread_dense
from aws_seismic_data_pipeline_spark.registry import register

#: M subspaces × k_sub centroids: 8 × 16 fits the fixture's 64-dim
#: vectors and 2k-row corpus (production uses M=8..64, k_sub=256 — one
#: full byte per code — once there are enough vectors per codebook)
M_SUB = 8
K_SUB = 16
PQ_ITERS = 3

_CODES_SCHEMA = "vec_id long, codes array<int>"


def _split(X: np.ndarray, m: int, d_sub: int) -> np.ndarray:
    return X[:, m * d_sub : (m + 1) * d_sub]


def _nearest_l2(Xm: np.ndarray, Cm: np.ndarray) -> np.ndarray:
    """Each sub-vector's L2-nearest codebook entry:
    argmin ||x - c||^2 = argmin ||c||^2 - 2 x.c"""
    d2 = (Cm**2).sum(axis=1)[None, :] - 2.0 * (Xm @ Cm.T)
    return np.argmin(d2, axis=1)


def _rounded_mean(sums: np.ndarray, counts: np.ndarray, C: np.ndarray) -> np.ndarray:
    """L2 update: the cell mean, rounded to 6 decimals like the sums."""
    return np.round(sums / counts[:, None], 6)


def train_codebooks(
    corpus: DataFrame, d: int, iters: int = PQ_ITERS
) -> np.ndarray:
    """Per-subspace k-means, deterministic, shape (M, k_sub, d_sub):
    one bounded collect (``vector.md5_sample``, at most
    ``POINTS_PER_CENTROID`` × k_sub rows in md5(vec_id) order) seeds
    every subspace's codebook with the sub-vectors of its first k_sub
    rows and is the training set of every subspace; ``vector.kmeans``
    iterates on it with rounded means, no Spark job per iteration."""
    from aws_seismic_data_pipeline_spark.llm.vector import (
        POINTS_PER_CENTROID,
        kmeans,
        md5_sample,
    )

    X = md5_sample(corpus, POINTS_PER_CENTROID * K_SUB)
    d_sub = d // M_SUB
    return np.stack(
        [
            kmeans(Xm, Xm[:K_SUB].copy(), iters, _nearest_l2, _rounded_mean)
            for Xm in (_split(X, m, d_sub) for m in range(M_SUB))
        ]
    )


def encode_corpus(corpus: DataFrame, C: np.ndarray) -> DataFrame:
    """One pass corpus -> (vec_id, codes): per subspace the L2-nearest
    codebook entry. The output is the 32×-smaller table that persists;
    at 100 TB this is the only corpus-sized artifact a probe touches."""
    Cc = np.ascontiguousarray(C)
    d_sub = C.shape[2]

    def encode(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from aws_seismic_data_pipeline_spark.llm.vector import as_matrix

        for pdf in batches:
            if pdf.empty:
                continue
            X = as_matrix(pdf["embedding"])
            codes = np.empty((len(pdf), M_SUB), dtype=np.int32)
            for m in range(M_SUB):
                codes[:, m] = _nearest_l2(_split(X, m, d_sub), Cc[m])
            yield pd.DataFrame(
                {
                    "vec_id": pdf["vec_id"].to_numpy(dtype=np.int64),
                    "codes": list(codes),
                }
            )

    return corpus.select("vec_id", "embedding").mapInPandas(
        encode, _CODES_SCHEMA
    )


def adc_topk(
    codes_df: DataFrame,
    queries: list[tuple[int, np.ndarray]],
    C: np.ndarray,
    k: int,
) -> DataFrame:
    """ADC search over the codes table: each task builds the M × k_sub
    dot-product lookup table per query from the closure-shipped
    codebooks (KBs), scores every code row with M table lookups
    (vectorized gather-sum), and emits per-partition partial top-k;
    callers finish with the shared deterministic re-rank
    (``vector.rank_topk``). Corpus float vectors are never read."""
    from aws_seismic_data_pipeline_spark.llm.vector import (
        MAX_CLOSURE_QUERIES,
        partial_topk,
    )

    assert len(queries) <= MAX_CLOSURE_QUERIES
    d_sub = C.shape[2]
    q_ids = np.array([q[0] for q in queries], dtype=np.int64)
    # (n_q, M, k_sub): sub-dot of every query sub-vector with every code
    luts = np.stack(
        [
            np.stack(
                [C[m] @ _split(q[None, :], m, d_sub)[0] for m in range(M_SUB)]
            )
            for _, q in (
                (qid, np.asarray(vec, dtype=np.float64))
                for qid, vec in queries
            )
        ]
    )

    schema = "query_id long, neighbor_id long, dot double"

    def score(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if pdf.empty:
                continue
            c_ids = pdf["vec_id"].to_numpy(dtype=np.int64)
            codes = np.stack(pdf["codes"].to_numpy())  # (n_c, M)
            dots = np.zeros((len(q_ids), len(c_ids)))
            for m in range(M_SUB):
                dots += luts[:, m, :][:, codes[:, m]]
            yield from partial_topk(dots, q_ids, c_ids, k)

    return codes_df.mapInPandas(score, schema)


@register(
    "sim_topk_pq",
    oracle="""
        SELECT CAST(vec_id AS BIGINT) AS query_id,
               CAST(5 AS BIGINT) AS n_results,
               TRUE AS self_excluded,
               TRUE AS cosine_monotone,
               TRUE AS agg_recall_ok
        FROM embeddings WHERE vec_id < 10
    """,
    tags=("llm", "similarity", "approx"),
)
def sim_topk_pq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-5 neighbors for 10 queries via PRODUCT-QUANTIZED search with
    exact RE-RANKING: train per-subspace codebooks, encode the corpus
    to 8-byte codes, ADC-score a 50-candidate shortlist per query from
    codes alone, then re-score only the shortlist exactly — the
    corpus-sized pass reads 32×-compressed codes, full vectors are
    touched for 500 rows total. Registered surface is the
    VERIFIED-PROPERTY form (round-10, see ``sim_topk_ivf``): per query,
    k results / self excluded / monotone scores, plus aggregate recall
    >= 0.45 vs the exact top-5 (measured 0.6+ at every fixture SF),
    hash-checked against literal verdicts. tests/test_pq.py
    keeps the strong pins on the raw rows: ADC==exhaustive-rescore
    equality, compression, determinism, the ADC error bound, and
    >=0.9 re-ranked recall on planted clusters."""
    from aws_seismic_data_pipeline_spark.llm.similarity import exact_topk
    from aws_seismic_data_pipeline_spark.llm.vector import (
        topk_property_surface,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    # materialize the spread corpus ONCE (the same shape as the IVF
    # build): the training sample, the encode pass, the re-rank pass
    # and the exact recall baseline otherwise each re-read the parquet
    # AND re-ran the spread shuffle
    corpus = spread_dense(emb, spark, sf_dir).localCheckpoint(eager=True)
    queries = [
        (r["vec_id"], np.asarray(r["embedding"], dtype=np.float64))
        for r in corpus.filter(F.col("vec_id") < 10)
        .select("vec_id", "embedding")
        .collect()
    ]
    if not queries:
        raise ValueError(
            "sim_topk_pq: the embeddings table has no query vectors "
            "(vec_id < 10)"
        )
    d = len(queries[0][1])
    C = train_codebooks(corpus, d)
    codes = encode_corpus(corpus, C).localCheckpoint(eager=True)
    approx = pq_search_rerank(corpus, codes, queries, C, k=5).select(
        "query_id",
        "neighbor_id",
        F.round("dot", 4).alias("cosine"),
        "rank",
    )
    exact = exact_topk(
        spark, sf_dir, n_queries=10, k=5, corpus=corpus, queries=queries
    )
    return topk_property_surface(approx, exact, min_aggregate_recall=0.45)


def pq_search_rerank(
    corpus: DataFrame,
    codes_df: DataFrame,
    queries: list[tuple[int, np.ndarray]],
    C: np.ndarray,
    k: int,
    shortlist: int = 50,
) -> DataFrame:
    """The production PQ search shape (ADC + re-ranking, the 'IVFADC+R'
    refinement from the public PQ literature): ADC over the compressed
    codes retrieves a SHORTLIST of ``shortlist`` candidates per query —
    the cheap wide net — then only those candidates' full vectors are
    fetched and re-scored EXACTLY, restoring the fine-grained order the
    8-byte codes cannot resolve. Work split at 100 TB: the corpus-sized
    pass touches 8 B/vector codes; full floats are read for
    |queries| × shortlist rows only (here via one broadcast semi-join;
    a deployment fetches them by id through the bloom manifest's
    point-lookup path instead of scanning). Exact re-scoring runs
    JVM-side (zip_with + aggregate — no Python), and the final rank is
    the shared deterministic 6dp/id ordering."""
    return _exact_rerank(
        corpus, adc_topk(codes_df, queries, C, k=shortlist), queries, k, shortlist
    )


def _exact_rerank(
    corpus: DataFrame,
    candidates: DataFrame,
    queries: list[tuple[int, np.ndarray]],
    k: int,
    shortlist: int,
) -> DataFrame:
    """Each query's ``shortlist`` best ADC candidates re-scored exactly
    against the full corpus vectors (two broadcast joins, the dot in
    the JVM), then the shared deterministic top-k rank."""
    from aws_seismic_data_pipeline_spark.llm.vector import rank_topk

    cand = rank_topk(candidates, shortlist).select("query_id", "neighbor_id")
    qdf = corpus.sparkSession.createDataFrame(
        [(int(qid), [float(v) for v in vec]) for qid, vec in queries],
        "query_id long, qvec array<double>",
    )
    exact_dot = F.expr(
        "aggregate(zip_with(embedding, qvec,"
        " (a, b) -> CAST(a AS DOUBLE) * b), CAST(0 AS DOUBLE),"
        " (s, v) -> s + v)"
    )
    rescored = (
        corpus.select(F.col("vec_id").alias("neighbor_id"), "embedding")
        .join(F.broadcast(cand), "neighbor_id")
        .join(F.broadcast(qdf), "query_id")
        .select("query_id", "neighbor_id", exact_dot.alias("dot"))
    )
    return rank_topk(rescored, k)


def ivfpq_search(
    spark: SparkSession,
    corpus: DataFrame,
    queries: list[tuple[int, np.ndarray]],
    k: int,
    nprobe: int = 2,
    shortlist: int = 50,
) -> DataFrame:
    """The two ANN scale axes COMPOSED (the production IVF+PQ shape):
    the coarse IVF quantizer restricts WHICH vectors a probe scans
    (nprobe nearest cells per query, a corpus/n_cells fraction) and PQ
    restricts WHAT each scanned vector costs (8-byte codes, ADC
    scoring), with the exact re-rank restoring fine order over the
    shortlist. Plan: assign+encode in one corpus pass each (build
    side); the probe filters the codes table to the UNION of every
    query's probed cells — a pushdown-able IN filter (cell-partitioned
    storage would make it partition pruning, exactly like
    ``llm/ivf.py: write_index``) — then ADC + re-rank as in
    ``pq_search_rerank``. Extra candidates another query's cells admit
    can only widen a shortlist, never corrupt it: the re-rank is
    exact. (FAISS-style residual encoding — PQ over x minus its cell
    centroid — is the next refinement; raw-vector PQ keeps the two
    artifacts independently reusable, which is what the separate
    registered queries exercise.)"""
    from aws_seismic_data_pipeline_spark.llm.ivf import (
        _assign_cells,
        train_centroids,
    )
    from aws_seismic_data_pipeline_spark.llm.vector import as_matrix

    coarse = train_centroids(corpus)
    d = coarse.shape[1]
    C = train_codebooks(corpus, d)
    assigned = _assign_cells(corpus, coarse)
    codes = encode_corpus(corpus, C).join(assigned, "vec_id")

    q_mat = as_matrix([q[1] for q in queries])
    cell_rank = np.argsort(-(q_mat @ coarse.T), axis=1)[:, :nprobe]
    probe_cells = sorted({int(c) for row in cell_rank for c in row})
    pruned = codes.filter(F.col("cell").isin(probe_cells)).select(
        "vec_id", "codes"
    )
    return pq_search_rerank(corpus, pruned, queries, C, k, shortlist)


def _residual_frame(corpus: DataFrame, coarse: np.ndarray) -> DataFrame:
    """(vec_id, cell, embedding=residual) per vector: x minus its
    assigned coarse centroid — the quantity residual-PQ codebooks are
    trained on and encode. One Arrow/numpy pass, centroids in the task
    closure, no shuffle."""
    C = np.ascontiguousarray(coarse, dtype=np.float64)
    schema = "vec_id long, cell int, embedding array<float>"

    def residuals(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from aws_seismic_data_pipeline_spark.llm.ivf import _nearest_cell
        from aws_seismic_data_pipeline_spark.llm.vector import as_matrix

        for pdf in batches:
            if pdf.empty:
                continue
            X = as_matrix(pdf["embedding"])
            cells = _nearest_cell(X, C)
            R = (X - C[cells]).astype(np.float32)
            yield pd.DataFrame(
                {
                    "vec_id": pdf["vec_id"].to_numpy(np.int64),
                    "cell": cells.astype(np.int32),
                    "embedding": list(R),
                }
            )

    return corpus.select("vec_id", "embedding").mapInPandas(
        residuals, schema
    )


def adc_topk_residual(
    codes_df: DataFrame,
    queries: list[tuple[int, np.ndarray]],
    C: np.ndarray,
    coarse: np.ndarray,
    k: int,
) -> DataFrame:
    """ADC over RESIDUAL codes: approx dot(q, x) = dot(q, centroid of
    x's cell) + sum of residual sub-dot lookups. The per-cell constant
    term rides the closure as an (n_q × n_cells) table next to the
    LUTs; scoring stays a vectorized gather-sum. ``codes_df`` must
    carry (vec_id, codes, cell)."""
    from aws_seismic_data_pipeline_spark.llm.vector import (
        MAX_CLOSURE_QUERIES,
        as_matrix,
        partial_topk,
    )

    assert len(queries) <= MAX_CLOSURE_QUERIES
    d_sub = C.shape[2]
    q_ids = np.array([q[0] for q in queries], dtype=np.int64)
    q_mat = as_matrix([q[1] for q in queries]).astype(np.float64)
    cell_terms = q_mat @ np.asarray(coarse, dtype=np.float64).T
    luts = np.stack(
        [
            np.stack([C[m] @ _split(q[None, :], m, d_sub)[0] for m in range(M_SUB)])
            for q in q_mat
        ]
    )

    schema = "query_id long, neighbor_id long, dot double"

    def score(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if pdf.empty:
                continue
            c_ids = pdf["vec_id"].to_numpy(dtype=np.int64)
            cells = pdf["cell"].to_numpy(dtype=np.int64)
            codes = np.stack(pdf["codes"].to_numpy())
            dots = cell_terms[:, cells].copy()
            for m in range(M_SUB):
                dots += luts[:, m, :][:, codes[:, m]]
            yield from partial_topk(dots, q_ids, c_ids, k)

    return codes_df.mapInPandas(score, schema)


def ivfpq_residual_search(
    spark: SparkSession,
    corpus: DataFrame,
    queries: list[tuple[int, np.ndarray]],
    k: int,
    nprobe: int = 2,
    shortlist: int = 50,
) -> DataFrame:
    """The FAISS-default refinement of ``ivfpq_search``: PQ codebooks
    trained on and encoding RESIDUALS (x minus its coarse centroid) —
    the coarse quantizer absorbs between-cluster structure, so the
    8-byte budget encodes vectors of cluster-spread norm instead of
    unit norm — quantization error scales with that norm, and the ADC
    score error drops accordingly (measured 0.67x the raw
    variant's, pinned < 0.75x in tests/test_pq.py; recall itself is data-limited on isotropic
    cluster interiors — measured 0.46 vs 0.45 raw, an honest null —
    so the re-ranked pipeline carries the recall pin). Same plan shapes:
    assign+residual one pass, train on residual sub-vectors, encode one
    pass, probe = cell-pruned residual-ADC + exact re-rank."""
    from aws_seismic_data_pipeline_spark.llm.ivf import train_centroids
    from aws_seismic_data_pipeline_spark.llm.vector import as_matrix

    coarse = train_centroids(corpus)
    d = coarse.shape[1]
    res = _residual_frame(corpus, coarse).localCheckpoint(eager=True)
    C = train_codebooks(res, d)
    codes = encode_corpus(res, C).join(
        res.select("vec_id", "cell"), "vec_id"
    )

    q_mat = as_matrix([q[1] for q in queries])
    cell_rank = np.argsort(-(q_mat @ coarse.T), axis=1)[:, :nprobe]
    probe_cells = sorted({int(c) for row in cell_rank for c in row})
    pruned = codes.filter(F.col("cell").isin(probe_cells))
    cand = adc_topk_residual(pruned, queries, C, coarse, k=shortlist)
    return _exact_rerank(corpus, cand, queries, k, shortlist)
