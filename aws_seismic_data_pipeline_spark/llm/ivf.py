"""IVF approximate-nearest-neighbor with LEARNED centroids (north star).

``sim_topk_bucketed`` (llm/similarity.py) demonstrates the IVF *search*
shape using the fixture's label column as the coarse-quantizer cell.
This module closes the loop: the quantizer itself is TRAINED — a
spherical k-means over the corpus — so the index needs no ground-truth
labels, which is the real situation for a 100 TB embedding store.

Scale shape (the Faiss recipe, Johnson et al., "Billion-scale
similarity search with GPUs"):

- **train** — one bounded collect draws at most 256 vectors per cell
  in md5(vec_id) order (``vector.md5_sample``); the k-means iterates
  on that sample on the driver (``vector.kmeans``), with no Spark job
  per iteration. The training cost is fixed by k, not by the corpus.
- **assign** — centroids (k × d floats, a few KB) ship in the task
  closure; one Arrow/numpy pass over the corpus computes ``argmax
  (C @ x)`` per vector. No shuffle.

Search = probe the ``nprobe`` nearest cells per query, brute-force only
inside them with the same partial-top-k kernel as brute force
(llm/vector.py). Cost drops from O(corpus) to O(corpus × nprobe / k)
per query batch; the corpus is scanned pre-assigned (one extra int
column), never shuffled.

Oracle (round 10 — was rows-only through r9): iterative training has
no SQL form, but its CONTRACT does, so the registered queries emit
VERIFIED-PROPERTY surfaces (``llm/vector.py: topk_property_surface``)
hash-checked against literal oracle verdicts — per query k results /
self excluded / monotone scores, plus AGGREGATE recall >= 0.3 vs exact
brute force. The floor is meaningful, not decorative: the fixture
embeddings are isotropic (labels carry no geometric signal), so ANY
cell-probing index's expected recall there is ~nprobe/n_cells = 0.2;
the measured 0.45+ clears the random floor by 2x and the pinned bound
by 1.5x. ``tests/test_ivf.py`` keeps the strong properties on raw
rows: result == exact top-k restricted to probed cells, recall >= 0.9
on planted clustered data, end-to-end determinism.
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from aws_seismic_data_pipeline_spark.catalog import load_table, spread_dense
from aws_seismic_data_pipeline_spark.registry import register

N_CELLS = 10
N_ITERS = 3
N_PROBE = 2

_ASSIGN_SCHEMA = T.StructType(
    [
        T.StructField("vec_id", T.LongType(), False),
        T.StructField("cell", T.IntegerType(), False),
    ]
)


def _assign_cells(
    corpus: DataFrame, centroids: np.ndarray, with_embedding: bool = False
) -> DataFrame:
    """(vec_id, cell[, embedding]) for every corpus vector: argmax dot
    vs centroids.

    Centroids ride the task closure (k × d ≈ KBs); one vectorized pass,
    no shuffle. ``with_embedding=True`` passes the vector through so the
    caller gets the searchable index table without a join."""
    C = np.ascontiguousarray(centroids, dtype=np.float64)
    schema = (
        T.StructType(
            _ASSIGN_SCHEMA.fields
            + [T.StructField("embedding", T.ArrayType(T.FloatType()), True)]
        )
        if with_embedding
        else _ASSIGN_SCHEMA
    )

    def assign(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from aws_seismic_data_pipeline_spark.llm.vector import as_matrix

        for pdf in batches:
            if pdf.empty:
                continue
            cells = _nearest_cell(as_matrix(pdf["embedding"]), C)
            out = {
                "vec_id": pdf["vec_id"].to_numpy(np.int64),
                "cell": cells.astype(np.int32),
            }
            if with_embedding:
                out["embedding"] = pdf["embedding"]
            yield pd.DataFrame(out)

    return corpus.select("vec_id", "embedding").mapInPandas(assign, schema)


def _nearest_cell(X: np.ndarray, C: np.ndarray) -> np.ndarray:
    """Spherical assignment: each unit row's max-dot centroid."""
    return np.argmax(X @ C.T, axis=1)


def _unit_mean(sums: np.ndarray, counts: np.ndarray, C: np.ndarray) -> np.ndarray:
    """Spherical update: the renormalized cell sum; a cell whose sum
    is the zero vector keeps its centroid."""
    # row by row: norm(axis=1) sums the squares in another order and can
    # move the last bit of a centroid
    norms = np.array([np.linalg.norm(s) for s in sums])
    nz = norms > 0
    out = C.copy()
    out[nz] = sums[nz] / norms[nz, None]
    return out


def train_centroids(
    corpus: DataFrame,
    k: int = N_CELLS,
    iters: int = N_ITERS,
) -> np.ndarray:
    """Spherical k-means over unit vectors, fully deterministic, on the
    driver: one bounded collect (``vector.md5_sample``, at most
    ``POINTS_PER_CENTROID`` × k rows in md5(vec_id) order) is both the
    seed (its first k rows) and the training set, and
    ``vector.kmeans`` iterates on it with no further Spark job. The
    corpus is scanned once more, by the caller's assign pass."""
    from aws_seismic_data_pipeline_spark.llm.vector import (
        POINTS_PER_CENTROID,
        kmeans,
        md5_sample,
    )

    X = md5_sample(corpus, POINTS_PER_CENTROID * k)
    return kmeans(X, X[:k], iters, _nearest_cell, _unit_mean)


def probe_topk(
    corpus_with_cell: DataFrame,
    queries: list[tuple[int, np.ndarray]],
    centroids: np.ndarray,
    k: int,
    nprobe: int = N_PROBE,
) -> DataFrame:
    """Partial top-k restricted to each query's ``nprobe`` nearest cells.

    Same per-partition scoring and emitter (``vector.partial_topk``) as
    ``vector.topk_dots``, with the label mask generalized to a
    per-query allowed-cell set (the multi-probe matrix rides the
    closure: n_q × k booleans)."""
    from aws_seismic_data_pipeline_spark.llm.vector import (
        MAX_CLOSURE_QUERIES,
        as_matrix,
        partial_topk,
    )

    assert len(queries) <= MAX_CLOSURE_QUERIES, (
        f"{len(queries)} query vectors in the task closure — the sim_topk_* "
        f"contract is <= {MAX_CLOSURE_QUERIES}; batch larger query sets"
    )
    q_ids = np.array([q[0] for q in queries], dtype=np.int64)
    q_mat = as_matrix([q[1] for q in queries])
    cell_rank = np.argsort(-(q_mat @ centroids.T), axis=1)[:, :nprobe]
    allowed = np.zeros((len(queries), centroids.shape[0]), dtype=bool)
    for i, cells in enumerate(cell_rank):
        allowed[i, cells] = True

    pair_schema = T.StructType(
        [
            T.StructField("query_id", T.LongType(), False),
            T.StructField("neighbor_id", T.LongType(), False),
            T.StructField("dot", T.DoubleType(), False),
        ]
    )

    def score(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if pdf.empty:
                continue
            c_cells = pdf["cell"].to_numpy(np.int64)
            dots = q_mat @ as_matrix(pdf["embedding"]).T
            dots[~allowed[:, c_cells]] = -np.inf
            yield from partial_topk(
                dots, q_ids, pdf["vec_id"].to_numpy(np.int64), k
            )

    return corpus_with_cell.select("vec_id", "embedding", "cell").mapInPandas(
        score, pair_schema
    )


def build_and_search(
    spark: SparkSession,
    sf_dir: str,
    k: int = 5,
    n_queries: int = 50,
    n_cells: int = N_CELLS,
    nprobe: int = N_PROBE,
    corpus: DataFrame | None = None,
    queries: list[tuple[int, object]] | None = None,
) -> DataFrame:
    """Train the quantizer, assign the corpus, probe-search the query
    set. ``corpus`` (a materialized (vec_id, embedding) frame) and
    ``queries`` let the registered surface share them with its exact
    recall baseline instead of re-scanning (r16)."""
    from aws_seismic_data_pipeline_spark.llm.vector import rank_topk

    if corpus is None:
        # eager checkpoint: the training sample, the assign pass, the
        # query collect and the probe each read the corpus — without the
        # lineage cut each would repeat the parquet decode AND the
        # spread shuffle. At 100 TB this materialization is the IVF
        # build's working set; the persisted index table plays this
        # role in a real deployment.
        corpus = spread_dense(
            load_table(spark, sf_dir, "embeddings"), spark, sf_dir
        ).localCheckpoint(eager=True)
    centroids = train_centroids(corpus, k=n_cells)
    # one pass-through assignment (no join): at 100 TB `assigned` is the
    # persisted index table, written partitioned by cell so probes prune
    # at the scan
    assigned = _assign_cells(corpus, centroids, with_embedding=True)
    if queries is None:
        queries = collect_queries(corpus, n_queries)
    candidates = probe_topk(assigned, queries, centroids, k=k, nprobe=nprobe)
    return rank_topk(candidates, k).select(
        "query_id",
        "neighbor_id",
        F.round("dot", 4).alias("cosine"),
        "rank",
    )


def collect_queries(emb: DataFrame, n_queries: int) -> list:
    """The sim_topk query set: ``(vec_id, embedding)`` for
    ``vec_id < n_queries`` — one collect, shared by the approx probe
    and the exact recall baseline."""
    return [
        (r["vec_id"], r["embedding"])
        for r in emb.filter(F.col("vec_id") < n_queries)
        .select("vec_id", "embedding")
        .collect()
    ]


@register(
    "sim_topk_ivf",
    oracle="""
        SELECT CAST(vec_id AS BIGINT) AS query_id,
               CAST(5 AS BIGINT) AS n_results,
               TRUE AS self_excluded,
               TRUE AS cosine_monotone,
               TRUE AS agg_recall_ok
        FROM embeddings WHERE vec_id < 50
    """,
    tags=("llm", "similarity", "approx"),
)
def sim_topk_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF ANN with a TRAINED coarse quantizer: spherical k-means
    (deterministic md5-order init, 3 iterations), corpus assigned to
    cells in one closure-broadcast pass, then top-5 search probing the
    2 nearest cells per query. The registered surface is the
    VERIFIED-PROPERTY form (round-10: was rows-only since r5 —
    iterative training has no SQL form, but its CONTRACT does): per
    query, exactly k results, self excluded, scores monotone down the
    ranks, and aggregate recall >= 0.3 vs the exact brute-force top-5
    (measured 0.45+ at every fixture SF on this weakly-clustered
    corpus; per-query recall is NOT a sound pin — a query's true
    neighbors can all sit outside its 2 probed cells), all computed
    in-engine against ``exact_topk`` and hash-checked against the
    oracle's literal verdicts. Planted-cluster recall and
    rerun-determinism pins stay on the raw neighbor rows in
    tests/test_ivf.py."""
    from aws_seismic_data_pipeline_spark.llm.similarity import exact_topk
    from aws_seismic_data_pipeline_spark.llm.vector import (
        topk_property_surface,
    )

    # materialize the corpus and collect the queries ONCE: the recall
    # baseline (exact_topk) used to re-scan + re-spread the corpus and
    # re-collect the queries — one redundant full corpus pass per
    # invocation at 100 TB (r16; guide §1.2)
    corpus = spread_dense(
        load_table(spark, sf_dir, "embeddings"), spark, sf_dir
    ).localCheckpoint(eager=True)
    queries = collect_queries(corpus, 50)
    approx = build_and_search(
        spark, sf_dir, corpus=corpus, queries=queries
    )
    exact = exact_topk(
        spark, sf_dir, n_queries=50, k=5, corpus=corpus, queries=queries
    )
    return topk_property_surface(approx, exact, min_aggregate_recall=0.3)


def index_path(spark: SparkSession, sf_dir: str) -> str:
    """Per-session temp location for the persisted IVF index.

    Keyed by the Spark application id so two concurrent harness runs at
    the same SF can never overwrite each other's parquet files mid-scan
    (the fixed ``ivf_index_{sf}`` path raced under concurrency). Within
    one session the path is stable, so repeated bench trials rebuild in
    place — which is exactly the build cost being measured."""
    from aws_seismic_data_pipeline_spark.catalog import scratch_path

    return scratch_path(spark, sf_dir, "ivf_index")


#: quantizer subdir inside the index; the leading underscore makes it
#: invisible to Spark's parquet listing, so reading the index dir never
#: mixes centroid rows into the vector table.
_CENTROIDS_SUBDIR = "_centroids"


def save_centroids(spark: SparkSession, index_dir: str, C: np.ndarray) -> None:
    """Persist the trained quantizer INSIDE the index directory — the
    index is then a self-contained deployment artifact: probes and
    appends need only its path, no out-of-band ndarray transport. One
    row per cell (cell, centroid array<double>) plus the training
    metadata a loader must re-validate (k, d, the spherical/unit-norm
    convention); k × d doubles ≈ KBs, shipped as ONE Arrow batch
    (pandas input — the tuple-list path would pickle through a
    Python-RDD pipeline, measured 25× slower) and coalesced to a
    single file."""
    k, d = C.shape
    pdf = pd.DataFrame(
        {
            "cell": np.arange(k, dtype=np.int32),
            "centroid": [C[c].astype(np.float64).tolist() for c in range(k)],
            "k": k,
            "d": d,
            "norm": "unit-l2",
        }
    )
    spark.createDataFrame(
        pdf, "cell int, centroid array<double>, k int, d int, norm string"
    ).coalesce(1).write.mode("overwrite").parquet(
        f"{index_dir}/{_CENTROIDS_SUBDIR}"
    )


def _centroid_rows_local(path: str):
    """Driver-side pyarrow read of the KB-scale centroid table (k rows
    of k/d/norm metadata + one double array each), sorted by cell —
    the quantizer load is metadata work, not data work (same rationale
    as sources/table/localman): a Spark read chained ~3 AQE jobs per
    probe just to fetch kilobytes. Returns None on any failure so the
    caller falls back to the original Spark read."""
    try:
        import pyarrow.dataset as pads

        tbl = pads.dataset(path, format="parquet").to_table()
        pdf = tbl.to_pandas().sort_values("cell").reset_index(drop=True)
        return [
            {
                "cell": int(r.cell),
                "centroid": list(r.centroid),
                "k": int(r.k),
                "d": int(r.d),
                "norm": r.norm,
            }
            for r in pdf.itertuples()
        ]
    except Exception:
        return None


def load_centroids(spark: SparkSession, index_dir: str) -> np.ndarray:
    """Load the stored quantizer back as the (k, d) ndarray training
    produced — bit-exact, because the doubles round-trip through
    parquet unchanged. Validates the metadata so a truncated or
    mixed-version centroid table fails loudly instead of probing with
    a wrong-shaped quantizer."""
    rows = _centroid_rows_local(f"{index_dir}/{_CENTROIDS_SUBDIR}")
    if rows is None:  # non-local store / pyarrow can't read: Spark path
        rows = (
            spark.read.parquet(f"{index_dir}/{_CENTROIDS_SUBDIR}")
            .orderBy("cell")
            .collect()
        )
    if not rows:
        raise ValueError(f"no stored centroids under {index_dir}")
    k, d, norm = rows[0]["k"], rows[0]["d"], rows[0]["norm"]
    if norm != "unit-l2":
        raise ValueError(f"unknown centroid norm convention: {norm}")
    if len(rows) != k or [r["cell"] for r in rows] != list(range(k)):
        raise ValueError(
            f"centroid table corrupt: expected cells 0..{k - 1}, "
            f"got {[r['cell'] for r in rows]}"
        )
    C = np.array([r["centroid"] for r in rows], dtype=np.float64)
    if C.shape != (k, d):
        raise ValueError(f"centroid shape {C.shape} != metadata ({k}, {d})")
    return C


def write_index(
    spark: SparkSession, sf_dir: str, path: str, n_cells: int = N_CELLS
) -> np.ndarray:
    """Materialize the IVF index as a cell-partitioned parquet table.

    This is the production shape the in-memory ``build_and_search``
    only simulates with localCheckpoint: train once, write
    ``(vec_id, embedding)`` partitioned by ``cell``, and every later
    probe is a parquet scan that PRUNES to the probed cells at the
    file listing — at 100 TB a nprobe=2/k=10 query set reads ~20% of
    the corpus bytes and shuffles nothing. The trained centroids are
    persisted INSIDE the index (``save_centroids``), so the directory
    is the whole deployment artifact; they are also returned for
    callers that keep probing in-process."""
    emb = load_table(spark, sf_dir, "embeddings")
    corpus = spread_dense(emb, spark, sf_dir).localCheckpoint(eager=True)
    return build_index_from(corpus, path, n_cells=n_cells)


def build_index_from(
    corpus: DataFrame, path: str, n_cells: int = N_CELLS
) -> np.ndarray:
    """Train + assign + write the self-contained index from an
    arbitrary (vec_id, embedding) frame — the core ``write_index``
    wraps for the fixture table, reused by the streaming ingest whose
    initial corpus is a subset. Caller is responsible for the frame's
    partitioning/materialization (the training sample and the assign
    pass each read it once)."""
    centroids = train_centroids(corpus, k=n_cells)
    assigned = _assign_cells(corpus, centroids, with_embedding=True)
    # repartition by cell before the partitioned write: without it every
    # task writes one file into every cell directory (n_tasks × k small
    # files — at 1000 executors a file-listing catastrophe). One build-
    # time shuffle buys one file per cell.
    assigned.repartition("cell").write.partitionBy("cell").mode(
        "overwrite"
    ).parquet(path)
    save_centroids(corpus.sparkSession, path, centroids)
    return centroids


def probe_persisted_index(
    spark: SparkSession,
    path: str,
    queries: list[tuple[int, np.ndarray]],
    centroids: np.ndarray | None = None,
    k: int = 5,
    nprobe: int = N_PROBE,
) -> DataFrame:
    """Search the persisted index: scan-level partition pruning to the
    UNION of all queries' probe cells, then the same per-query masked
    partial-top-k kernel. The ``cell IN (...)`` predicate is a
    partition filter (asserted on the physical plan in
    tests/test_ivf.py), so unprobed cells are never read from disk.
    With ``centroids=None`` (the deployment default) the quantizer is
    loaded from the index itself (``load_centroids``) — the directory
    is self-contained; passing an ndarray skips the KB-sized read for
    in-process callers that just trained it."""
    from aws_seismic_data_pipeline_spark.llm.vector import as_matrix, rank_topk

    if centroids is None:
        centroids = load_centroids(spark, path)
    q_mat = as_matrix([q[1] for q in queries])
    cell_rank = np.argsort(-(q_mat @ centroids.T), axis=1)[:, :nprobe]
    needed = sorted({int(c) for row in cell_rank for c in row})
    corpus = (
        spark.read.parquet(path)
        .filter(F.col("cell").isin(needed))
        .select("vec_id", "embedding", F.col("cell").cast("int").alias("cell"))
    )
    return rank_topk(probe_topk(corpus, queries, centroids, k=k, nprobe=nprobe), k).select(
        "query_id",
        "neighbor_id",
        F.round("dot", 4).alias("cosine"),
        "rank",
    )


@register(
    "sim_topk_ivf_persisted",
    oracle="""
        SELECT CAST(vec_id AS BIGINT) AS query_id,
               CAST(5 AS BIGINT) AS n_results,
               TRUE AS self_excluded,
               TRUE AS cosine_monotone,
               TRUE AS agg_recall_ok
        FROM embeddings WHERE vec_id < 50
    """,
    tags=("llm", "similarity", "approx"),
)
def sim_topk_ivf_persisted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF ANN through the PERSISTED index: write the cell-partitioned
    index table once, then answer the query set with a partition-pruned
    scan of only the probed cells — the deployment path where the index
    outlives the job and probes never rescan or re-shuffle the corpus.
    The probe deliberately does NOT pass the just-trained centroids: it
    reloads the quantizer from inside the index (``load_centroids``),
    so the driver-checked path exercises the self-contained artifact
    end to end. Registered surface is the VERIFIED-PROPERTY form
    (round-10, see ``sim_topk_ivf``): per query, k results / self
    excluded / monotone scores, plus aggregate recall >= 0.3 vs the
    exact top-5, hash-checked against literal verdicts;
    persisted==in-memory equality and cell pruning stay pinned on the
    raw rows in tests/test_ivf.py."""
    from aws_seismic_data_pipeline_spark.llm.similarity import exact_topk
    from aws_seismic_data_pipeline_spark.llm.vector import (
        topk_property_surface,
    )

    path = index_path(spark, sf_dir)
    # share the build's materialized corpus + the query set with the
    # exact recall baseline (r16: exact_topk re-scanned + re-spread the
    # corpus and re-collected the queries — one redundant corpus pass)
    emb = load_table(spark, sf_dir, "embeddings")
    corpus = spread_dense(emb, spark, sf_dir).localCheckpoint(eager=True)
    build_index_from(corpus, path)
    queries = collect_queries(corpus, 50)
    out = probe_persisted_index(spark, path, queries, centroids=None, k=5)
    exact = exact_topk(
        spark, sf_dir, n_queries=50, k=5, corpus=corpus, queries=queries
    )
    result = topk_property_surface(
        out, exact, min_aggregate_recall=0.3
    ).localCheckpoint(eager=True)  # materialize before cleanup
    import shutil

    shutil.rmtree(path, ignore_errors=True)  # app-id-keyed dir: no reuse
    return result


def append_to_index(
    index_dir: str, new_vectors: DataFrame, centroids: np.ndarray | None = None
) -> None:
    """INCREMENTAL index maintenance: assign a batch of new vectors to
    their cells with the EXISTING quantizer and append them to the
    cell-partitioned table — no retrain, no touch of the stored
    vectors. This is the continuous-ingest economics the dedup corpus
    artifact already has (``llm/dedup.py: write_corpus_index``):
    per-batch cost is batch-sized (one closure-broadcast assign pass +
    an append write into the matching cell directories), while a
    rebuild would rescan the whole corpus. Retrain the quantizer only
    when drift accumulates (monitor the assign-distance distribution);
    until then appended and rebuilt indexes are EXACTLY equivalent for
    probing because cell assignment depends only on (vector,
    centroids) — pinned by tests/test_ivf.py's append==rebuild check.
    With ``centroids=None`` the stored quantizer is loaded from the
    index (``load_centroids``), so ingest jobs need only the path.
    """
    if centroids is None:
        centroids = load_centroids(new_vectors.sparkSession, index_dir)
    assigned = _assign_cells(new_vectors, centroids, with_embedding=True)
    assigned.repartition("cell").write.partitionBy("cell").mode(
        "append"
    ).parquet(index_dir)


def compact_index(spark: SparkSession, index_dir: str) -> None:
    """Maintenance for the persisted IVF index: each
    :func:`append_to_index` call leaves one new file in every touched
    cell directory, so continuous ingest degrades the probe's pruned
    scan into a many-small-files listing. Rewrite the vector table one
    file per cell (``catalog.compact_parquet_dir`` — a single
    cell-keyed shuffle of the INDEX, never a corpus rescan), carrying
    the stored quantizer (``_centroids``) over verbatim, and swap
    atomically. Probing is exactly unchanged — cell assignment is
    already fixed in the rows — pinned compacted==fragmented in
    tests/test_ivf.py."""
    from aws_seismic_data_pipeline_spark.catalog import compact_parquet_dir

    compact_parquet_dir(
        spark, index_dir, partition_by="cell", keep=(_CENTROIDS_SUBDIR,)
    )
