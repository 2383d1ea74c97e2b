"""IVF ANN with a trained quantizer: recall vs exact brute force,
determinism, and index structure.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import functions as F

from aws_seismic_data_pipeline_spark.catalog import load_table
from aws_seismic_data_pipeline_spark.llm.ivf import (
    N_CELLS,
    _assign_cells,
    build_and_search,
    train_centroids,
)

from .conftest import SF_DIR


def _exact_topk(spark, k, n_queries):
    """Brute-force ground truth via the existing exact kernel."""
    from aws_seismic_data_pipeline_spark.llm.vector import rank_topk, topk_dots

    emb = load_table(spark, SF_DIR, "embeddings")
    queries = [
        (r["vec_id"], None, r["embedding"])
        for r in emb.filter(F.col("vec_id") < n_queries)
        .select("vec_id", "embedding")
        .collect()
    ]
    exact = rank_topk(topk_dots(emb, queries, k=k, same_label_only=False), k)
    out: dict = {}
    for r in exact.collect():
        out.setdefault(r.query_id, set()).add(r.neighbor_id)
    return out


def test_trained_centroids_are_unit_and_deterministic(spark):
    emb = load_table(spark, SF_DIR, "embeddings")
    c1 = train_centroids(emb, k=N_CELLS, iters=2)
    c2 = train_centroids(emb, k=N_CELLS, iters=2)
    assert np.allclose(c1, c2)  # md5-order init + fixed iteration count
    norms = np.linalg.norm(c1, axis=1)
    assert np.allclose(norms, 1.0)  # spherical k-means keeps unit norm


def test_assignment_covers_corpus_with_multiple_cells(spark):
    emb = load_table(spark, SF_DIR, "embeddings")
    centroids = train_centroids(emb, k=N_CELLS, iters=2)
    assigned = _assign_cells(emb, centroids)
    rows = assigned.groupBy("cell").count().collect()
    assert sum(r["count"] for r in rows) == emb.count()
    # the fixture has 10 latent clusters; training must find real
    # structure, not collapse everything into one cell
    assert len(rows) >= N_CELLS // 2


def test_ivf_equals_bruteforce_restricted_to_probed_cells(spark):
    """The strong IVF correctness property, independent of data
    geometry: the approximate result must be EXACTLY the true top-k
    computed over the union of probed cells. (The fixture embeddings
    are isotropic — labels carry no geometric signal — so recall vs the
    full corpus is ~nprobe/n_cells by construction; recall quality is
    asserted on planted clusters below.)"""
    import numpy as np
    from aws_seismic_data_pipeline_spark.llm.ivf import N_PROBE, probe_topk
    from aws_seismic_data_pipeline_spark.llm.vector import rank_topk

    k, n_queries = 5, 30
    emb = load_table(spark, SF_DIR, "embeddings")
    centroids = train_centroids(emb, k=N_CELLS, iters=3)
    assigned = emb.join(_assign_cells(emb, centroids), "vec_id")
    approx: dict = {}
    got = build_and_search(spark, SF_DIR, k=k, n_queries=n_queries)
    for r in got.collect():
        approx.setdefault(r.query_id, []).append((r.rank, r.neighbor_id, r.cosine))

    # reference: same probe set, computed straight from collected data
    rows = assigned.select("vec_id", "embedding", "cell").collect()
    c_ids = np.array([r.vec_id for r in rows])
    c_cells = np.array([r.cell for r in rows])
    c_mat = np.stack([np.asarray(r.embedding, dtype=np.float64) for r in rows])
    queries = {
        r.vec_id: np.asarray(r.embedding, dtype=np.float64)
        for r in emb.filter(F.col("vec_id") < n_queries).collect()
    }
    for qid, qv in queries.items():
        probe = np.argsort(-(qv @ centroids.T))[:N_PROBE]
        mask = np.isin(c_cells, probe) & (c_ids != qid)
        dots = c_mat[mask] @ qv
        ids = c_ids[mask]
        order = sorted(zip(ids, dots), key=lambda t: (-round(t[1], 6), t[0]))[:k]
        want = [(i + 1, int(nid), round(d, 4)) for i, (nid, d) in enumerate(order)]
        assert sorted(approx[qid]) == want, qid


def test_ivf_recall_on_planted_clusters(spark, tmp_path):
    """On genuinely clustered data (10 tight clusters around unit
    centers), nprobe=2 IVF must recover nearly all true neighbors —
    below the training-sample cap (400 vectors, the whole corpus
    trains) and above it (3,000 vectors, 2,560 train)."""
    import numpy as np
    import os

    for per_cluster in (40, 300):
        rng = np.random.default_rng(7)
        centers = rng.normal(size=(10, 32))
        centers /= np.linalg.norm(centers, axis=1, keepdims=True)
        vecs, labels = [], []
        for c in range(10):
            pts = centers[c] + 0.15 * rng.normal(size=(per_cluster, 32))
            pts /= np.linalg.norm(pts, axis=1, keepdims=True)
            vecs.append(pts)
            labels += [c] * per_cluster
        X = np.vstack(vecs)
        d = str(tmp_path / f"planted{len(X)}")
        os.makedirs(d, exist_ok=True)
        df = spark.createDataFrame(
            [(i, X[i].tolist(), labels[i]) for i in range(len(X))],
            "vec_id long, embedding array<float>, label int",
        )
        df.coalesce(1).write.mode("overwrite").parquet(f"{d}/embeddings.parquet")

        k, n_queries = 5, 30
        approx: dict = {}
        for r in build_and_search(spark, d, k=k, n_queries=n_queries).collect():
            approx.setdefault(r.query_id, set()).add(r.neighbor_id)

        # exact ground truth in numpy (corpus is small)
        Xq = X.astype(np.float64)
        D = Xq @ Xq.T
        np.fill_diagonal(D, -np.inf)
        hits = total = 0
        for q in range(n_queries):
            true = set(np.argsort(-np.round(D[q], 6))[:k].tolist())
            hits += len(approx[q] & true)
            total += k
        recall = hits / total
        assert recall >= 0.9, f"n={len(X)}: recall@{k} = {recall:.2f}"


def test_training_sample_is_capped_per_centroid(spark, monkeypatch):
    """Memory-posture pin: IVF and PQ each train on ONE driver-side
    draw, exactly the first min(n, POINTS_PER_CENTROID × k) corpus
    vectors in md5(vec_id) order, whose first k rows are the seed —
    never corpus-sized, whatever the corpus."""
    import hashlib

    from aws_seismic_data_pipeline_spark.llm import vector
    from aws_seismic_data_pipeline_spark.llm.pq import K_SUB, train_codebooks

    n, d = 3000, 16
    X = np.random.default_rng(3).normal(size=(n, d)).astype(np.float32)
    df = spark.createDataFrame(
        [(i, X[i].tolist()) for i in range(n)],
        "vec_id long, embedding array<float>",
    )
    md5_order = sorted(
        range(n), key=lambda i: (hashlib.md5(str(i).encode()).hexdigest(), i)
    )
    drawn = []
    md5_sample = vector.md5_sample

    def spy(corpus, limit):
        drawn.append(md5_sample(corpus, limit))
        return drawn[-1]

    monkeypatch.setattr(vector, "md5_sample", spy)

    seed = train_centroids(df, k=N_CELLS, iters=0)
    ivf_rows = vector.POINTS_PER_CENTROID * N_CELLS
    assert ivf_rows == 2560 < n
    assert np.array_equal(drawn[0], X[md5_order[:ivf_rows]])
    assert np.array_equal(seed, X[md5_order[:N_CELLS]])

    train_codebooks(df, d)
    pq_rows = min(n, vector.POINTS_PER_CENTROID * K_SUB)
    assert len(drawn) == 2
    assert np.array_equal(drawn[1], X[md5_order[:pq_rows]])


def test_empty_corpus_has_no_training_vectors(spark, tmp_path):
    """A 0-row embeddings table fails every trainer with one clear
    error, not numpy's from inside the seed draw."""
    import pyarrow.parquet as pq
    import pytest

    from aws_seismic_data_pipeline_spark.llm.ivf import (
        build_index_from,
        sim_topk_ivf,
    )
    from aws_seismic_data_pipeline_spark.llm.pq import train_codebooks

    table = pq.read_table(f"{SF_DIR}/embeddings.parquet")
    pq.write_table(table.slice(0, 0), tmp_path / "embeddings.parquet")
    empty = load_table(spark, str(tmp_path), "embeddings")
    with pytest.raises(ValueError, match="no training vectors"):
        sim_topk_ivf(spark, str(tmp_path))
    with pytest.raises(ValueError, match="no training vectors"):
        build_index_from(empty, str(tmp_path / "index"))
    with pytest.raises(ValueError, match="no training vectors"):
        train_codebooks(empty, 64)


def test_persisted_index_matches_in_memory_path(spark, tmp_path):
    """The cell-partitioned parquet index (production path) must return
    EXACTLY what the in-memory build_and_search returns, and its probe
    scan must prune to the probed cells at the file listing."""
    from pyspark.sql import functions as F

    from aws_seismic_data_pipeline_spark.llm.ivf import (
        N_PROBE,
        probe_persisted_index,
        write_index,
    )

    path = str(tmp_path / "ivf_index")
    centroids = write_index(spark, SF_DIR, path)
    emb = load_table(spark, SF_DIR, "embeddings")
    queries = [
        (r["vec_id"], r["embedding"])
        for r in emb.filter(F.col("vec_id") < 50)
        .select("vec_id", "embedding")
        .collect()
    ]
    persisted = probe_persisted_index(spark, path, queries, centroids, k=5)
    in_memory = build_and_search(spark, SF_DIR, k=5, n_queries=50)
    assert sorted(map(tuple, persisted.collect())) == sorted(
        map(tuple, in_memory.collect())
    )
    # self-contained artifact: probing with ONLY the index path (the
    # quantizer reloaded from {path}/_centroids) answers identically
    from_disk = probe_persisted_index(spark, path, queries, k=5)
    assert sorted(map(tuple, from_disk.collect())) == sorted(
        map(tuple, persisted.collect())
    )

    # scan-level pruning: the probe plan carries a partition filter on
    # cell, so unprobed cell directories are never read
    import io
    from contextlib import redirect_stdout

    import numpy as np

    q_mat = np.stack([np.asarray(q[1], dtype=np.float64) for q in queries])
    needed = sorted(
        {
            int(c)
            for row in np.argsort(-(q_mat @ centroids.T), axis=1)[:, :N_PROBE]
            for c in row
        }
    )
    pruned = spark.read.parquet(path).filter(F.col("cell").isin(needed))
    buf = io.StringIO()
    with redirect_stdout(buf):
        pruned.explain("formatted")
    plan = buf.getvalue()
    assert "PartitionFilters" in plan
    assert "cell" in plan.split("PartitionFilters", 1)[1][:200]


def test_ivf_search_is_rerun_deterministic(spark):
    a = sorted(
        map(tuple, build_and_search(spark, SF_DIR, k=3, n_queries=10).collect())
    )
    b = sorted(
        map(tuple, build_and_search(spark, SF_DIR, k=3, n_queries=10).collect())
    )
    assert a == b


def test_append_to_index_equals_rebuild(spark, tmp_path):
    """Incremental maintenance must be exact: an index built from 80%
    of the corpus then appended with the remaining 20% (same quantizer)
    answers every probe identically to an index built from 100% in one
    shot — cell assignment depends only on (vector, centroids), so
    append and rebuild are the same table up to file layout."""
    from pyspark.sql import functions as F

    import numpy as np

    from aws_seismic_data_pipeline_spark.catalog import load_table, spread_dense
    from aws_seismic_data_pipeline_spark.llm.ivf import (
        N_CELLS,
        _assign_cells,
        append_to_index,
        load_centroids,
        probe_persisted_index,
        save_centroids,
        train_centroids,
    )

    from .conftest import SF_DIR

    emb = load_table(spark, SF_DIR, "embeddings")
    corpus = spread_dense(emb, spark, SF_DIR).localCheckpoint(eager=True)
    centroids = train_centroids(corpus, k=N_CELLS)

    full_dir = str(tmp_path / "ivf_full")
    incr_dir = str(tmp_path / "ivf_incr")
    _assign_cells(corpus, centroids, with_embedding=True).repartition(
        "cell"
    ).write.partitionBy("cell").parquet(full_dir)

    base = corpus.filter(F.col("vec_id") % 5 != 0)
    late = corpus.filter(F.col("vec_id") % 5 == 0)
    _assign_cells(base, centroids, with_embedding=True).repartition(
        "cell"
    ).write.partitionBy("cell").parquet(incr_dir)
    # append through the STORED quantizer: persist the centroids inside
    # the index (bit-exact round trip pinned here), then append with no
    # ndarray in hand — the ingest-job deployment shape
    save_centroids(spark, incr_dir, centroids)
    assert np.array_equal(load_centroids(spark, incr_dir), centroids)
    append_to_index(incr_dir, late)

    # same rows in the same cells...
    a = sorted(
        map(tuple, spark.read.parquet(full_dir).select("vec_id", "cell").collect())
    )
    b = sorted(
        map(tuple, spark.read.parquet(incr_dir).select("vec_id", "cell").collect())
    )
    assert a == b and a

    # ...and identical probe answers
    queries = [
        (r["vec_id"], r["embedding"])
        for r in emb.filter(F.col("vec_id") < 10)
        .select("vec_id", "embedding")
        .collect()
    ]
    pa = sorted(
        map(
            tuple,
            probe_persisted_index(spark, full_dir, queries, centroids, k=5).collect(),
        )
    )
    # incr side probes from DISK ONLY (centroids=None -> load_centroids):
    # the index directory alone must answer identically
    pb = sorted(
        map(
            tuple,
            probe_persisted_index(spark, incr_dir, queries, k=5).collect(),
        )
    )
    assert pa == pb and pa


def test_compact_index_preserves_probes_and_quantizer(spark, tmp_path):
    """IVF index compaction after repeated appends: probe answers are
    identical, the stored quantizer survives the swap bit-exact, and
    every cell directory is back to a single data file."""
    import glob as _glob
    import os as _os

    import numpy as np
    from pyspark.sql import functions as F

    from aws_seismic_data_pipeline_spark.catalog import (
        count_parquet_files,
        load_table,
    )
    from aws_seismic_data_pipeline_spark.llm.ivf import (
        append_to_index,
        compact_index,
        load_centroids,
        probe_persisted_index,
        write_index,
    )

    from .conftest import SF_DIR

    path = str(tmp_path / "ivf_compact")
    centroids = write_index(spark, SF_DIR, path)
    emb = load_table(spark, SF_DIR, "embeddings")
    # three append batches fragment the cell dirs (synthetic late rows:
    # reuse fixture vectors under fresh ids)
    for shift in (1, 2, 3):
        late = emb.filter(F.col("vec_id") % 7 == shift).withColumn(
            "vec_id", F.col("vec_id") + F.lit(shift * 1_000_000)
        )
        append_to_index(path, late)

    queries = [
        (r["vec_id"], r["embedding"])
        for r in emb.filter(F.col("vec_id") < 10)
        .select("vec_id", "embedding")
        .collect()
    ]
    files_before = count_parquet_files(path)
    before = sorted(
        map(tuple, probe_persisted_index(spark, path, queries, k=5).collect())
    )
    compact_index(spark, path)
    after = sorted(
        map(tuple, probe_persisted_index(spark, path, queries, k=5).collect())
    )
    files_after = count_parquet_files(path)

    assert before == after and before
    assert files_after < files_before, (files_after, files_before)
    assert np.array_equal(load_centroids(spark, path), centroids)
    for cell_dir in _glob.glob(f"{path}/cell=*"):
        files = [f for f in _os.listdir(cell_dir) if f.endswith(".parquet")]
        assert len(files) == 1, (cell_dir, files)
