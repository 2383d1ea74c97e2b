"""Fixture catalog: schema-aware loaders for the driver's parquet tables.

The reference loads its "catalog" (dimension lists + endpoint map) from a
JSON config file (``/root/reference/app.py:28-33``, ``config.json:1-24``).
Here the catalog is the driver's TPC-H-ish parquet star schema
(TESTDATA.md); this module is the single place that knows about its
physical quirks so every operator builder sees clean, typed DataFrames.

Physical quirk handled here: ``events.parquet`` stores ``ts`` as parquet
``TIMESTAMP(NANOS)``, which Spark's vectorized reader rejects
(PARQUET_TYPE_ILLEGAL). We read it via the supported
``spark.sql.legacy.parquet.nanosAsLong`` path and convert to
``timestamp_ntz`` at microsecond precision — exactly what DuckDB's
``CAST(ts AS TIMESTAMP)`` yields, so oracle comparisons line up.
"""

from __future__ import annotations

import glob
import os
from contextlib import contextmanager as _contextmanager

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

# The driver's correctness runs (and scripts/minidriver.py) execute at
# this fixture directory. "golden-sf0.01"-tagged oracles embed values or
# paths computed from it, so every consumer derives from this ONE
# constant — a relocated fixture then breaks loudly in one place instead
# of silently comparing two different directories.
GOLDEN_SF_DIR = "/root/testdata/sf0.01"

# Runtime SQL confs every builder needs regardless of who constructed the
# SparkSession (the driver passes its own session into queries()).
_RUNTIME_CONF = {
    "spark.sql.session.timeZone": "UTC",
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    # Arrow for pandas<->Spark interchange: a driver-local
    # createDataFrame(pandas) is one Arrow batch instead of a
    # Python-RDD pickle pipeline (measured 5 s -> 0.2 s writing the
    # 10-row centroid table); also the transfer path every
    # mapInPandas/applyInPandas kernel already assumes.
    "spark.sql.execution.arrow.pyspark.enabled": "true",
}

_DEFAULT_SPLIT_BYTES = 128 * 1024 * 1024
_MIN_SPLIT_BYTES = 1024 * 1024


def _split_bytes_for(spark: SparkSession, sf_dir: str) -> int:
    """Pick ``spark.sql.files.maxPartitionBytes`` from OBSERVED input size.

    Small fixtures (single 1-11 MB parquet files) scan as ONE task at the
    128 MB default and the whole read+decode serializes onto one core; at
    production scale (multi-GB files, thousands of files) 128 MB is
    correct. Rather than hard-coding either constant, size splits so the
    LARGEST table fans out to ~2 tasks per core, clamped to
    [1 MB, 128 MB]: sf0.1 lands at 1 MB (measured 1.3-1.8× on scan-bound
    queries), anything >= ~8 GB lands back on the stock 128 MB.
    Non-local paths (s3a://, hdfs://) can't be stat'ed here and keep the
    default."""
    try:
        sizes = [
            os.path.getsize(p)
            for p in glob.glob(os.path.join(sf_dir, "*.parquet"))
        ]
    except OSError:
        return _DEFAULT_SPLIT_BYTES
    if not sizes:
        return _DEFAULT_SPLIT_BYTES
    want_tasks = max(2 * spark.sparkContext.defaultParallelism, 2)
    per_task = max(sizes) // want_tasks
    return int(min(_DEFAULT_SPLIT_BYTES, max(_MIN_SPLIT_BYTES, per_task)))


def prepare(spark: SparkSession, sf_dir: str | None = None) -> SparkSession:
    """Pin runtime confs that correctness/performance depend on."""
    for k, v in _RUNTIME_CONF.items():
        try:
            spark.conf.set(k, v)
        except Exception:  # pragma: no cover - immutable conf on some builds
            pass
    if sf_dir is not None:
        try:
            spark.conf.set(
                "spark.sql.files.maxPartitionBytes",
                str(_split_bytes_for(spark, sf_dir)),
            )
        except Exception:  # pragma: no cover
            pass
    return spark


def spread(df: DataFrame, spark: SparkSession) -> DataFrame:
    """Round-robin repartition a narrow input ONLY when the scan produced
    fewer splits than cores.

    CPU-heavy per-row derivations (shingling, fingerprinting, dot
    products) over a single small file otherwise run as one task. At
    scale the scan already yields thousands of splits and an unconditional
    ``repartition(defaultParallelism)`` would be a pure-cost full shuffle
    of raw text — so the shuffle is gated on the observed partition
    count."""
    want = spark.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() >= want:
        return df
    return df.repartition(want)


_DENSE_TASK_BYTES = 256 * 1024


def spread_dense(
    df: DataFrame, spark: SparkSession, sf_dir: str, table: str = "embeddings"
) -> DataFrame:
    """Partition a DENSE numeric table for Arrow/numpy kernel passes,
    sized by OBSERVED bytes — not cores.

    Vectorized kernels (BLAS matmul, argmax) chew through megabytes per
    millisecond; the per-task cost is the Python worker fork + Arrow
    round trip (a warm one-task mapInPandas job over 500 rows takes
    0.18-0.30 s with workers forked from the preloaded daemon, a plain
    SQL job 0.12-0.18 s, at local[2]). Spreading a sub-MB embedding
    table across all cores therefore pays 32 forks per pass to
    parallelize microseconds of math — measured 6.3 s → 2.6 s on the
    IVF build at sf0.1 (then five corpus passes: seed, three k-means
    iterations, probe) by sizing tasks at ~256 KB of parquet instead.
    Inputs big enough to want ≥ cores tasks keep the scan
    layout (``spread`` gate): at real scale the scan yields thousands
    of splits and this function never reduces them."""
    want = spark.sparkContext.defaultParallelism
    try:
        size = os.path.getsize(os.path.join(sf_dir, f"{table}.parquet"))
        by_bytes = max(2, -(-size // _DENSE_TASK_BYTES))
        if by_bytes < want:
            return df.repartition(int(by_bytes))
    except OSError:  # non-local path (s3a://, hdfs://): keep scan layout
        pass
    return spread(df, spark)


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load one fixture table with engine-canonical types. The schema
    is pinned from the file's footer (``footers.read_data_files``), so
    the load runs no schema-inference job; a footer the pin cannot
    answer (e.g. a nanosecond ``ts``, read as long under
    ``nanosAsLong``) keeps Spark's inference."""
    from aws_seismic_data_pipeline_spark.sources.footers import (
        read_data_files,
    )

    prepare(spark, sf_dir)
    df = read_data_files(spark, [f"{sf_dir}/{name}.parquet"])
    if name == "events" and dict(df.dtypes).get("ts") == "bigint":
        # nanos → micros, truncating exactly like DuckDB's TIMESTAMP cast.
        df = df.withColumn(
            "ts", F.expr("cast(timestamp_micros(ts div 1000) as timestamp_ntz)")
        )
    return df


def load_tables(spark: SparkSession, sf_dir: str, *names: str) -> dict[str, DataFrame]:
    names = names or TABLES
    return {n: load_table(spark, sf_dir, n) for n in names}


def scratch_path(spark: SparkSession, sf_dir: str, prefix: str) -> str:
    """Temp sink path keyed by (SF tag, application id): concurrent
    harness runs at the same SF can never clobber each other's files
    mid-scan, and within one session the path is stable so repeated
    bench trials rebuild in place."""
    import tempfile

    tag = os.path.basename(sf_dir.rstrip("/")) or "default"
    return os.path.join(
        tempfile.gettempdir(),
        f"{prefix}_{tag}_{spark.sparkContext.applicationId}",
    )


@_contextmanager
def scratch_cleanup(*paths: str):
    """Context manager removing every given dir on exit — success OR
    failure, so crashed queries can't leak uuid-/app-id-keyed state
    under /tmp. The shared lifecycle for every operator that stages a
    temp sink (layout writes, corpus indexes, streaming targets +
    checkpoints); results must be materialized (localCheckpoint) before
    the block exits."""
    import shutil

    try:
        yield
    finally:
        for p in paths:
            shutil.rmtree(p, ignore_errors=True)


def compact_parquet_dir(
    spark: SparkSession,
    path: str,
    partition_by: str | None = None,
    distinct: bool = False,
    keep: tuple[str, ...] = (),
) -> None:
    """Compact a parquet directory that incremental appends have
    fragmented: read it back, optionally ``distinct`` the rows
    (set-semantics tables where re-appends may duplicate), rewrite with
    one shuffle — ``repartition(partition_by)`` so each partition value
    lands in exactly one task and therefore ONE file per directory —
    and atomically swap the rewrite into place (rename old aside, tmp
    in, drop old; readers opening mid-swap see a complete tree either
    way). ``keep`` names underscore-hidden subdirs (e.g. the IVF
    quantizer) carried over verbatim. This is ``plan_compaction_bins``'s
    maintenance action applied to the engine's own persisted artifacts
    (corpus dedup index, IVF index, stats manifest): thousands of
    batch-sized appends each leave a tiny file, and without this
    rewrite the probe-side file listing — not the data — becomes the
    scale bottleneck. Cost is one read+write of the ARTIFACT (metadata-
    scale for manifests, index-scale for indexes), never of the corpus."""
    import shutil

    df = spark.read.parquet(path)
    if distinct:
        df = df.distinct()
    tmp = path + ".compacting"
    shutil.rmtree(tmp, ignore_errors=True)
    if partition_by:
        df.repartition(partition_by).write.partitionBy(partition_by).mode(
            "overwrite"
        ).parquet(tmp)
    else:
        df.coalesce(1).write.mode("overwrite").parquet(tmp)
    for sub in keep:
        src = os.path.join(path, sub)
        if os.path.isdir(src):
            shutil.copytree(src, os.path.join(tmp, sub))
    bak = path + ".pre-compact"
    shutil.rmtree(bak, ignore_errors=True)
    os.rename(path, bak)
    os.rename(tmp, path)
    shutil.rmtree(bak, ignore_errors=True)


def count_parquet_files(path: str) -> int:
    """Data-file count under a (possibly partitioned) parquet dir —
    the quantity compaction exists to bound."""
    n = 0
    for root, dirs, files in os.walk(path):
        dirs[:] = [d for d in dirs if not d.startswith((".", "_"))]
        n += sum(1 for f in files if f.endswith(".parquet"))
    return n
