"""Catalog-resident sketch manifests: per-file KMV NDV sketches
(Puffin-style) and Bloom-filter manifests for point-lookup file
skipping. Split out of ``sources/readers.py`` in round 11.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from aws_seismic_data_pipeline_spark.catalog import load_table, prepare
from aws_seismic_data_pipeline_spark.registry import register
from aws_seismic_data_pipeline_spark.sources.footers import (
    _decode_input_file,
    rangekey_write,
    read_data_files,
    read_footer_stats_multi,
)
from aws_seismic_data_pipeline_spark.sources.table.commit import Transaction
from aws_seismic_data_pipeline_spark.sources.table.manifest import (
    _visible_stats,
)


#: universal-hash constants for the k=5 bloom probes:
#: pos_j(x) = ((a_j * x + b_j) mod P) mod m with P = 2^31 - 1 and
#: a_j < 2^28, so a_j * (x mod P) < 2^59 — no int64 overflow (the same
#: overflow-safe construction as llm/dedup.py's MinHash constants). The
#: key enters as pmod(xxhash64(CAST(key AS STRING)), P): casting to
#: STRING first makes the filter layout-proof against integer width
#: (int32 column vs BIGINT literal hash differently under Spark's typed
#: hash functions), and xxhash64 is the same stable hash Spark's
#: bucketing contract relies on, so a filter built by one Spark version
#: probes correctly under another.
_BLOOM_P = 2_147_483_647


_BLOOM_A = (1299721, 15485917, 32452871, 49979699, 67868017)


_BLOOM_B = (8369347, 23879539, 39916811, 54018533, 7368791)


#: bits per key: m = next_pow2(10 * rows_per_file) with k = 5 probes
#: gives a ~1% per-key false-positive rate (a false positive costs one
#: needlessly opened file whose residual predicate drops every row —
#: never a wrong answer).
_BLOOM_BPK = 10


_BLOOM_MANIFEST_SCHEMA = (
    "path string, file_name string, column_name string, m_bits long,"
    " bloom array<bigint>, snapshot_id int, op string"
)


#: the demo point-lookup keys — dense 0-based o_orderkey, so all three
#: exist at every fixture SF (orders has >= 1500 rows at sf0.001)
_BLOOM_LOOKUP_KEYS = (101, 733, 1337)



#: KMV sketch size for the per-file NDV manifest (matches the
#: aggregate family's KMV_K so estimates are comparable)
_SKETCH_K = 64


#: 2^60 as a DOUBLE literal — division must run in double, not decimal
#: (see operators/aggregates.py agg_kmv_distinct)
_SKETCH_SCALE = 1152921504606846976.0


def write_kmv_sketch_manifest(
    spark: SparkSession,
    paths: list[str],
    sketch_dir: str,
    column: str,
    k: int = _SKETCH_K,
) -> None:
    """Per-FILE KMV distinct sketches persisted as a manifest table —
    Iceberg's Puffin NDV blobs, built Spark-first: one pass over the
    files keeps each file's K smallest portable hashes of ``column``
    (md5→60-bit→(0,1), the ``agg_kmv_distinct`` hash, so every estimate
    is a deterministic function of the data and DuckDB can recompute it
    exactly). Rows are (path, file_name, key, u) — K rows per file, KBs
    per thousand files. The payoff is :func:`sketch_merged_ndv`:
    because the global K smallest hashes are each among their own
    file's K smallest, merging ANY file subset's sketches
    (union-distinct + trim to K) yields EXACTLY the sketch a direct
    pass over those files would build — approximate NDV for the
    optimizer / dashboards from pure metadata, no data scan, over any
    pruned file selection."""
    from pyspark.sql import Window as W

    if not paths:
        raise ValueError("write_kmv_sketch_manifest: empty path list")
    hashed = (
        read_data_files(spark, paths)
        .select(
            _decode_input_file().alias("path"),
            F.col(column).cast("long").alias("key"),
        )
        .distinct()
        .withColumn(
            "u",
            F.expr(
                "cast(conv(substring(md5(cast(key as string)), 1, 15),"
                " 16, 10) as bigint)"
            )
            / F.lit(_SKETCH_SCALE),
        )
    )
    w = W.partitionBy("path").orderBy("u", "key")
    (
        hashed.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= k)
        .select(
            "path",
            F.element_at(F.split("path", "/"), -1).alias("file_name"),
            F.lit(column).alias("column_name"),
            "key",
            "u",
        )
        .write.mode("overwrite")
        .parquet(sketch_dir)
    )


def sketch_merged_ndv(
    spark: SparkSession,
    sketch_dir: str,
    paths: list[str] | None = None,
    k: int = _SKETCH_K,
) -> DataFrame:
    """Merge the (optionally path-restricted) per-file KMV sketches and
    estimate distinct count: union-distinct the kept keys, take the K
    smallest hashes (a global top-K — ``TakeOrdered``, never a
    single-partition window), estimate (K-1)/u_K, or the exact kept
    count when fewer than K survive. Returns a 1-row frame
    (sketch_size, kmv_estimate). Metadata-scale end to end: the input
    is ≤ K×|files| sketch rows."""
    rows = spark.read.parquet(sketch_dir)
    if paths is not None:
        rows = rows.filter(F.col("path").isin(list(paths)))
    merged = (
        rows.select("key", "u").distinct().orderBy("u", "key").limit(int(k))
    )
    return merged.agg(
        F.count(F.lit(1)).cast("long").alias("sketch_size"),
        F.when(
            F.count(F.lit(1)) < int(k),
            F.count(F.lit(1)).cast("double"),
        )
        .otherwise(F.lit(float(k) - 1.0) / F.max("u"))
        .alias("kmv_estimate"),
    )


@register(
    "scan_manifest_sketch_ndv",
    oracle=f"""
        WITH hashed AS (
            SELECT DISTINCT o_custkey,
                   CAST(('0x' || substring(md5(CAST(o_custkey AS VARCHAR)), 1, 15))
                        AS BIGINT) / 1152921504606846976.0 AS u
            FROM orders
        ),
        merged AS (
            SELECT u FROM (
                SELECT u, ROW_NUMBER() OVER (ORDER BY u, o_custkey) AS rn
                FROM hashed
            ) WHERE rn <= {_SKETCH_K}
        )
        SELECT (SELECT CAST(COUNT(DISTINCT o_custkey) AS BIGINT) FROM orders)
                   AS n_exact,
               (SELECT CAST(COUNT(*) AS BIGINT) FROM merged) AS sketch_size,
               CASE WHEN (SELECT COUNT(*) FROM merged) < {_SKETCH_K}
                    THEN (SELECT CAST(COUNT(*) AS DOUBLE) FROM merged)
                    ELSE ({_SKETCH_K} - 1.0) / (SELECT MAX(u) FROM merged)
               END AS kmv_estimate
    """,
    tags=("source", "layout", "sketch"),
)
def scan_manifest_sketch_ndv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NDV statistics FROM METADATA — the Puffin-sketch lifecycle end
    to end: orders land range-clustered, a per-file KMV sketch manifest
    is built beside the stats manifest, and the table's approximate
    distinct-customer count is answered by MERGING the per-file
    sketches — no data page is read at estimate time (the number a
    CBO's ndv() consults, kept fresh per file exactly like min/max
    stats). The portable md5 hash makes the merged estimate a
    deterministic function of the data, so the DuckDB oracle recomputes
    it EXACTLY — no tolerance band; the driver hash also pins that
    merging per-file sketches equals the direct whole-table sketch (the
    k-min subset property). Band-scoped merges (estimate NDV over just
    the stats-pruned file subset) are pytest-pinned merged==direct in
    tests/test_catalog_scale.py. Seed: the reference's only statistic
    is an object COUNT on a prefix listing
    (``/root/reference/upload_to_rfs.py:16-35``); a governed table
    keeps mergeable per-file sketches instead."""
    import glob as _glob

    from aws_seismic_data_pipeline_spark.catalog import (
        scratch_cleanup,
        scratch_path,
    )

    prepare(spark)
    path = scratch_path(spark, sf_dir, "sketch_ndv_data")
    sdir = scratch_path(spark, sf_dir, "sketch_ndv_manifest")
    with scratch_cleanup(path, sdir):
        rangekey_write(spark, sf_dir, path)
        files = sorted(_glob.glob(os.path.join(path, "*.parquet")))
        write_kmv_sketch_manifest(spark, files, sdir, "o_custkey")
        est = sketch_merged_ndv(spark, sdir)
        exact = load_table(spark, sf_dir, "orders").agg(
            F.countDistinct("o_custkey").cast("long").alias("n_exact")
        )
        return (
            exact.crossJoin(F.broadcast(est))
            .select("n_exact", "sketch_size", "kmv_estimate")
            .localCheckpoint(eager=True)
        )


def _bloom_key_sql(key_sql: str) -> str:
    """The normalized 31-bit key a bloom position derives from."""
    return f"pmod(xxhash64(CAST({key_sql} AS STRING)), {_BLOOM_P})"


def _bloom_pos_sql(key_sql: str, m_sql: str) -> list[str]:
    """The k bit-position SQL expressions for ``key_sql`` under an
    ``m_sql``-bit filter (both may reference columns)."""
    x = _bloom_key_sql(key_sql)
    return [
        f"(pmod({a} * {x} + {b}, {_BLOOM_P}) % {m_sql})"
        for a, b in zip(_BLOOM_A, _BLOOM_B)
    ]


def build_bloom_manifest(
    spark: SparkSession,
    paths: list[str],
    bloom_dir: str,
    column: str,
    bits_per_key: int = _BLOOM_BPK,
    mode: str = "overwrite",
    snapshot_id: int = 0,
) -> int:
    """Build one Bloom filter PER DATA FILE over ``column`` and persist
    them as a manifest table beside the data. Entirely JVM-side and
    shuffle-light: one scan of the key column, each key exploded into
    its k (word, bit-mask) contributions, ``bit_or`` partial-aggregated
    into per-(file, word) words map-side, then assembled into a dense
    ``array<bigint>`` of m/64 words per file. The filter is sized from
    the parquet FOOTER row counts (metadata-only — no data read), so m
    tracks the table's actual file sizing; each manifest row carries its
    own ``m_bits``, letting appends size independently as files grow.
    Returns m_bits. Files whose every row is NULL-keyed carry an
    all-zero bloom (via the densify filler below) — which correctly
    prunes every point lookup, since no lookup can match NULL.

    FP economics, MEASURED at sf0.1 (16 hash-clustered files, ~9 375
    rows each, m=131 072 after pow2 rounding → ~14 effective bits/key):
    320 000 absent-key×file trials produced 819 false positives
    (0.256%) vs the analytic (1-e^{-k·n/m})^k = 0.248% — ratio 1.03,
    i.e. the affine double-hash family loses nothing to ideal random
    hashing. At 100 TB the same sizing gives the same per-file rate
    (it depends only on n/m, which the footer-count sizing holds
    constant), so a 10 000-file table opens ~26 spurious files per
    1 000 point probes. Pinned two-sided (0.25x-2x analytic, plus
    zero false negatives) in tests/test_catalog_scale.py.

    Seed: the reference prunes its object listing by date-prefix string
    match (``/root/reference/app.py:449-463``) — the degenerate bloom
    where the key IS the file name; this generalizes to any column."""
    import math as _math

    if not paths:
        raise ValueError("build_bloom_manifest: empty path list")
    max_rows = (
        read_footer_stats_multi(spark, paths, (column,))
        .groupBy("path")
        .agg(F.sum("n_rows").alias("n"))
        .agg(F.max("n"))
        .collect()[0][0]
    ) or 1
    m_bits = max(1024, 1 << _math.ceil(_math.log2(bits_per_key * max_rows)))
    n_words = m_bits // 64
    rows = (
        read_data_files(spark, paths)
        .select(
            _decode_input_file().alias("path"),
            F.col(column).alias("k"),
        )
        .filter(F.col("k").isNotNull())
    )
    structs = ", ".join(
        f"named_struct('word', CAST({pos} DIV 64 AS BIGINT),"
        f" 'mask', shiftleft(CAST(1 AS BIGINT), CAST({pos} % 64 AS INT)))"
        for pos in _bloom_pos_sql("k", str(m_bits))
    )
    contrib = rows.selectExpr(
        "path", f"explode(array({structs})) AS c"
    ).select("path", "c.word", "c.mask")
    # densify via a zero-word filler + sort, NOT a map probe: the first
    # landing built map<word,bits> per file and filled the dense array
    # with transform(sequence(0, n_words-1), w -> wm[w]) — but Spark's
    # GetMapValue is a LINEAR scan, so that was O(n_words^2) interpreted
    # lookups per file (measured 3.7 s of the sf0.1 build; this form is
    # 0.7 s, output bit-identical). Union one zero row per (file, word),
    # bit_or them with the real contributions, and the sorted entry list
    # IS the dense array.
    import pandas as _pd

    filler = (
        spark.createDataFrame(
            _pd.DataFrame({"path": sorted(paths)}), "path string"
        )
        .select(
            "path",
            F.explode(F.sequence(F.lit(0), F.lit(n_words - 1))).alias("w"),
        )
        .select(
            "path",
            F.col("w").cast("long").alias("word"),
            F.lit(0).cast("long").alias("mask"),
        )
    )
    words = (
        contrib.unionByName(filler)
        .groupBy("path", "word")
        .agg(F.expr("bit_or(mask)").alias("bits"))
    )
    (
        words.groupBy("path")
        .agg(
            F.expr(
                "transform(sort_array(collect_list(struct(word, bits))),"
                " e -> e.bits)"
            ).alias("bloom")
        )
        .select(
            "path",
            F.element_at(F.split("path", "/"), -1).alias("file_name"),
            F.lit(column).alias("column_name"),
            F.lit(m_bits).cast("long").alias("m_bits"),
            "bloom",
            F.lit(int(snapshot_id)).cast("int").alias("snapshot_id"),
            F.lit("add").alias("op"),
        )
        .write.mode(mode)
        .parquet(bloom_dir)
    )
    return m_bits


def append_bloom_manifest(
    spark: SparkSession,
    new_paths: list[str],
    bloom_dir: str,
    column: str,
    bits_per_key: int = _BLOOM_BPK,
) -> int:
    """Incremental bloom-manifest maintenance: filter ONLY the newly
    landed files and append their rows — ingest-batch cost, mirroring
    ``append_stats_manifest``. The append sizes its own m_bits from the
    new files' footer counts (each row carries m_bits, so probes mix
    generations freely). Tombstones via ``remove_from_manifest`` and
    time travel via the shared snapshot axis both apply unchanged.
    The Spark append is the publish of a :class:`commit.Transaction`
    on ``bloom_dir``, run after its lease check. Returns the snapshot
    id written."""
    with Transaction(spark, bloom_dir) as txn:
        return txn.publish(
            lambda snap: build_bloom_manifest(
                spark,
                new_paths,
                bloom_dir,
                column,
                bits_per_key=bits_per_key,
                mode="append",
                snapshot_id=snap,
            )
        )


def bloom_pruned_scan(
    spark: SparkSession,
    bloom_dir: str,
    column: str,
    keys: list,
    as_of: int | None = None,
) -> DataFrame:
    """Answer a point-lookup (``column IN keys``) through the persisted
    bloom manifest: evaluate the k bit tests per key AGAINST THE
    MANIFEST ROWS (a metadata-scale filter — the key's positions are
    constant-folded, each row checks k words of its own filter), collect
    only the candidate path list, and scan just those files with the
    residual IN-predicate pushed down. No false negatives by
    construction; a false positive opens one extra file whose rows the
    residual drops. ``as_of`` time-travels on the shared snapshot axis
    exactly like ``manifest_pruned_scan``."""
    from functools import reduce as _reduce
    from operator import and_ as _and, or_ as _or

    if not keys:
        raise ValueError("bloom_pruned_scan: empty key list")
    man = _visible_stats(spark.read.parquet(bloom_dir), as_of).filter(
        F.col("column_name") == column
    )

    def _lit_sql(v) -> str:
        if isinstance(v, bool) or not isinstance(v, (int, str)):
            raise TypeError(f"bloom keys must be int or str, got {type(v)}")
        return (
            str(v)
            if isinstance(v, int)
            else "'" + v.replace("'", "''") + "'"
        )

    def _key_hits(v):
        tests = [
            F.expr(
                f"(bloom[CAST({pos} DIV 64 AS INT)]"
                f" & shiftleft(CAST(1 AS BIGINT), CAST({pos} % 64 AS INT)))"
                " <> 0"
            )
            for pos in _bloom_pos_sql(_lit_sql(v), "m_bits")
        ]
        return _reduce(_and, tests)

    cond = _reduce(_or, (_key_hits(v) for v in keys))
    matching = [
        r.path for r in man.filter(cond).select("path").distinct().collect()
    ]
    if not matching:
        any_path = man.select("path").limit(1).collect()
        if not any_path:
            raise ValueError(f"empty bloom manifest at {bloom_dir}")
        return read_data_files(spark, [any_path[0].path]).filter(F.lit(False))
    return read_data_files(spark, matching).filter(
        F.col(column).isin(list(keys))
    )


@register(
    "scan_manifest_bloom",
    oracle=f"""
        SELECT o_orderkey, o_custkey, o_orderstatus,
               CAST(ROUND(o_totalprice * 100) AS BIGINT) AS total_cents
        FROM orders
        WHERE o_orderkey IN {_BLOOM_LOOKUP_KEYS}
    """,
    tags=("source", "layout", "scan"),
)
def scan_manifest_bloom(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point-lookup file skipping through the persisted BLOOM manifest —
    the equality-predicate complement of ``scan_manifest_pruned``: land
    orders HASH-clustered by o_custkey (so every file's o_orderkey
    min/max spans ~the whole key space and stats-based skipping is
    useless), build per-file bloom filters for most files, APPEND the
    late-landing rest (``append_bloom_manifest`` — the ingest path),
    then answer a 3-key IN lookup opening only candidate files. The
    oracle recomputes the lookup from the raw table, so the driver
    hash-checks that bloom skipping loses no rows across the append;
    the candidate-file drop and false-positive bound are pinned in
    tests/test_catalog_scale.py. At 100 TB this is 'fetch these doc ids
    from the corpus' without a 100 TB scan."""
    import glob as _glob

    from aws_seismic_data_pipeline_spark.catalog import (
        scratch_cleanup,
        scratch_path,
    )

    prepare(spark)
    path = scratch_path(spark, sf_dir, "hashlayout_bloom")
    bpath = scratch_path(spark, sf_dir, "bloom_manifest")
    with scratch_cleanup(path, bpath):
        load_table(spark, sf_dir, "orders").repartition(
            16, "o_custkey"
        ).write.mode("overwrite").parquet(path)
        files = sorted(_glob.glob(os.path.join(path, "*.parquet")))
        build_bloom_manifest(spark, files[:12], bpath, "o_orderkey")
        if files[12:]:
            append_bloom_manifest(spark, files[12:], bpath, "o_orderkey")
        return (
            bloom_pruned_scan(
                spark, bpath, "o_orderkey", list(_BLOOM_LOOKUP_KEYS)
            )
            .select(
                "o_orderkey",
                "o_custkey",
                "o_orderstatus",
                F.round(F.col("o_totalprice") * 100, 0)
                .cast("long")
                .alias("total_cents"),
            )
            .localCheckpoint(eager=True)
        )
