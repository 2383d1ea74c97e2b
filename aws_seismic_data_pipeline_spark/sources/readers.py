"""Sources & sinks (SURVEY.md §2B scans/sinks).

Seeds: JSON catalog load (``/root/reference/app.py:28-33``,
``config.json:1-24``), paginated S3 object listing
(``upload_to_rfs.py:16-35``), date-partitioned S3 key layout
(``app.py:449-463``), ensure-bucket-exists DDL (``app.py:530-553``).
"""

from __future__ import annotations

import json
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from aws_seismic_data_pipeline_spark.catalog import (
    GOLDEN_SF_DIR,
    load_table,
    prepare,
)
from aws_seismic_data_pipeline_spark.registry import register
from aws_seismic_data_pipeline_spark.sources.footers import (  # noqa: F401
    _RG_PRUNE_RANGE,
    _decode_input_file,
    rangekey_write,
    read_footer_stats,
    read_footer_stats_multi,
)

_TMP_DIR = os.path.join(os.path.dirname(os.path.dirname(os.path.dirname(__file__))), "_tmp")


def _sink_path(name: str, sf_dir: str) -> str:
    """Sink path keyed by the sf fixture tag so interleaved runs at
    different scale factors never clobber each other between a query's
    eager write and its lazy read-back."""
    tag = os.path.basename(sf_dir.rstrip("/")) or "default"
    return os.path.join(_TMP_DIR, f"{name}_{tag}")

# The station catalog the reference keeps in config.json:2-18, as data.
STATION_CATALOG = [
    {"network": "OX", "station": "NYM8", "location": "00", "channel": "HHZ",
     "sensor_ip": "10.144.0.10:8080"},
    {"network": "OX", "station": "NYM8", "location": "00", "channel": "HHN",
     "sensor_ip": "10.144.0.10:8080"},
    {"network": "OX", "station": "NYM8", "location": "00", "channel": "HHE",
     "sensor_ip": "10.144.0.10:8080"},
    {"network": "OX", "station": "CONW", "location": "00", "channel": "HHZ",
     "sensor_ip": "10.144.0.11:8080"},
    {"network": "OX", "station": "CONW", "location": "00", "channel": "HHN",
     "sensor_ip": None},
    {"network": "OX", "station": "DRUM", "location": "01", "channel": "HHZ",
     "sensor_ip": "10.144.0.12:8080"},
]

CATALOG_SCHEMA = T.StructType(
    [
        T.StructField("network", T.StringType(), False),
        T.StructField("station", T.StringType(), False),
        T.StructField("location", T.StringType(), False),
        T.StructField("channel", T.StringType(), False),
        T.StructField("sensor_ip", T.StringType(), True),
    ]
)


def write_catalog_json(path: str | None = None) -> str:
    """Materialize the station catalog as JSON-lines (deterministic)."""
    path = path or os.path.join(_TMP_DIR, "station_catalog.json")
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path, "w") as f:
        for row in STATION_CATALOG:
            f.write(json.dumps(row, sort_keys=True) + "\n")
    return path


@register(
    "scan_json_catalog",
    oracle="""
        SELECT network, station, location, channel, sensor_ip,
               CONCAT(network, '.', station, '.', location, '.', channel) AS seed_id,
               (sensor_ip IS NOT NULL) AS reachable
        FROM (
            VALUES
            ('OX', 'NYM8', '00', 'HHZ', '10.144.0.10:8080'),
            ('OX', 'NYM8', '00', 'HHN', '10.144.0.10:8080'),
            ('OX', 'NYM8', '00', 'HHE', '10.144.0.10:8080'),
            ('OX', 'CONW', '00', 'HHZ', '10.144.0.11:8080'),
            ('OX', 'CONW', '00', 'HHN', CAST(NULL AS VARCHAR)),
            ('OX', 'DRUM', '01', 'HHZ', '10.144.0.12:8080')
        ) AS t(network, station, location, channel, sensor_ip)
    """,
    tags=("source",),
)
def scan_json_catalog(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema-on-read JSON catalog scan (seed R1): the reference's
    config.json dimension lists as an explicit-schema ``read.json``,
    with the SEED id projection (app.py:206) and reachability flag
    (app.py:239-241) computed declaratively."""
    prepare(spark)
    path = write_catalog_json()
    df = spark.read.schema(CATALOG_SCHEMA).json(path)
    return df.select(
        "network",
        "station",
        "location",
        "channel",
        "sensor_ip",
        F.concat_ws(".", "network", "station", "location", "channel").alias("seed_id"),
        F.col("sensor_ip").isNotNull().alias("reachable"),
    )


@register(
    "scan_binary_files",
    oracle=f"""
        SELECT regexp_extract(filename, '[^/]+$') AS file_name,
               CAST(size AS BIGINT) AS n_bytes,
               CAST(octet_length(content) AS BIGINT) AS content_len,
               substring(hex(content), 1, 32) AS head_hex
        FROM read_blob('{GOLDEN_SF_DIR}/*.parquet')
    """,
    tags=("source", "golden-sf0.01"),
)
def scan_binary_files(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Opaque-blob ingest (seed R13/R25): distributed file listing with
    path/size/content, the Spark-native replacement for the reference's
    paginated list_objects_v2 loop (upload_to_rfs.py:16-35). The
    miniSEED analog: files are opaque bytes + a path that parses into
    metadata.

    Oracle (new in r4 — was rows-only): DuckDB ``read_blob`` lists the
    same files; size, byte length, and a 16-byte content prefix (hex)
    prove both engines read identical bytes. The driver's correctness
    run is pinned at sf0.01, hence the literal path (views can't cover
    a file listing); DuckDB has no blob md5, so the prefix replaces the
    earlier md5 column."""
    prepare(spark)
    df = (
        spark.read.format("binaryFile")
        .option("pathGlobFilter", "*.parquet")
        .load(sf_dir)
    )
    return df.select(
        F.element_at(F.split("path", "/"), -1).alias("file_name"),
        F.col("length").alias("n_bytes"),
        F.length("content").cast("long").alias("content_len"),
        F.hex(F.substring("content", 1, 16)).alias("head_hex"),
    ).orderBy("file_name")


@register(
    "scan_csv_roundtrip",
    oracle="""
        SELECT r_regionkey, r_name, CAST(strlen(r_name) AS BIGINT) AS name_len
        FROM region
    """,
    tags=("source", "sink"),
)
def scan_csv_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CSV sink + schema'd CSV scan (text interchange format support):
    write region as headered CSV, read it back with an explicit schema
    (never inferSchema at scale — one extra full pass), project. Quotes/
    escapes handled by the writer; the oracle reads the parquet
    original, proving the round trip is lossless."""
    prepare(spark)
    sink = _sink_path("region_csv", sf_dir)
    region = load_table(spark, sf_dir, "region")
    region.write.mode("overwrite").option("header", True).csv(sink)
    # explicit schema = the parquet original's (no inferSchema pass)
    back = spark.read.schema(region.schema).option("header", True).csv(sink)
    return back.select(
        "r_regionkey",
        "r_name",
        F.length("r_name").cast("long").alias("name_len"),
    )


@register(
    "sink_ensure_exists",
    oracle="""
        SELECT n_regionkey,
               CAST(COUNT(*) AS BIGINT) AS n_nations
        FROM nation
        GROUP BY n_regionkey
    """,
    tags=("sink", "ddl"),
)
def sink_ensure_exists(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Idempotent-create sink (seed R20: head_bucket → create_bucket on
    404, app.py:530-553). The engine form: ``CREATE TABLE IF NOT
    EXISTS`` + append-mode write, both no-ops when the target exists —
    run twice to prove idempotency, then read back the (single) copy.
    Replaces the reference's probe-then-create race with a catalog
    transaction."""
    prepare(spark)
    sink = _sink_path("sink_ensure_nation", sf_dir)
    nation = load_table(spark, sf_dir, "nation").select("n_nationkey", "n_regionkey")
    # overwrite once to reset, then two idempotent ensure-exists appends
    nation.limit(0).write.mode("overwrite").parquet(sink)
    nation.write.mode("append").parquet(sink)
    spark.read.parquet(sink)  # exists-probe: raises if create failed
    back = spark.read.parquet(sink)
    return back.groupBy("n_regionkey").agg(F.count(F.lit(1)).alias("n_nations"))


@register(
    "sink_partitioned_parquet",
    oracle="""
        SELECT CAST(EXTRACT(year FROM o_orderdate) AS INTEGER) AS order_year,
               CAST(COUNT(*) AS BIGINT) AS n_orders,
               ROUND(SUM(o_totalprice), 2) AS total_value
        FROM orders
        GROUP BY 1
    """,
    tags=("sink",),
)
def sink_partitioned_parquet(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Partitioned-sink round trip (seeds R17/R19/R20): write orders
    partitioned by year — the engine form of the reference's
    ``YYYYMMDD/`` S3 prefixes (app.py:449-463) — then read back relying
    on partition discovery and aggregate per partition. The read-back
    plan prunes partitions on the partition column; the write uses
    Spark's commit protocol, replacing upload-then-delete (app.py:
    461-488) with atomic task commits."""
    prepare(spark)
    sink = _sink_path("sink_orders_by_year", sf_dir)
    orders = load_table(spark, sf_dir, "orders").withColumn(
        "order_year", F.year("o_orderdate")
    )
    orders.write.mode("overwrite").partitionBy("order_year").parquet(sink)
    back = spark.read.parquet(sink)
    return back.groupBy(F.col("order_year").cast("int").alias("order_year")).agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.round(F.sum("o_totalprice"), 2).alias("total_value"),
    )


@register(
    "scan_partition_pruned",
    oracle="""
        SELECT event_type,
               CAST(COUNT(*) AS BIGINT) AS n_events,
               ROUND(SUM(value), 4) AS total_value
        FROM events
        WHERE CAST(ts AS TIMESTAMP) >= TIMESTAMP '2024-01-10 00:00:00'
          AND CAST(ts AS TIMESTAMP) < TIMESTAMP '2024-01-13 00:00:00'
        GROUP BY event_type
    """,
    tags=("scan", "pruning"),
)
def scan_partition_pruned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Partition-pruned scan: events written Hive-partitioned by day
    (the engine form of the reference's ``YYYYMMDD/`` key prefixes,
    app.py:449-456), then read with a partition predicate.

    The read plan lists only 3 of ~30 day directories — Catalyst's
    PruneFileSourcePartitions turns the filter into directory-level
    pruning (PartitionFilters in .explain, asserted in
    tests/test_plans.py). At 100 TB this is THE difference between
    scanning 100 TB and scanning 10 GB: date predicates never touch
    non-matching files' footers, let alone their bytes."""
    prepare(spark)
    sink = _sink_path("events_by_day", sf_dir)
    marker = os.path.join(sink, "_SUCCESS")
    if not os.path.exists(marker):
        ev = load_table(spark, sf_dir, "events").withColumn(
            "event_day", F.to_date("ts")
        )
        ev.write.mode("overwrite").partitionBy("event_day").parquet(sink)
    back = spark.read.parquet(sink)
    return (
        back.filter(
            (F.col("event_day") >= F.lit("2024-01-10"))
            & (F.col("event_day") < F.lit("2024-01-13"))
        )
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 4).alias("total_value"),
        )
    )


@register(
    "scan_orc_roundtrip",
    oracle="""
        SELECT n_nationkey, n_name, n_regionkey,
               CAST(strlen(n_name) AS INTEGER) AS name_len
        FROM nation
    """,
    tags=("source", "sink"),
)
def scan_orc_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ORC sink + scan (the second columnar interchange format after
    parquet — same vectorized reader, predicate pushdown, and column
    pruning in Spark). Write nation as ORC, read back, project; the
    oracle reads the parquet original, proving the round trip is
    lossless across formats."""
    prepare(spark)
    sink = _sink_path("nation_orc", sf_dir)
    nation = load_table(spark, sf_dir, "nation")
    nation.write.mode("overwrite").orc(sink)
    back = spark.read.orc(sink)
    return back.select(
        "n_nationkey",
        "n_name",
        "n_regionkey",
        F.length("n_name").cast("int").alias("name_len"),
    )


@register(
    "scan_jsonl_roundtrip",
    oracle="""
        SELECT o_orderkey, o_orderstatus, o_totalprice,
               CAST(o_orderdate AS TIMESTAMP) AS o_orderdate
        FROM orders
        WHERE o_totalprice > 400000.0
    """,
    tags=("source", "sink"),
)
def scan_jsonl_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON-lines sink + schema'd scan (seed R1: the reference's config
    catalog is schema-on-read JSON). Write a filtered orders slice as
    JSONL, read it back with the writer's explicit schema — never
    inferSchema at scale (a second full pass), and doubles round-trip
    exactly via shortest-representation printing."""
    prepare(spark)
    sink = _sink_path("orders_jsonl", sf_dir)
    orders = load_table(spark, sf_dir, "orders").filter(
        F.col("o_totalprice") > 400000.0
    ).select("o_orderkey", "o_orderstatus", "o_totalprice", "o_orderdate")
    orders.write.mode("overwrite").json(sink)
    back = spark.read.schema(orders.schema).json(sink)
    return back


@register(
    "scan_merge_schema",
    oracle="""
        SELECT n_nationkey,
               n_name,
               CASE WHEN n_nationkey < 13 THEN NULL
                    ELSE CAST(n_regionkey AS BIGINT) END AS n_regionkey,
               CASE WHEN n_nationkey < 13 THEN 'v1' ELSE 'v2' END AS schema_ver
        FROM nation
    """,
    tags=("source", "sink"),
)
def scan_merge_schema(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema evolution on read: two parquet generations in one table
    path — v1 wrote (n_nationkey, n_name, schema_ver), v2 added
    n_regionkey — unified by ``mergeSchema``, with v1 rows NULL in the
    added column. This is how a long-lived 100 TB table absorbs new
    columns with ZERO rewrite: old files stay as-is, the reader merges
    footers. (Spark reads each footer once at planning; production
    keeps this cheap via a metastore schema instead of inference —
    mergeSchema is the migration-window tool, not steady state.)

    Cross-engine note: the added column lands as BIGINT (Spark writes
    the long it inferred), so the oracle CASTs to match. Seed: R17/R20
    (the reference's fixed filename schema can never evolve; a real
    engine's must)."""
    prepare(spark)
    sink = _sink_path("nation_evolving", sf_dir)
    nation = load_table(spark, sf_dir, "nation")
    v1 = nation.filter(F.col("n_nationkey") < 13).select(
        "n_nationkey", "n_name", F.lit("v1").alias("schema_ver")
    )
    v2 = nation.filter(F.col("n_nationkey") >= 13).select(
        "n_nationkey",
        "n_name",
        F.col("n_regionkey").cast("long").alias("n_regionkey"),
        F.lit("v2").alias("schema_ver"),
    )
    v1.write.mode("overwrite").parquet(sink)
    v2.write.mode("append").parquet(sink)
    back = spark.read.option("mergeSchema", "true").parquet(sink)
    return back.select("n_nationkey", "n_name", "n_regionkey", "schema_ver")


@register(
    "scan_hash_sample",
    oracle="""
        WITH bucketed AS (
            SELECT doc_id, lang,
                   CAST(('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 15))
                        AS BIGINT) % 100 AS bucket
            FROM documents
        )
        SELECT doc_id, lang, bucket
        FROM bucketed
        WHERE bucket < 10
    """,
    tags=("source", "sample"),
)
def scan_hash_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic 10% sample by key hash — the reproducible way to
    subsample a 100 TB corpus. ``TABLESAMPLE``/``DataFrame.sample`` draw
    from a per-partition RNG: the sample changes with partitioning,
    reruns, and engines, which poisons train/eval splits. Hashing the
    stable key into 100 buckets (md5 → 60-bit int, the engine-portable
    hash shared with dedup_simhash) gives a sample that is (a) identical
    on every engine and every rerun, (b) independent of physical layout,
    (c) cheaply widened (bucket < 20 is a strict superset of < 10 —
    nested splits for scaling-law runs). Pushdown-friendly: the filter
    is a scan-level predicate, no shuffle at all."""
    docs = load_table(spark, sf_dir, "documents")
    bucket = (
        F.expr(
            "cast(conv(substring(md5(cast(doc_id as string)), 1, 15), 16, 10)"
            " as bigint)"
        )
        % 100
    )
    return docs.select("doc_id", "lang", bucket.alias("bucket")).filter(
        F.col("bucket") < 10
    )


@register(
    "join_dynamic_partition_pruning",
    oracle="""
        WITH years AS (
            SELECT DISTINCT CAST(EXTRACT(year FROM o_orderdate) AS INTEGER)
                       AS order_year
            FROM orders
            WHERE o_orderpriority = '1-URGENT'
              AND EXTRACT(year FROM o_orderdate) IN (1996, 1999)
        )
        SELECT o.order_year,
               CAST(COUNT(*) AS BIGINT) AS n_orders,
               ROUND(SUM(o.o_totalprice), 2) AS total_value
        FROM (
            SELECT CAST(EXTRACT(year FROM o_orderdate) AS INTEGER) AS order_year,
                   o_totalprice
            FROM orders
        ) o
        JOIN years y ON o.order_year = y.order_year
        GROUP BY o.order_year
    """,
    tags=("source", "join", "pruning"),
)
def join_dynamic_partition_pruning(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dynamic partition pruning (DPP): the fact table is stored
    partitioned by year; the years to read are only known at RUNTIME
    (they come from a filtered dimension), yet Catalyst still prunes
    the fact SCAN — it plans a DynamicPruningExpression subquery that
    broadcasts the dim's join keys to the fact scan before it starts,
    so unneeded partitions are never opened. scan_partition_pruned
    covers the static case (literal WHERE year=...); this is the join
    -driven case that matters at 100 TB, where the date dimension is
    always joined, never inlined. Verified in the physical plan:
    ``PartitionFilters: [... dynamicpruning#...]`` on the fact scan.
    Seed: R17/R25 (the reference's YYYYMMDD prefixes, driven from a
    catalog instead of a literal)."""
    prepare(spark)
    sink = _sink_path("orders_by_year_dpp", sf_dir)
    orders = load_table(spark, sf_dir, "orders")
    fact = orders.select(
        F.year("o_orderdate").alias("order_year"), "o_totalprice", "o_orderkey"
    )
    fact.write.mode("overwrite").partitionBy("order_year").parquet(sink)
    fact_back = spark.read.parquet(sink)
    dim = (
        orders.filter(
            (F.col("o_orderpriority") == "1-URGENT")
            & F.year("o_orderdate").isin(1996, 1999)
        )
        .select(F.year("o_orderdate").alias("order_year"))
        .distinct()
    )
    joined = fact_back.join(F.broadcast(dim), "order_year")
    return joined.groupBy("order_year").agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.round(F.sum("o_totalprice"), 2).alias("total_value"),
    )


#: malformed CSV lines staged alongside valid rows — exercised by the
#: dead-letter split below (literal also in the oracle)
_CSV_BAD_LINES = [
    "NOT_A_KEY,BROKEN_NATION,xx",
    '7,"unterminated quote,3',
]


@register(
    "scan_csv_corrupt_deadletter",
    oracle="""
        SELECT 'ok' AS status,
               CAST(n_nationkey AS BIGINT) AS record_key,
               n_name AS payload
        FROM nation
        UNION ALL
        SELECT 'dead_letter', NULL, 'NOT_A_KEY,BROKEN_NATION,xx'
        UNION ALL
        SELECT 'dead_letter', NULL, '7,"unterminated quote,3'
    """,
    tags=("source", "quality"),
)
def scan_csv_corrupt_deadletter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Malformed-input dead-lettering at the SCAN (seed R15: the
    reference turns failed fetches into placeholder records rather than
    dying, ``/root/reference/app.py:306-334``; this is the batch-scan
    analog for corrupt text interchange files): parse a CSV under
    PERMISSIVE mode with a corrupt-record column, route clean rows to
    the data channel and malformed lines — verbatim, for replay — to
    the dead-letter channel, in ONE pass. The staged file interleaves
    the nation table with two broken lines (unparseable key; an
    unterminated quote).

    Scale shape: PERMISSIVE parsing is per-row map work inside the
    scan; the status split is a projection, not a second read. At
    100 TB the dead-letter branch writes to its own sink and the job
    never aborts on line 40-billion-and-three."""
    prepare(spark)
    nation = load_table(spark, sf_dir, "nation")
    # fixed sf-keyed stage path (same convention as every other sink
    # here): rewritten per call, never accumulates per-run orphans
    stage_dir = _sink_path("csv_dlq", sf_dir)
    os.makedirs(stage_dir, exist_ok=True)
    stage = os.path.join(stage_dir, "nation_dirty.csv")
    rows = nation.select("n_nationkey", "n_name", "n_regionkey").collect()
    with open(stage, "w") as fh:
        for r in rows:
            fh.write(f"{r.n_nationkey},{r.n_name},{r.n_regionkey}\n")
        for line in _CSV_BAD_LINES:
            fh.write(line + "\n")

    from pyspark.sql import types as T

    schema = T.StructType(
        [
            T.StructField("n_nationkey", T.LongType()),
            T.StructField("n_name", T.StringType()),
            T.StructField("n_regionkey", T.LongType()),
            T.StructField("_corrupt", T.StringType()),
        ]
    )
    parsed = (
        spark.read.schema(schema)
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_corrupt")
        .csv(stage)
        # cache() lifts the Spark restriction on referencing only the
        # corrupt column of a PERMISSIVE scan in a filter
        .cache()
    )
    is_dead = F.col("_corrupt").isNotNull()
    return parsed.select(
        F.when(is_dead, F.lit("dead_letter")).otherwise(F.lit("ok")).alias(
            "status"
        ),
        F.when(~is_dead, F.col("n_nationkey")).alias("record_key"),
        F.when(is_dead, F.col("_corrupt")).otherwise(F.col("n_name")).alias(
            "payload"
        ),
    )


#: compaction target: files pack into bins of ~this many bytes
_COMPACT_TARGET_BYTES = 512 * 1024


@register(
    "plan_compaction_bins",
    oracle=f"""
        WITH files AS (
            SELECT regexp_extract(filename, '[^/]+$') AS file_name,
                   CAST(size AS BIGINT) AS n_bytes
            FROM read_blob('{GOLDEN_SF_DIR}/*.parquet')
        ),
        c AS (
            SELECT file_name, n_bytes,
                   COALESCE(SUM(n_bytes) OVER (
                       ORDER BY file_name
                       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
                   ), 0) AS prior
            FROM files
        )
        SELECT file_name, n_bytes,
               CAST(FLOOR(prior / {_COMPACT_TARGET_BYTES}.0) AS BIGINT)
                   AS bin_id
        FROM c
    """,
    tags=("plan", "layout", "golden-sf0.01"),
)
def plan_compaction_bins(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Small-file COMPACTION plan (OPTIMIZE / bin-packing maintenance):
    assign each data file to a target-size bin by exclusive running
    sum over the deterministic name order — the same streaming
    first-fit approximation as ``pack_token_budget`` (a bin overflows
    by at most one file, no packing search), so the plan is stable
    across reruns. Executing the plan is one
    ``read bin -> coalesce(1) -> rewrite`` per bin; this query emits
    the assignment a maintenance job consumes.

    Scale shape: the file listing is metadata (|files| rows, never
    data bytes on the Spark side — binaryFile lists path+length
    without reading content because only those columns are selected);
    one window over the listing. At 100 TB with millions of files the
    window keys on (table, partition) so no single sort serializes.
    Seed: R17's date-partitioned layout accumulating one file per
    fetch (``/root/reference/app.py:449-463``) — exactly the
    small-file problem compaction exists to fix."""
    prepare(spark)
    files = (
        spark.read.format("binaryFile")
        .option("pathGlobFilter", "*.parquet")
        .load(sf_dir)
        .select(
            F.element_at(F.split("path", "/"), -1).alias("file_name"),
            F.col("length").alias("n_bytes"),
        )
    )
    from pyspark.sql import Window as W

    w = W.orderBy("file_name").rowsBetween(W.unboundedPreceding, -1)
    prior = F.coalesce(F.sum("n_bytes").over(w), F.lit(0))
    return files.select(
        "file_name",
        "n_bytes",
        F.floor(prior / float(_COMPACT_TARGET_BYTES)).cast("long").alias("bin_id"),
    )


@register(
    "scan_rowgroup_stats",
    oracle=f"""
        SELECT regexp_extract(file_name, '[^/]+$') AS file_name,
               CAST(row_group_id AS BIGINT) AS row_group,
               CAST(num_values AS BIGINT) AS n_rows,
               CAST(stats_min_value AS BIGINT) AS min_orderkey,
               CAST(stats_max_value AS BIGINT) AS max_orderkey
        FROM parquet_metadata('{GOLDEN_SF_DIR}/orders.parquet')
        WHERE path_in_schema = 'o_orderkey'
    """,
    tags=("source", "layout", "golden-sf0.01"),
)
def scan_rowgroup_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Expose the parquet ROW-GROUP statistics that scan pruning
    consults (min/max per column per row group) as a queryable table —
    the introspection behind every data-skipping decision this engine
    makes (``analytics_forecast_revenue``'s date skipping,
    ``layout_zorder_scan``'s tile ranges). Footers are read
    DISTRIBUTED: the file list fans out over ``mapInPandas`` and each
    task reads only its files' metadata (KBs) with pyarrow — at 100 TB
    with millions of files this is the scalable stats collector; the
    bytes of the data pages are never touched. Cross-engine check:
    DuckDB's ``parquet_metadata()`` must report the identical footers.
    ``scan_rowgroup_pruned`` closes the loop: the same stats DRIVE a
    file-pruned range scan over a multi-file table.
    """
    import os as _os

    prepare(spark)
    paths = [
        _os.path.join(sf_dir, "orders.parquet")
    ]  # single-file fixture; a table directory would glob here
    return read_footer_stats(spark, paths, "o_orderkey").select(
        "file_name",
        "row_group",
        "n_rows",
        F.col("min_val").alias("min_orderkey"),
        F.col("max_val").alias("max_orderkey"),
    )


def rowgroup_pruned_scan(
    spark: SparkSession, path: str, lo: int, hi: int
) -> DataFrame:
    """Answer a key-range query by reading ONLY the files whose footer
    min/max overlaps [lo, hi]: collect the per-file stats (|files| rows
    of metadata), build the matching file list, and scan just those
    paths with the residual predicate pushed down — Spark's parquet
    reader then prunes row groups WITHIN each matching file from the
    same footer stats. Unmatched files are never opened. This is the
    DIRECT form, kept as the equality baseline; the production form is
    the persisted manifest path (``write_stats_manifest`` /
    ``manifest_pruned_scan`` — r8), where pruning is an agg+filter on
    the stored stats table and only MATCHING paths reach the driver."""
    import glob as _glob

    all_files = _glob.glob(os.path.join(path, "*.parquet"))
    if not all_files:
        raise ValueError(f"rowgroup_pruned_scan: no parquet files under {path}")
    per_file = (
        read_footer_stats(spark, all_files, "o_orderkey")
        .groupBy("path")
        .agg(
            F.min("min_val").alias("fmin"),
            F.max("max_val").alias("fmax"),
            # row groups lacking stats make the file's range unknowable
            F.sum(F.when(F.col("min_val").isNull(), 1).otherwise(0)).alias(
                "n_statless"
            ),
        )
    )
    # conservative inclusion: a file with ANY stats-less row group might
    # hold matching rows its known min/max doesn't cover — read it
    matching = [
        r.path
        for r in per_file.filter(
            (F.col("n_statless") > 0)
            | ((F.col("fmax") >= lo) & (F.col("fmin") <= hi))
        ).collect()
    ]
    if not matching:
        return spark.read.parquet(*all_files).filter(F.lit(False))
    return spark.read.parquet(*matching).filter(
        F.col("o_orderkey").between(lo, hi)
    )


@register(
    "scan_rowgroup_pruned",
    oracle=f"""
        SELECT o_orderstatus,
               CAST(COUNT(*) AS BIGINT) AS n_orders,
               CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT))
                    AS BIGINT) AS total_cents
        FROM orders
        WHERE o_orderkey BETWEEN {_RG_PRUNE_RANGE[0]} AND {_RG_PRUNE_RANGE[1]}
        GROUP BY o_orderstatus
    """,
    tags=("source", "layout", "scan"),
)
def scan_rowgroup_pruned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end footer-stats data skipping: write orders as a
    range-clustered multi-file table (``rangekey_write``), collect
    per-file min/max DISTRIBUTED from the parquet footers
    (``read_footer_stats``), then answer a key-range aggregate reading
    only the overlapping files (``rowgroup_pruned_scan``) — the
    introspection of ``scan_rowgroup_stats`` turned into the pruned
    scan it exists for. The oracle recomputes the same range from the
    raw table, so the driver hash-checks that skipping loses no rows;
    the file-count drop itself is pinned on executed-scan metrics in
    tests/test_catalog_scale.py. Seed: the reference's date-prefixed
    object layout (``/root/reference/app.py:449-463``) — list-prune by
    key prefix — generalized to footer-stats pruning on any column."""
    from aws_seismic_data_pipeline_spark.catalog import (
        scratch_cleanup,
        scratch_path,
    )

    prepare(spark)
    path = scratch_path(spark, sf_dir, "rangekey")
    lo, hi = _RG_PRUNE_RANGE
    with scratch_cleanup(path):
        rangekey_write(spark, sf_dir, path)
        return (
            rowgroup_pruned_scan(spark, path, lo, hi)
            .groupBy("o_orderstatus")
            .agg(
                F.count(F.lit(1)).alias("n_orders"),
                F.sum(F.round(F.col("o_totalprice") * 100, 0).cast("long"))
                .cast("long")
                .alias("total_cents"),
            )
            .localCheckpoint(eager=True)
        )


# --------------------------------------------------------------------------
# Persisted footer-stats MANIFEST (r8): the production form of
# ``rowgroup_pruned_scan``'s docstring — stats live in a parquet table
# next to the data (like Iceberg/Delta manifests), pruning is an
# agg+filter on that table, and only the MATCHING path list ever
# reaches the driver.
# --------------------------------------------------------------------------

# --------------------------------------------------------------------------
# BLOOM-FILTER manifest (r8): point-lookup file skipping. Min/max stats
# prune RANGE predicates, but a high-cardinality key uniformly spread
# across files (a doc_id, an order id under hash layout) defeats them —
# every file's [min, max] covers every key, so a point lookup reads the
# whole table. A small per-file Bloom filter over the key column answers
# "can this file contain key x?" with no false negatives, so the scan
# opens ~|keys| files out of millions. Parquet has optional per-column
# bloom filters in the file format itself; this manifest keeps them in
# the catalog instead so planning never opens data-file footers — the
# same argument as the stats manifest above, applied to equality
# predicates.
# --------------------------------------------------------------------------

# --------------------------------------------------------------------------
# EQUALITY DELETES (r8): row-level deletes as metadata. plan_retention_
# delete handles the file-ALIGNED case (a whole partition tombstoned);
# this handles the scattered case — erase specific keys whose rows live
# across many files (GDPR user erasure, revoked documents) — without
# rewriting a byte: delete records land in the manifest, reads subtract
# them, history below the delete stays intact, and a later compaction
# rewrite applies them physically (Iceberg v2 equality-delete shape).
# --------------------------------------------------------------------------


@register(
    "scan_xml_roundtrip",
    oracle="""
        SELECT n_nationkey, n_name, n_regionkey,
               CAST(strlen(n_name) AS BIGINT) AS name_len
        FROM nation
    """,
    tags=("source", "sink"),
)
def scan_xml_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """XML sink + schema'd XML scan — Spark 4's NATIVE xml data source
    (no external spark-xml package), the interchange format seismic
    metadata actually ships in (StationXML: station/channel inventories
    are XML documents; the reference hardcodes its station catalog in
    JSON instead, ``config.json:2-18``). Write nation as row-tagged
    XML, read it back with the parquet original's explicit schema
    (never schema inference at scale — entity parsing per row is
    expensive enough without a second discovery pass), project. The
    oracle reads the parquet original, proving the angle-bracket round
    trip is lossless including string escaping."""
    prepare(spark)
    sink = _sink_path("nation_xml", sf_dir)
    nation = load_table(spark, sf_dir, "nation").select(
        "n_nationkey", "n_name", "n_regionkey"
    )
    nation.write.mode("overwrite").format("xml").option(
        "rootTag", "nations"
    ).option("rowTag", "nation").save(sink)
    back = (
        spark.read.format("xml")
        .schema(nation.schema)
        .option("rowTag", "nation")
        .load(sink)
    )
    return back.select(
        "n_nationkey",
        "n_name",
        "n_regionkey",
        F.length("n_name").cast("long").alias("name_len"),
    )


@register(
    "scan_text_lines",
    oracle="""
        SELECT doc_id, CAST(strlen(text) AS BIGINT) AS n_chars,
               lang
        FROM documents
    """,
    tags=("source", "sink"),
)
def scan_text_lines(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Line-oriented TEXT sink + scan (the log/plain-corpus interchange
    format — one record per line, schema recovered by parsing): write
    each document as a tab-joined ``doc_id\\tlang\\ttext`` line, read
    the directory back with the ``text`` source, and re-derive the
    typed columns by splitting on the first two tabs. The oracle reads
    the parquet original, proving the line round trip is lossless
    (the fixture corpus is newline/tab-free — a production writer
    escapes or length-prefixes; the parse side's limit-3 split already
    tolerates tabs INSIDE the payload). Line order is not preserved
    across partitioned files — irrelevant here because every row
    carries its own key, which is exactly why log-style formats embed
    one. Seed: R15's line-oriented fetch logs
    (``/root/reference/app.py:243-268``)."""
    prepare(spark)
    sink = _sink_path("documents_txt", sf_dir)
    docs = load_table(spark, sf_dir, "documents")
    docs.select(
        F.concat_ws("\t", F.col("doc_id").cast("string"), "lang", "text")
        .alias("value")
    ).write.mode("overwrite").text(sink)
    back = spark.read.text(sink)
    parts = F.split("value", "\t", 3)
    return back.select(
        F.element_at(parts, 1).cast("long").alias("doc_id"),
        F.length(F.element_at(parts, 3)).cast("long").alias("n_chars"),
        F.element_at(parts, 2).alias("lang"),
    )


@register(
    "scan_text_gzip",
    oracle="""
        SELECT doc_id, CAST(strlen(text) AS BIGINT) AS n_chars, lang
        FROM documents
    """,
    tags=("source", "compression"),
)
def scan_text_gzip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GZIP-transparent text ingest — how web corpora actually arrive
    (WET/WARC dumps, log shipping: ``.jsonl.gz``/``.txt.gz``): the
    line corpus of ``scan_text_lines`` is written through Spark's
    gzip output codec, and the read side does NOTHING special — the
    text source detects the ``.gz`` extension and inflates per file.
    The oracle proves the compressed round trip is lossless. The
    scale caveat a 100 TB ingest must know rides in the plan itself:
    gzip is NOT splittable, so each .gz file is one task — the
    pytest pins exactly that (input partitions == number of archive
    files, NOT bytes/maxPartitionBytes) — which is why production
    landing zones shard into many medium archives (or use splittable
    zstd-in-parquet once inside the lake, as every other scan here
    does)."""
    prepare(spark)
    sink = _sink_path("documents_txt_gz", sf_dir)
    docs = load_table(spark, sf_dir, "documents")
    # several archives: the unsplittable-codec parallelism unit is the
    # FILE, so a real landing zone writes many — mirror that shape
    (
        docs.repartition(4)
        .select(
            F.concat_ws(
                "\t", F.col("doc_id").cast("string"), "lang", "text"
            ).alias("value")
        )
        .write.mode("overwrite")
        .option("compression", "gzip")
        .text(sink)
    )
    back = spark.read.text(sink)
    parts = F.split("value", "\t", 3)
    return back.select(
        F.element_at(parts, 1).cast("long").alias("doc_id"),
        F.length(F.element_at(parts, 3)).cast("long").alias("n_chars"),
        F.element_at(parts, 2).alias("lang"),
    )

@register(
    "sink_dynamic_partition_overwrite",
    oracle="""
        SELECT lang,
               CAST(COUNT(*) AS BIGINT) AS n_docs,
               CAST(SUM(n_chars) AS BIGINT) AS sum_chars,
               CAST(SUM(CASE WHEN source = 'REPLACED' THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_replaced
        FROM (
            SELECT doc_id, lang, source, n_chars FROM documents
            WHERE lang <> 'en'
            UNION ALL
            SELECT doc_id, lang, 'REPLACED' AS source, n_chars + 1
            FROM documents WHERE lang = 'en'
        )
        GROUP BY lang
    """,
    tags=("sink", "layout"),
)
def sink_dynamic_partition_overwrite(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """DYNAMIC partition overwrite — the daily partition-replace idiom
    (``INSERT OVERWRITE ... PARTITION`` with dynamic resolution): the
    full table lands Hive-partitioned by lang, then a corrected batch
    containing ONLY en rows overwrites in
    ``partitionOverwriteMode=dynamic`` — Spark replaces exactly the
    partitions PRESENT IN THE BATCH and leaves every other partition's
    files untouched (static mode would wipe the whole table first: the
    classic data-loss foot-gun this mode exists to fix). The read-back
    must show non-en partitions byte-identical and the en partition
    fully replaced (marked source + shifted n_chars) — which is exactly
    what the oracle reconstructs. The conf is set per-write via
    ``option("partitionOverwriteMode", "dynamic")``, not session-wide.
    Seed: the reference re-uploads one day's prefix wholesale
    (``/root/reference/app.py:449-488``) — dynamic overwrite is that
    verb done transactionally per partition."""
    prepare(spark)
    sink = _sink_path("sink_dyn_overwrite", sf_dir)
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "lang", "source", "n_chars"
    )
    (
        docs.repartition(2)
        .write.mode("overwrite")
        .partitionBy("lang")
        .parquet(sink)
    )
    corrected = docs.filter(F.col("lang") == "en").select(
        "doc_id",
        "lang",
        F.lit("REPLACED").alias("source"),
        (F.col("n_chars") + 1).alias("n_chars"),
    )
    (
        corrected.repartition(1)
        .write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("lang")
        .parquet(sink)
    )
    back = spark.read.parquet(sink)
    return back.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_chars").cast("long").alias("sum_chars"),
        F.sum(
            F.when(F.col("source") == "REPLACED", 1).otherwise(0)
        )
        .cast("long")
        .alias("n_replaced"),
    )
