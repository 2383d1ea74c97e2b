"""Parquet footer-statistics readers — the low-level feed shared by
the row-group-pruning scans (``sources/readers.py``) and the
table-format manifest engine (``sources/table/``). Split out of
readers.py in round 11 (the file held the whole table-format engine).

Seed: the reference treats its paginated object listing as the
statistic itself (``/root/reference/upload_to_rfs.py:16-35``); these
helpers read the same answers from parquet footers, distributed.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from aws_seismic_data_pipeline_spark.catalog import load_table


#: commit-scale ceiling for the driver-side footer-stats path: a commit
#: touching at most this many files reads their footers on the driver
#: (KBs each, ~1 ms/file) instead of fanning a Spark stage out over
#: them; bulk builds/backfills above it stay distributed. Read only
#: through :func:`commit_scale`, so patching this one binding moves
#: every footer read and manifest commit between the two paths.
_LOCAL_COMMIT_MAX = 64

#: the columns of one footer-stats row (:func:`footer_rows`)
FOOTER_COLS = (
    "path",
    "file_name",
    "row_group",
    "column_name",
    "n_rows",
    "min_val",
    "max_val",
)


def commit_scale(paths) -> bool:
    """Whether a file list is small enough to read its footers on the
    driver rather than in a distributed stage."""
    return len(paths) <= _LOCAL_COMMIT_MAX


def _num(v):
    """A footer statistic as a float. Non-numeric stats (string/binary
    columns) become NULL: consumers already treat NULL min/max
    conservatively, and row-count users (bloom sizing) only need
    n_rows."""
    try:
        return float(v)
    except (TypeError, ValueError):
        return None


def footer_rows(paths, columns, cast=_num) -> list[tuple]:
    """The footer-stats rows of local parquet files: one
    :data:`FOOTER_COLS` tuple per (file, row group, column), min/max
    passed through ``cast``. One pyarrow footer read per file serves
    every requested column; data pages are never read. Row groups
    written without statistics yield NULL min/max. This is the one row
    function: it runs on the driver for a commit-scale list and inside
    each task of :func:`fan_out`. Raises when a footer cannot be
    read."""
    import pyarrow.parquet as pq

    rows = []
    for p in paths:
        md = pq.ParquetFile(p).metadata
        names = md.schema.names
        idx = {c: names.index(c) for c in columns}
        for rg in range(md.num_row_groups):
            group = md.row_group(rg)
            for c in columns:
                col = group.column(idx[c])
                st = col.statistics
                has = st is not None and st.has_min_max
                rows.append(
                    (
                        p,
                        os.path.basename(p),
                        rg,
                        c,
                        col.num_values,
                        cast(st.min) if has else None,
                        cast(st.max) if has else None,
                    )
                )
    return rows


def fan_out(
    spark: SparkSession, paths: list[str], task_rows, schema
) -> DataFrame:
    """The distributed footer read: the sorted file list spread over at
    most 32 ``mapInPandas`` tasks, each turning its paths into a pandas
    frame with ``task_rows(paths)`` (built on :func:`footer_rows`). At
    100 TB with millions of files this is manifest-building, not a
    scan: each task reads only its files' footer KBs."""
    import pandas as _pd

    # pandas input -> one Arrow batch; the tuple-list form pickles
    # through a Python-RDD pipeline (~5 s of overhead per call)
    files = spark.createDataFrame(
        _pd.DataFrame({"path": sorted(paths)}), "path string"
    ).repartition(min(len(paths), 32))

    def read_footers(batches):
        for pdf in batches:
            out = task_rows(list(pdf["path"]))
            if len(out):
                yield out

    return files.mapInPandas(read_footers, schema)


#: footer key under which Spark's parquet writer records the row schema
_SPARK_ROW_METADATA = b"org.apache.spark.sql.parquet.row.metadata"


def _as_nullable(dt):
    """Spark's ``DataType.asNullable``: every struct field, array
    element and map value nullable — what a file-source relation makes
    of any data schema, inferred or given."""
    from pyspark.sql.types import ArrayType, MapType, StructField, StructType

    if isinstance(dt, StructType):
        return StructType(
            [
                StructField(f.name, _as_nullable(f.dataType), True, f.metadata)
                for f in dt.fields
            ]
        )
    if isinstance(dt, ArrayType):
        return ArrayType(_as_nullable(dt.elementType), True)
    if isinstance(dt, MapType):
        return MapType(_as_nullable(dt.keyType), _as_nullable(dt.valueType))
    return dt


def footer_schema(path: str):
    """The Spark ``StructType`` one local data file's footer records
    (Spark's row metadata, made nullable) — exactly what schema
    inference derives from that footer, read with pyarrow on the
    driver (the footer's KBs, no Spark job). None when the path is not
    a plain local path, the footer carries no Spark row metadata
    (files written by pyarrow or DuckDB: inference would convert the
    parquet schema under session settings) or the read fails."""
    import json
    import urllib.parse

    if urllib.parse.urlparse(path).scheme:
        return None
    try:
        import pyarrow.parquet as pq
        from pyspark.sql.types import StructType

        raw = (pq.read_metadata(path).metadata or {}).get(_SPARK_ROW_METADATA)
        if raw is None:
            return None
        return _as_nullable(StructType.fromJson(json.loads(raw)))
    except Exception:
        return None


def read_data_files(
    spark: SparkSession, paths: list[str], merge_schema: bool = False
) -> DataFrame:
    """``spark.read.parquet(*paths)`` over table data files with the
    data schema PINNED from their footers instead of inferred. Spark's
    inference runs a footer-reading job for every read (over one file
    without ``mergeSchema``, over all of them with it); the table's
    files already carry the answer.

    Without ``merge_schema`` inference reads the FIRST path's footer,
    so pinning that footer's schema is the same schema by construction.
    With ``merge_schema`` the pin holds only when every file records
    one schema — then the union is that schema; files of an evolved
    table (ADD COLUMN, mergeSchema-on-MERGE, or files registered with
    another schema) differ and keep the ``mergeSchema`` read, as does
    any read :func:`footer_schema` cannot answer."""
    schema = footer_schema(paths[0])
    if merge_schema and schema is not None:
        if any(footer_schema(p) != schema for p in paths[1:]):
            schema = None
    if schema is not None:
        return spark.read.schema(schema).parquet(*paths)
    reader = spark.read
    if merge_schema:
        reader = reader.option("mergeSchema", "true")
    return reader.parquet(*paths)


def _decode_input_file() -> F.Column:
    """``input_file_name()`` as a canonical local path: strip the
    ``file:`` scheme and decode the URI's %-escapes JVM-side, so paths
    containing spaces or other reserved characters compare equal to the
    plain filesystem paths a manifest records. ``url_decode`` follows
    ``URLDecoder`` in turning '+' into a space — file URIs never encode
    space that way — so a literal '+' is pre-escaped to '%2B' first,
    making the result exactly ``urllib.parse.unquote`` of the URI path."""
    uri = F.regexp_replace(F.input_file_name(), "^file:/+", "/")
    return F.url_decode(F.regexp_replace(uri, r"\+", "%2B"))



def _footer_stats_frame(
    spark: SparkSession, paths: list[str], columns, stat_type: str
) -> DataFrame:
    """:func:`footer_rows` as a Spark frame with min/max of
    ``stat_type`` ("long" or "double"): a local relation for a
    commit-scale list (no Spark stage), else :func:`fan_out`."""
    import pandas as _pd

    cast = int if stat_type == "long" else _num
    schema = (
        "path string, file_name string, row_group long, column_name string,"
        f" n_rows long, min_val {stat_type}, max_val {stat_type}"
    )
    if commit_scale(paths):
        return spark.createDataFrame(
            footer_rows(sorted(paths), columns, cast), schema
        )

    def task_rows(ps):
        out = _pd.DataFrame(
            footer_rows(ps, columns, cast), columns=FOOTER_COLS
        )
        if stat_type == "long":
            out = out.astype({"min_val": "Int64", "max_val": "Int64"})
        return out

    return fan_out(spark, paths, task_rows, schema)


def read_footer_stats(
    spark: SparkSession, paths: list[str], column: str
) -> DataFrame:
    """Parquet-footer stats of one integer ``column``: one row per
    (file, row group) with its min/max (long) and num_values. Row
    groups written without statistics yield NULL min/max (consumers
    must treat them conservatively — an unknown range can match
    anything). The data pages are never read. Shared by
    ``scan_rowgroup_stats`` (introspection) and ``rowgroup_pruned_scan``
    (the data-skipping decision itself)."""
    if not paths:
        raise ValueError("read_footer_stats: empty path list")
    return _footer_stats_frame(spark, paths, (column,), "long").drop(
        "column_name"
    )


def rangekey_write(spark: SparkSession, sf_dir: str, path: str) -> None:
    """Land the orders table as a MULTI-FILE parquet directory with
    narrow per-file o_orderkey ranges: ``repartitionByRange`` gives
    each task a contiguous key segment, so every file's footer min/max
    covers ~1/16 of the key space — the layout that makes footer-stats
    pruning effective. This is the 1-D sibling of ``zorder_write``
    (operators/window_ops.py); the reference's date-prefix layout
    (``/root/reference/app.py:449-463``) is the same idea with the
    calendar as the range key."""
    load_table(spark, sf_dir, "orders").repartitionByRange(
        16, "o_orderkey"
    ).write.mode("overwrite").parquet(path)


#: the demo range: ~5 of the 16 range-partitioned files at any SF
_RG_PRUNE_RANGE = (1000, 5000)


def read_footer_stats_multi(
    spark: SparkSession, paths: list[str], columns: tuple[str, ...]
) -> DataFrame:
    """Multi-column footer-stats collector: ONE pyarrow footer read per
    file yields min/max/num_values for EVERY requested leaf column —
    the same metadata object carries them all, so a manifest over N
    predicate columns costs exactly the same footer I/O as one column.
    Output is the manifest's physical schema, keyed (path, row_group,
    column_name); min/max are stored as double (exact for integers
    below 2^53 — every fixture and TPC-H key range — and natively right
    for float measure columns). Stats-less row groups and non-numeric
    stats yield NULL min/max and must be treated conservatively by
    consumers."""
    if not paths:
        raise ValueError("read_footer_stats_multi: empty path list")
    if not columns:
        raise ValueError("read_footer_stats_multi: no columns requested")
    return _footer_stats_frame(spark, paths, tuple(columns), "double")
