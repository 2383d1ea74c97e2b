"""Schema evolution as manifest commits: ADD COLUMN declarations and
NULL-backfilled evolved reads. Split out of ``sources/readers.py`` in
round 11. Seed: the reference's filename-embedded schema
(``/root/reference/app.py:328-330,451-456``) — schema as commits, not
filenames.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from aws_seismic_data_pipeline_spark.catalog import load_table, prepare
from aws_seismic_data_pipeline_spark.registry import register
from aws_seismic_data_pipeline_spark.sources.table.commit import (
    Transaction,
)
from aws_seismic_data_pipeline_spark.sources.table import localman
from aws_seismic_data_pipeline_spark.sources.table.manifest import (
    append_stats_manifest,
    manifest_pruned_scan,
    write_stats_manifest,
)


def _ident_pattern(name: str) -> "object":
    """Compiled regex matching ``name`` as a standalone identifier in
    stored constraint SQL — BOTH the bare form (identifier-boundary
    lookarounds; backtick excluded from the lookbehind so a hit can't
    start inside a longer backquoted identifier) and the exact
    backquoted form (``\\`name\\```). Rename remaps and drop-blocking
    must see the quoted spelling too, or a constraint written as
    ``\\`old\\` > 0`` survives a rename with a stale name and wedges
    every subsequent gated write."""
    import re

    esc = re.escape(name)
    return re.compile(
        rf"`{esc}`|(?<![A-Za-z0-9_`]){esc}(?![A-Za-z0-9_])"
    )


def evolve_schema_add(
    spark: SparkSession, manifest_dir: str, column: str, sql_type: str
) -> int:
    """ADD COLUMN as a METADATA commit — Iceberg/Delta schema evolution
    through the snapshot axis: one 'schema_add' manifest row declares
    the column (name + SQL type, the type riding in the generic
    ``partition_values`` string map), no data file is touched.
    Pre-commit files are NULL-backfilled at scan time
    (:func:`read_evolved` — the ``scan_merge_schema`` semantics, but
    COMMITTED: an as-of read below this snapshot sees the old schema,
    at/above sees the new, exactly like any other table mutation).
    Returns the snapshot id written."""
    with Transaction(spark, manifest_dir) as txn:
        # metadata-only commit: one driver-side parquet file
        return txn.commit(extra=[schema_add_rows(txn, {column: sql_type})])


def schema_add_rows(txn, columns: dict[str, str]):
    """UNCOMMITTED 'schema_add' declaration rows (a pandas frame) at
    ``txn``'s snapshot — compound verbs
    (``merge_evolve_through_manifest``) union these with their data
    adds/tombstones and commit everything in ONE append, so the column
    declaration and the files that first carry it become visible at
    the SAME snapshot (Delta's mergeSchema-on-MERGE atomicity). Raises
    on a re-declaration of any name the schema history in ``txn.man``
    already used (:func:`localman.declared_names`)."""
    import pandas as _pd

    declared = localman.declared_names(txn.manifest_dir, txn.man)
    dupes = sorted(set(columns) & declared)
    if dupes:
        raise ValueError(
            f"column(s) {dupes} are already declared (or were renamed/"
            f"dropped — re-using such a name would resurface old files' "
            f"values) at {txn.manifest_dir}"
        )
    rows = [
        {
            "path": "",
            "file_name": "",
            "column_name": column,
            "snapshot_id": int(txn.snapshot_id),
            "op": "schema_add",
            "partition_values": {"type": str(sql_type)},
        }
        for column, sql_type in sorted(columns.items())
    ]
    return _pd.DataFrame(rows)


def _effective_columns(
    spark: SparkSession,
    manifest_dir: str,
    lman,
    ensure: tuple[str, ...] = (),
) -> set[str]:
    """Best-effort effective column set at the CURRENT snapshot:
    the union of visible data-file footer schemas (pyarrow — driver-
    side metadata reads, no data pages) transformed through the
    committed rename/drop chain, plus live declared adds. Samples the
    newest 64 files, then keeps walking OLDER footers only while a
    name in ``ensure`` is still unresolved — a physical column that
    lives only in never-rewritten pre-evolution files must not be
    falsely reported missing on a wide/old table. The file order
    (newest snapshot first, then path) comes from
    :func:`localman.answer`: each partition returns its newest 64
    visible files, and only when those leave a name unresolved does a
    second pass return every visible file. Used only to validate
    rename/drop targets loudly."""
    import pyarrow.parquet as _pq

    ops = localman.schema_ops(manifest_dir, None, lman)

    def _apply(phys: set[str]) -> set[str]:
        cols = set(phys)
        for _snap, op, name, arg in ops:
            if op == "schema_add":
                cols.add(name)
            elif op == "schema_rename":
                if name in cols:
                    cols.discard(name)
                    cols.add(arg)
            elif op == "schema_drop":
                cols.discard(name)
        return cols

    def newest(limit):
        def fn(m):
            v = localman.visible(m, None)[["path", "snapshot_id"]]
            v = v.drop_duplicates().sort_values(
                ["snapshot_id", "path"], ascending=[False, True]
            )
            return v if limit is None else v.head(limit)

        out = localman.answer(
            spark, manifest_dir, fn, "path string, snapshot_id int", lman
        ).sort_values(["snapshot_id", "path"], ascending=[False, True])
        return list(out["path"] if limit is None else out["path"][:limit])

    phys: set[str] = set()
    want = set(ensure)

    def read(paths, stop: bool) -> None:
        for path in paths:
            try:
                phys.update(_pq.read_schema(path).names)
            except Exception:
                continue
            if stop and want <= _apply(phys):
                return

    sample = newest(64)
    read(sample, stop=False)
    if len(sample) == 64 and not want <= _apply(phys):
        read(newest(None)[64:], stop=True)
    return _apply(phys)


def evolve_schema_rename(
    spark: SparkSession, manifest_dir: str, old: str, new: str
) -> int:
    """RENAME COLUMN as a METADATA commit — Iceberg column-mapping
    semantics with the mapping replayed from the commit log instead of
    field ids: one 'schema_rename' row (old name in ``column_name``,
    new name riding in ``partition_values['to']``), ZERO data files
    rewritten. Files written before the commit keep the old physical
    name and are re-mapped at scan time (:func:`read_evolved`); files
    written after carry the new name; a scan that sees both coalesces
    them into the one logical column. An as-of read below this
    snapshot sees the OLD name — renames are as time-travelable as
    data. Validates loudly: ``old`` must resolve in the current
    effective schema and ``new`` must not collide. Live CHECK
    constraints whose expression references ``old`` are REMAPPED in
    the SAME commit (a superseding 'constraint_add' row with the
    rewritten expr — Iceberg remaps through field ids; without the
    remap every subsequent gated write would fail analysis on the
    stale name, wedging the table unwritable). Returns the snapshot
    id written."""
    import pandas as _pd

    from aws_seismic_data_pipeline_spark.sources.table.constraints import (
        active_constraints,
    )

    with Transaction(spark, manifest_dir) as txn:
        snap, lman = txn.snapshot_id, txn.man
        effective = _effective_columns(
            spark, manifest_dir, lman, ensure=(old,)
        )
        if old not in effective:
            raise ValueError(
                f"rename: column {old!r} does not exist at {manifest_dir} "
                f"(effective columns: {sorted(effective)})"
            )
        if new in effective:
            raise ValueError(
                f"rename: column {new!r} already exists at {manifest_dir}"
            )
        # identifier-boundary match: `old` as a standalone name in the
        # stored SQL, not as a substring of a longer identifier; the
        # backquoted form (`old`) is matched explicitly — the bare
        # alternation's lookbehind excludes backtick so it can't fire
        # INSIDE a longer quoted identifier, which would otherwise
        # leave a stale name that wedges every gated write
        pat = _ident_pattern(old)
        remapped = [
            (
                cname,
                kind,
                pat.sub(
                    lambda m: f"`{new}`"
                    if m.group(0).startswith("`")
                    else new,
                    expr,
                ),
            )
            for cname, kind, expr in active_constraints(
                spark, manifest_dir, man=lman
            )
            if pat.search(expr)
        ]
        dicts = [
            {
                "path": "",
                "file_name": "",
                "column_name": old,
                "snapshot_id": int(snap),
                "op": "schema_rename",
                "partition_values": {"to": str(new)},
            }
        ]
        for cname, kind, expr in remapped:
            dicts.append(
                {
                    "path": "",
                    "file_name": "",
                    "column_name": cname,
                    "snapshot_id": int(snap),
                    "op": "constraint_add",
                    "partition_values": {"kind": kind, "expr": expr},
                }
            )
        return txn.commit(extra=[_pd.DataFrame(dicts)])


def evolve_schema_drop(
    spark: SparkSession, manifest_dir: str, column: str
) -> int:
    """DROP COLUMN as a METADATA commit — the column is TOMBSTONED
    ('schema_drop' row), not rewritten out of any data file: scans at
    or above this snapshot exclude it, as-of reads below still see it
    (Delta's drop-with-column-mapping). Re-declaring a dropped name
    raises — without field ids the old files' values would silently
    resurface under the re-added name (documented limitation; Iceberg
    avoids it by binding data to ids, not names). REJECTED while a
    live CHECK constraint references the column (Delta blocks the
    drop): committing it would wedge every subsequent gated write on
    an unresolvable name — drop the constraint first. Returns the
    snapshot id written."""
    import pandas as _pd

    from aws_seismic_data_pipeline_spark.sources.table.constraints import (
        active_constraints,
    )

    with Transaction(spark, manifest_dir) as txn:
        lman = txn.man
        effective = _effective_columns(
            spark, manifest_dir, lman, ensure=(column,)
        )
        if column not in effective:
            raise ValueError(
                f"drop: column {column!r} does not exist at {manifest_dir} "
                f"(effective columns: {sorted(effective)})"
            )
        pat = _ident_pattern(column)
        referencing = sorted(
            cname
            for cname, _kind, expr in active_constraints(
                spark, manifest_dir, man=lman
            )
            if pat.search(expr)
        )
        if referencing:
            raise ValueError(
                f"drop: column {column!r} is referenced by live "
                f"constraint(s) {referencing} at {manifest_dir} — drop "
                f"the constraint(s) first (committing would wedge every "
                f"gated write on an unresolvable name)"
            )
        fixed = {
            "path": "",
            "file_name": "",
            "column_name": column,
            "snapshot_id": int(txn.snapshot_id),
            "op": "schema_drop",
            "partition_values": {},
        }
        return txn.commit(extra=[_pd.DataFrame([fixed])])


def read_evolved(
    spark: SparkSession,
    manifest_dir: str,
    key: str,
    as_of: int | None = None,
) -> DataFrame:
    """Full scan under the EVOLVED schema visible at ``as_of``: the
    physical read unions mixed file schemas (``mergeSchema`` — files
    landed after an ADD COLUMN carry it, earlier files don't), then
    every declared-but-physically-absent column is NULL-backfilled with
    its committed type. An as-of below the ADD COLUMN commit sees
    neither the declaration nor any post-commit file, so the OLD schema
    emerges exactly — schema history is as time-travelable as data
    history. Metadata-only cost on top of the pruned scan."""
    lman = localman.load(manifest_dir)
    ops = localman.schema_ops(manifest_dir, as_of, lman)
    df = manifest_pruned_scan(
        spark,
        manifest_dir,
        key,
        float("-inf"),
        float("inf"),
        as_of=as_of,
        merge_schema=True,
        lman=lman,
    )
    # replay the schema-change history in COMMIT ORDER on top of the
    # physical union — each op transforms the name space the next op
    # sees, so chained renames/adds-then-renames resolve exactly as
    # they were declared
    for _snap, op, name, arg in ops:
        if op == "schema_add":
            if name not in df.columns:
                df = df.withColumn(name, F.lit(None).cast(arg or "string"))
        elif op == "schema_rename":
            if name in df.columns and arg in df.columns:
                # files from BOTH eras in the scan: pre-rename files
                # carry the old physical name, post-rename files the
                # new — one logical column, coalesced (a file carries
                # exactly one of the two, so coalesce is exact)
                df = df.withColumn(arg, F.coalesce(arg, name)).drop(name)
            elif name in df.columns:
                df = df.withColumnRenamed(name, arg)
            # new-name-only scans (every old file pruned/compacted
            # away) already read correctly
        elif op == "schema_drop" and name in df.columns:
            df = df.drop(name)
    return df


@register(
    "plan_schema_evolve",
    oracle="""
        WITH evolved AS (
            SELECT doc_id, lang, n_chars, CAST(NULL AS DOUBLE) AS quality
            FROM documents
            UNION ALL
            SELECT doc_id, lang, n_chars, n_chars / 1000.0 AS quality
            FROM documents WHERE doc_id % 7 = 0
        )
        SELECT lang,
               CAST(COUNT(*) AS BIGINT) AS n_docs,
               CAST(COUNT(quality) AS BIGINT) AS n_with_quality,
               CAST(SUM(CAST(ROUND(quality * 1000) AS BIGINT)) AS BIGINT)
                   AS quality_milli,
               CAST(SUM(n_chars) AS BIGINT) AS sum_chars
        FROM evolved
        GROUP BY lang
    """,
    tags=("plan", "layout", "schema"),
)
def plan_schema_evolve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCHEMA EVOLUTION through the manifest end to end: documents land
    governed WITHOUT a quality column, ADD COLUMN quality DOUBLE commits
    as pure metadata (snapshot k), then a post-commit batch lands
    CARRYING the column. The current evolved read must union both
    physical shapes — pre-commit rows NULL-backfilled, post-commit rows
    with their written values — and the oracle recomputes exactly that
    union from the raw table, so the driver hash pins the backfill
    semantics (COUNT(quality) counts only post-commit rows; the
    cents-style integer sum pins the values). Reads pinned below k see
    the OLD schema — asserted in tests/test_catalog_scale.py. Seed: the
    reference re-parses filename fields as its schema
    (``/root/reference/app.py:449-463``); a governed table declares
    schema changes as commits instead."""
    import glob as _glob
    import shutil as _shutil

    from aws_seismic_data_pipeline_spark.catalog import (
        scratch_cleanup,
        scratch_path,
    )

    prepare(spark)
    data_dir = scratch_path(spark, sf_dir, "schema_evolve_data")
    mpath = scratch_path(spark, sf_dir, "schema_evolve_manifest")
    with scratch_cleanup(data_dir, mpath):
        docs = load_table(spark, sf_dir, "documents").select(
            "doc_id", "lang", "n_chars"
        )
        docs.repartition(4, "doc_id").write.mode("overwrite").parquet(
            data_dir
        )
        files = sorted(_glob.glob(os.path.join(data_dir, "*.parquet")))
        write_stats_manifest(spark, files, mpath, ("doc_id",))
        evolve_schema_add(spark, mpath, "quality", "double")
        late = docs.filter(F.col("doc_id") % 7 == 0).withColumn(
            "quality", F.col("n_chars") / F.lit(1000.0)
        )
        stage = os.path.join(data_dir, ".late_stage")
        late.coalesce(1).write.mode("overwrite").parquet(stage)
        part = sorted(_glob.glob(os.path.join(stage, "part-*.parquet")))[0]
        late_path = os.path.join(data_dir, "evolved-late-00000.parquet")
        _shutil.move(part, late_path)
        _shutil.rmtree(stage, ignore_errors=True)
        append_stats_manifest(spark, [late_path], mpath, ("doc_id",))
        return (
            read_evolved(spark, mpath, "doc_id")
            .groupBy("lang")
            .agg(
                F.count(F.lit(1)).alias("n_docs"),
                F.count("quality").alias("n_with_quality"),
                F.sum(F.round(F.col("quality") * 1000, 0).cast("long"))
                .cast("long")
                .alias("quality_milli"),
                F.sum("n_chars").cast("long").alias("sum_chars"),
            )
            .localCheckpoint(eager=True)
        )


@register(
    "plan_schema_rename_drop",
    oracle="""
        WITH evolved AS (
            SELECT doc_id, n_chars AS char_count FROM documents
            UNION ALL
            SELECT doc_id, n_chars AS char_count
            FROM documents WHERE doc_id % 5 = 0
        )
        SELECT CAST(doc_id % 10 AS BIGINT) AS bucket,
               CAST(COUNT(*) AS BIGINT) AS n_rows,
               CAST(SUM(char_count) AS BIGINT) AS sum_chars
        FROM evolved
        GROUP BY 1
    """,
    tags=("plan", "layout", "schema"),
)
def plan_schema_rename_drop(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RENAME + DROP COLUMN through the manifest end to end (round-12
    verdict item 4): documents land governed as (doc_id, lang,
    n_chars); RENAME n_chars -> char_count commits as PURE METADATA
    (zero data files rewritten — pytest pins unchanged file mtimes);
    a post-rename batch lands physically CARRYING char_count (both
    physical eras coalesce into one logical column); DROP lang
    tombstones the column without touching data. The current read
    exposes exactly (doc_id, char_count) — old files re-mapped, new
    files native, lang gone — and the oracle recomputes that union
    from the raw table. As-of reads below the rename still see
    n_chars and lang (tests/test_catalog_scale.py pins both time-
    travel directions). Iceberg column-mapping semantics replayed
    from the commit log instead of field ids. Seed: the reference
    re-parses filename fields as its schema
    (``/root/reference/app.py:449-463``)."""
    import glob as _glob
    import shutil as _shutil

    from aws_seismic_data_pipeline_spark.catalog import (
        scratch_cleanup,
        scratch_path,
    )

    prepare(spark)
    data_dir = scratch_path(spark, sf_dir, "schema_rename_data")
    mpath = scratch_path(spark, sf_dir, "schema_rename_manifest")
    with scratch_cleanup(data_dir, mpath):
        docs = load_table(spark, sf_dir, "documents").select(
            "doc_id", "lang", "n_chars"
        )
        docs.repartition(4, "doc_id").write.mode("overwrite").parquet(
            data_dir
        )
        files = sorted(_glob.glob(os.path.join(data_dir, "*.parquet")))
        write_stats_manifest(spark, files, mpath, ("doc_id",))
        evolve_schema_rename(spark, mpath, "n_chars", "char_count")
        late = (
            docs.filter(F.col("doc_id") % 5 == 0)
            .withColumnRenamed("n_chars", "char_count")
        )
        stage = os.path.join(data_dir, ".late_stage")
        late.coalesce(1).write.mode("overwrite").parquet(stage)
        part = sorted(_glob.glob(os.path.join(stage, "part-*.parquet")))[0]
        late_path = os.path.join(data_dir, "renamed-late-00000.parquet")
        _shutil.move(part, late_path)
        _shutil.rmtree(stage, ignore_errors=True)
        append_stats_manifest(spark, [late_path], mpath, ("doc_id",))
        evolve_schema_drop(spark, mpath, "lang")
        return (
            read_evolved(spark, mpath, "doc_id")
            .groupBy((F.col("doc_id") % 10).cast("long").alias("bucket"))
            .agg(
                F.count(F.lit(1)).alias("n_rows"),
                F.sum("char_count").cast("long").alias("sum_chars"),
            )
            .localCheckpoint(eager=True)
        )
