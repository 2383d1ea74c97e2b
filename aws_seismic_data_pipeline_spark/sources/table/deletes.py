"""Row-level deletes as metadata (Iceberg v2 equality-delete shape):
delete records, read-time subtraction, retention deletes, and the
compaction that materializes them. Split out of ``sources/readers.py``
in round 11. Seed: point deletes in the reference
(``/root/reference/upload_to_rfs.py:37-63``).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from aws_seismic_data_pipeline_spark.catalog import load_table, prepare
from aws_seismic_data_pipeline_spark.registry import register
from aws_seismic_data_pipeline_spark.sources.footers import read_data_files
from aws_seismic_data_pipeline_spark.sources.table import localman
from aws_seismic_data_pipeline_spark.sources.table.commit import (
    Transaction,
)
from aws_seismic_data_pipeline_spark.sources.table.manifest import (
    manifest_pruned_scan,
    remove_from_manifest,
    write_stats_manifest,
)


#: the demo erasure set — doc_ids scattered across every file at all
#: fixture SFs (documents has >= 500 rows)
_EQ_DELETE_IDS = (3, 100, 203, 307, 411)



@register(
    "plan_retention_delete",
    oracle="""
        SELECT lang,
               CAST(COUNT(*) AS BIGINT) AS n_docs,
               CAST(SUM(n_chars) AS BIGINT) AS sum_chars
        FROM documents
        WHERE lang <> 'zh'
        GROUP BY lang
    """,
    tags=("plan", "layout", "maintenance"),
)
def plan_retention_delete(spark: SparkSession, sf_dir: str) -> DataFrame:
    """METADATA-ONLY delete: when a retention predicate aligns with
    file boundaries (partition dirs, range-clustered files wholly
    inside the cutoff), deletion is pure manifest maintenance — one
    tombstone row per affected file (``remove_from_manifest``), ZERO
    data bytes rewritten; the table-format DELETE fast path, vs the
    rewrite-every-matching-file cost of a format without a manifest.
    Here the 'zh' partition is retired: its files stay on disk
    (vacuum's job, and as-of reads below the delete still see them —
    GDPR-style physical erasure = this delete + vacuum), but the
    current table view excludes them. The oracle recomputes the
    post-delete world from the raw table, so the driver hash-checks
    both that zh vanished and that nothing else did. Files straddling
    a predicate boundary can't take this path — they need the rewrite
    (``commit_data_compaction``'s shape with a filter)."""
    import glob as _glob

    from aws_seismic_data_pipeline_spark.catalog import (
        scratch_cleanup,
        scratch_path,
    )

    prepare(spark)
    data_dir = scratch_path(spark, sf_dir, "retention_docs")
    mpath = scratch_path(spark, sf_dir, "retention_manifest")
    with scratch_cleanup(data_dir, mpath):
        load_table(spark, sf_dir, "documents").repartition(
            "lang"
        ).write.partitionBy("lang").mode("overwrite").parquet(data_dir)
        all_files = sorted(
            _glob.glob(os.path.join(data_dir, "lang=*", "*.parquet"))
        )
        write_stats_manifest(spark, all_files, mpath, ("doc_id",))
        retired = [p for p in all_files if "/lang=zh/" in p]
        assert retired, "fixture must contain the partition being retired"
        remove_from_manifest(spark, mpath, retired)
        visible = manifest_pruned_scan(spark, mpath, "doc_id", 0, 2**62)
        lang = F.regexp_extract(F.input_file_name(), "lang=([^/]+)/", 1)
        return (
            visible.groupBy(lang.alias("lang"))
            .agg(
                F.count(F.lit(1)).alias("n_docs"),
                F.sum("n_chars").cast("long").alias("sum_chars"),
            )
            .localCheckpoint(eager=True)
        )


def equality_delete(
    spark: SparkSession,
    manifest_dir: str,
    column: str,
    values: list,
) -> int:
    """Append EQUALITY-DELETE records to the manifest: one metadata row
    per deleted key (op='delete_eq', the key carried in min_val==
    max_val), committed in one :class:`commit.Transaction`.
    Cost is |values| rows of metadata however many data files the
    keys' rows touch — the point of the shape. Visibility
    (``localman.visible``) ignores non-'add' ops, so delete records
    never perturb stats pruning; only ``read_with_deletes`` consumes
    them. Returns the snapshot id written."""
    import pandas as _pd

    if not values:
        raise ValueError("equality_delete: empty value list")
    with Transaction(spark, manifest_dir) as txn:
        keys = [float(v) for v in sorted(values)]
        pdf = _pd.DataFrame(
            {
                "path": "",
                "file_name": "",
                "row_group": -1,
                "column_name": column,
                "n_rows": 0,
                "min_val": keys,
                "max_val": keys,
                "snapshot_id": int(txn.snapshot_id),
                "op": "delete_eq",
                "partition_values": None,
            }
        )
        # metadata-only commit: one driver-side parquet file (no Spark
        # job) with the commit's wall-clock marker
        return txn.commit(extra=[pdf])


def subtract_live_deletes(
    df: DataFrame,
    manifest_dir: str,
    column: str,
    as_of: int | None,
    man=None,
) -> DataFrame:
    """Rows of ``df`` minus the equality-delete keys still in force at
    ``as_of`` (:func:`localman.live_delete_keys`). The key set is
    metadata-scale and resolves driver-side, then BROADCASTS — at
    100 TB the subtraction costs one map-side hash probe per row, no
    shuffle of data; an empty set skips the anti-join outright.
    ``man`` passes a manifest frame the caller already loaded."""
    keys = localman.live_delete_keys(manifest_dir, column, as_of, man)
    if not keys:
        return df
    dels = df.sparkSession.createDataFrame(
        [(k,) for k in keys], "__del_key double"
    )
    return df.join(
        F.broadcast(dels),
        df[column].cast("double") == dels["__del_key"],
        "left_anti",
    )


def read_with_deletes(
    spark: SparkSession,
    manifest_dir: str,
    column: str,
    as_of: int | None = None,
) -> DataFrame:
    """The manifest-visible table MINUS its live equality deletes: scan
    the files visible at ``as_of`` (full key range through
    ``manifest_pruned_scan``), then anti-join the delete keys recorded
    at or below the pin and not yet retired
    (:func:`subtract_live_deletes`). An as-of below the delete
    snapshot resurrects the rows (history is never rewritten);
    ``compact_equality_deletes`` is the maintenance step that
    physically drops the rows, retires the records, and keeps the
    delete set from growing unboundedly."""
    lman = localman.load(manifest_dir)
    data = manifest_pruned_scan(
        spark,
        manifest_dir,
        column,
        -float("inf"),
        float("inf"),
        as_of=as_of,
        lman=lman,
    )
    return subtract_live_deletes(data, manifest_dir, column, as_of, lman)


@register(
    "plan_equality_delete",
    oracle=f"""
        SELECT lang,
               CAST(COUNT(*) AS BIGINT) AS n_docs,
               CAST(SUM(n_chars) AS BIGINT) AS sum_chars
        FROM documents
        WHERE doc_id NOT IN {_EQ_DELETE_IDS}
        GROUP BY lang
    """,
    tags=("plan", "layout", "maintenance"),
)
def plan_equality_delete(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROW-LEVEL delete as pure metadata — the scattered-key case
    ``plan_retention_delete``'s file-aligned tombstones cannot express:
    five doc_ids whose rows live in different files are erased by five
    equality-delete records in the manifest; the read subtracts them
    via a broadcast anti-join and ZERO data bytes are rewritten. The
    oracle recomputes the post-delete world from the raw table, so the
    driver hash-checks both that the five ids vanished and that every
    other row survived. as-of reads below the delete still see the
    rows (pinned in tests/test_catalog_scale.py) — the
    reproducible-training-corpus contract extended to row-level
    erasure."""
    import glob as _glob

    from aws_seismic_data_pipeline_spark.catalog import (
        scratch_cleanup,
        scratch_path,
    )

    prepare(spark)
    data_dir = scratch_path(spark, sf_dir, "eqdel_docs")
    mpath = scratch_path(spark, sf_dir, "eqdel_manifest")
    with scratch_cleanup(data_dir, mpath):
        load_table(spark, sf_dir, "documents").repartition(
            8, "doc_id"
        ).write.mode("overwrite").parquet(data_dir)
        files = sorted(_glob.glob(os.path.join(data_dir, "*.parquet")))
        write_stats_manifest(spark, files, mpath, ("doc_id",))
        equality_delete(spark, mpath, "doc_id", list(_EQ_DELETE_IDS))
        return (
            read_with_deletes(spark, mpath, "doc_id")
            .groupBy("lang")
            .agg(
                F.count(F.lit(1)).alias("n_docs"),
                F.sum("n_chars").cast("long").alias("sum_chars"),
            )
            .localCheckpoint(eager=True)
        )


def compact_equality_deletes(
    spark: SparkSession, manifest_dir: str, column: str
) -> tuple[int, int, int, int]:
    """MATERIALIZE the live equality deletes — the maintenance step
    ``read_with_deletes`` names as what keeps the delete set from
    growing unboundedly (Iceberg's rewrite_data_files +
    rewrite_position_delete_files collapsed into one verb): find the
    data files whose stats range can contain any live delete key (the
    same manifest-side candidacy as ``merge_through_manifest`` — only
    candidate paths are collected), rewrite them WITHOUT the deleted
    rows, and commit add(rewritten) + remove(candidates) + ONE
    'delete_retire' record (min_val = the retired-through snapshot
    ceiling) at a single snapshot. After the commit, current reads
    subtract nothing (the rows are physically gone and the records
    retired); pinned reads between a delete and the compaction still
    subtract via the records; pinned reads below the delete still see
    the rows. Cost is O(candidate files + delete records), independent
    of table size. Returns (snapshot_id, n_candidates, n_rewritten,
    n_deletes_retired)."""
    import pandas as _pd

    # the live records and their ceiling are commit-scale; the tracked
    # columns and candidate files are file-scale (localman.answer) —
    # all read from the frame of the transaction the commit runs in
    with Transaction(spark, manifest_dir) as txn:
        lman = txn.man
        live_pd = localman.live_delete_records(
            manifest_dir, column, None, lman
        )
        n_live = len(live_pd)
        if n_live == 0:
            raise ValueError(
                f"compact_equality_deletes: no live delete records for "
                f"{column} in {manifest_dir}"
            )
        ceiling = int(live_pd["snapshot_id"].max())
        keys = sorted(float(k) for k in live_pd["min_val"].dropna().unique())
        dkeys = spark.createDataFrame([(k,) for k in keys], "_k double")
        # rewritten files must keep the TABLE's full tracked-stats
        # column set, not just the delete column — appending (column,)
        # alone would leave the rewrites invisible to scans probing any
        # other tracked column (manifest_pruned_scan lists a file only
        # via its stats rows)
        tracked = tuple(
            sorted(localman.column_bounds(spark, manifest_dir, lman))
        )

        def fn(m):
            return localman.path_frame(
                localman.candidate_paths_for_keys(
                    localman.visible(m, None), column, keys
                )
            )

        candidates = sorted(
            localman.answer(spark, manifest_dir, fn, "path string", lman)[
                "path"
            ]
        )
        new_paths: list[str] = []
        if candidates:
            out_dir = os.path.dirname(candidates[0])
            # merge_schema: evolved columns present in SOME candidate
            # files must survive the rewrite (inference from a
            # pre-evolution file would silently drop them)
            touched = read_data_files(spark, candidates, merge_schema=True)
            kept = touched.join(
                F.broadcast(dkeys),
                touched[column].cast("double") == dkeys["_k"],
                "left_anti",
            )
            # a fully-deleted range: no file, no stats row
            new_paths = txn.stage(
                lambda tmp: kept.repartitionByRange(len(candidates), column)
                .write.mode("overwrite")
                .parquet(tmp),
                out_dir,
                lambda i: f"{txn.name('delcompact')}-{i:05d}.parquet",
                skip_empty=True,
            )
        # retire the records THROUGH the ceiling at the same snapshot: a
        # pinned read in (ceiling, snap) still subtracts; at >= snap the
        # live set is empty and reads stop paying for history
        fixed = {
            "path": "",
            "file_name": "",
            "column_name": column,
            "min_val": float(int(ceiling)),
            "max_val": float(int(ceiling)),
            "snapshot_id": int(txn.snapshot_id),
            "op": "delete_retire",
        }
        # add(rewritten) + remove(candidates) + the retire marker commit
        # as ONE manifest file: the retire record in particular must
        # never become visible before the rewrites (reads would stop
        # subtracting while the deleted rows are still on disk)
        snap = txn.commit(
            adds=new_paths,
            columns=tracked,
            removes=candidates,
            extra=[_pd.DataFrame([fixed])],
        )
    return snap, len(candidates), len(new_paths), int(n_live)


@register(
    "plan_delete_compaction",
    oracle=f"""
        SELECT lang,
               CAST(COUNT(*) AS BIGINT) AS n_docs,
               CAST(SUM(n_chars) AS BIGINT) AS sum_chars
        FROM documents
        WHERE doc_id NOT IN {_EQ_DELETE_IDS}
        GROUP BY lang
    """,
    tags=("plan", "layout", "maintenance"),
)
def plan_delete_compaction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equality-delete COMPACTION end to end — ``plan_equality_delete``
    is the logical half (records + read-time subtraction); this is the
    physical half that pays off the debt: same scattered-key erasure,
    then ``compact_equality_deletes`` rewrites only the candidate files
    without the deleted rows, tombstones the originals, and retires the
    delete records at one snapshot. The query reads the CURRENT table
    through the plain stats-pruned scan — NO read-time subtraction —
    and must still equal the NOT-IN oracle: if the rewrite missed a
    file the deleted ids reappear, if it dropped extra rows the sums
    shrink; the driver hash catches both. The four time-travel windows
    (below the delete, between delete and compaction, at the
    compaction, after it) and the emptied live-delete set are
    pytest-pinned in tests/test_catalog_scale.py."""
    import glob as _glob

    from aws_seismic_data_pipeline_spark.catalog import (
        scratch_cleanup,
        scratch_path,
    )

    prepare(spark)
    data_dir = scratch_path(spark, sf_dir, "delcompact_docs")
    mpath = scratch_path(spark, sf_dir, "delcompact_manifest")
    with scratch_cleanup(data_dir, mpath):
        load_table(spark, sf_dir, "documents").repartition(
            8, "doc_id"
        ).write.mode("overwrite").parquet(data_dir)
        files = sorted(_glob.glob(os.path.join(data_dir, "*.parquet")))
        write_stats_manifest(spark, files, mpath, ("doc_id",))
        equality_delete(spark, mpath, "doc_id", list(_EQ_DELETE_IDS))
        compact_equality_deletes(spark, mpath, "doc_id")
        return (
            manifest_pruned_scan(spark, mpath, "doc_id", 0, 2**62)
            .groupBy("lang")
            .agg(
                F.count(F.lit(1)).alias("n_docs"),
                F.sum("n_chars").cast("long").alias("sum_chars"),
            )
            .localCheckpoint(eager=True)
        )
