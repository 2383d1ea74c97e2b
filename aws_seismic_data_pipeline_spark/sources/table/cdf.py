"""Change Data Feed — row-level change rows between two snapshots of
the manifest-governed table (round-13 verdict item 4).

``scan_manifest_incremental`` reads what ARRIVED in a snapshot window
but consumes append snapshots only; a downstream incremental consumer
of a table that also MERGES and DELETES needs the Delta CDF contract:
one row per changed row per commit, tagged ``insert`` /
``update_preimage`` / ``update_postimage`` / ``delete``. There are no
stored change files — the feed is DERIVED relationally from what the
commits already record, in two stages:

1. :func:`signed_rows` reads every commit side in the window as ONE
   union of signed rows tagged with the commit's snapshot: the rows of
   the files a commit removed, visible at its parent, at ``_w = -1``;
   the rows of the files it added, visible at itself, at ``_w = +1``;
   an equality-delete commit's preimages (the deleted keys' rows as
   visible at the PARENT snapshot) at ``_w = -1``. "Visible" subtracts
   the delete records in force at that side's snapshot, so a later
   compaction that physically drops already-reported deleted rows does
   not re-report them.
2. :func:`table_changes` pairs the -1 and +1 rows with ONE full-outer
   join on (commit, table key) for the whole window: a +1-only key is
   an insert, a -1-only key a delete, a changed row an update pre+post
   pair, an identical row nothing (a compaction moves rows without
   changing them, so it feeds nothing — Delta's behavior, without an
   operation tag to special-case it).

An additive consumer (``streaming/cdf_consumer.py``) needs only stage
1: a row a commit rewrote unchanged contributes +1 and -1, which
cancel, so summing ``_w`` needs no join at all.

Scale shape: cost is O(bytes rewritten in the window + delete-candidate
files), never O(table) — candidacy for delete preimages is decided on
the manifest's footer stats (the ``merge_through_manifest`` pattern),
the per-commit file lists are metadata-scale, and the window's one
pairing join runs over only the files its commits touched. Readable
while the underlying files exist (same contract as time travel;
VACUUM forfeits the window it reclaims).

Seed: the reference's migration rescans the FULL listing to learn what
changed (``/root/reference/upload_to_rfs.py:16-35``) — this is the
row-level answer computed from commit metadata instead.
"""

from __future__ import annotations

import os
from functools import reduce

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from aws_seismic_data_pipeline_spark.catalog import load_table, prepare
from aws_seismic_data_pipeline_spark.registry import register
from aws_seismic_data_pipeline_spark.sources.footers import read_data_files
from aws_seismic_data_pipeline_spark.sources.table.deletes import (
    subtract_live_deletes,
)
from aws_seismic_data_pipeline_spark.sources.table import localman

#: change-type tags, Delta CDF vocabulary
_CT_INSERT = "insert"
_CT_DELETE = "delete"
_CT_UPDATE_PRE = "update_preimage"
_CT_UPDATE_POST = "update_postimage"


def signed_rows(
    spark: SparkSession,
    manifest_dir: str,
    key: str,
    lo: int,
    hi: int,
    columns=None,
) -> DataFrame | None:
    """Every commit side in the HALF-OPEN window (lo, hi] as ONE union
    frame tagged ``_commit_snapshot`` (long) and ``_w`` (int): rows of
    the files a commit removed, visible as of its parent, and its
    equality-delete preimages at -1; rows of the files it added,
    visible as of itself, at +1. ``columns`` (which must hold ``key``)
    projects every side, so the scans read nothing else; None keeps
    every column, NULL-filling a column some side's files lack. Returns
    None when no commit in the window touched a row. Both window edges
    behave as-of-style: lo=N excludes N's own commit, hi=N includes it."""
    lo, hi = int(lo), int(hi)
    if hi < lo:
        raise ValueError(f"change-feed window: to={hi} < from={lo}")
    # the commit inventory is commit-scale and resolves driver-side;
    # the loaded frame (None above the localman gate) also serves the
    # file-scale delete candidacy and the live-delete subtraction below
    lman = localman.load(manifest_dir)
    inv = localman.commit_rows(
        manifest_dir,
        ("add", "remove", "delete_eq"),
        ("snapshot_id", "op", "path", "column_name", "min_val"),
        lman,
        after=lo,
        upto=hi,
    )
    dels = inv[(inv["op"] == "delete_eq") & (inv["column_name"] == key)]
    dels = dels.dropna(subset=["min_val"])
    files = inv[inv["op"] != "delete_eq"]

    def side(df: DataFrame, w: int, snap: int) -> DataFrame:
        if columns is not None:
            df = df.select(*[c for c in columns if c in df.columns])
        return df.select(
            "*",
            F.lit(w).alias("_w"),
            F.lit(snap).cast("long").alias("_commit_snapshot"),
        )

    def visible(paths, as_of: int) -> DataFrame:
        rows = read_data_files(spark, sorted(set(paths)), merge_schema=True)
        return subtract_live_deletes(rows, manifest_dir, key, as_of, lman)

    frames: list[DataFrame] = []
    for snap in sorted({int(s) for s in inv["snapshot_id"]}):
        keys = sorted(set(dels.loc[dels["snapshot_id"] == snap, "min_val"]))
        if keys:
            pre = _delete_preimages(
                spark, manifest_dir, key, [float(k) for k in keys], snap, lman
            )
            if pre is not None:  # no-op delete: zero feed rows (Delta)
                frames.append(side(pre, -1, snap))
        at = files[files["snapshot_id"] == snap]
        removes = list(at.loc[at["op"] == "remove", "path"])
        adds = list(at.loc[at["op"] == "add", "path"])
        if removes:
            frames.append(side(visible(removes, snap - 1), -1, snap))
        if adds:
            frames.append(side(visible(adds, snap), 1, snap))
    if not frames:
        return None
    return reduce(
        lambda a, b: a.unionByName(b, allowMissingColumns=True), frames
    )


def table_changes(
    spark: SparkSession,
    manifest_dir: str,
    key: str,
    from_snapshot: int,
    to_snapshot: int,
) -> DataFrame:
    """Delta's ``table_changes(from, to)``: every row-level change the
    commits in the HALF-OPEN window (from, to] made, tagged with
    ``_change_type`` (insert / update_preimage / update_postimage /
    delete) and ``_commit_snapshot``. Derived — see the module
    docstring; no change files are stored. Requires the key unique per
    row within touched files (the MERGE precondition). The window's
    :func:`signed_rows` are paired by ONE full-outer join on
    (``_commit_snapshot``, key); the update pair materializes via an
    exploded 1- or 2-element struct array so no side is scanned twice,
    and an unchanged pair explodes to nothing."""
    signed = signed_rows(spark, manifest_dir, key, from_snapshot, to_snapshot)
    if signed is None:
        return _empty_changes(spark, manifest_dir, key)
    data = [c for c in signed.columns if c not in ("_w", "_commit_snapshot")]
    o = signed.filter(F.col("_w") < 0).alias("o")
    n = signed.filter(F.col("_w") > 0).alias("n")
    j = o.join(
        n,
        (F.col("o._commit_snapshot") == F.col("n._commit_snapshot"))
        & (F.col(f"o.{key}") == F.col(f"n.{key}")),
        "full_outer",
    )
    same = reduce(
        lambda a, b: a & b,
        [F.col(f"o.{c}").eqNullSafe(F.col(f"n.{c}")) for c in data if c != key],
        F.lit(True),
    )

    def entry(ct: str, s: str) -> "F.Column":
        image = F.struct(*[F.col(f"{s}.{c}").alias(c) for c in data])
        return F.struct(F.lit(ct).alias("_ct"), image.alias("_row"))

    # NULL (an unchanged row) explodes to no row
    changes = (
        F.when(F.col("o._w").isNull(), F.array(entry(_CT_INSERT, "n")))
        .when(F.col("n._w").isNull(), F.array(entry(_CT_DELETE, "o")))
        .when(
            ~same,
            F.array(entry(_CT_UPDATE_PRE, "o"), entry(_CT_UPDATE_POST, "n")),
        )
    )
    return j.select(
        F.explode(changes).alias("_e"),
        F.coalesce(
            F.col("o._commit_snapshot"), F.col("n._commit_snapshot")
        ).alias("_commit_snapshot"),
    ).select(
        "_e._row.*",
        F.col("_e._ct").alias("_change_type"),
        "_commit_snapshot",
    )


def _empty_changes(
    spark: SparkSession, manifest_dir: str, key: str
) -> DataFrame:
    """A window without changes: zero rows, with the key's REAL type
    (a window that happened to contain no changes must union /
    schema-match with one that did) — read from any committed data
    file's footer; double only for a table that never had a file."""
    key_type = "double"
    first = localman.commit_rows(manifest_dir, ("add",), ("path",), limit=1)
    if len(first):
        try:
            key_type = (
                read_data_files(spark, [first["path"].iloc[0]])
                .schema[key]
                .dataType.simpleString()
            )
        except Exception:
            pass  # evolved-away key: the double fallback stands
    return spark.createDataFrame(
        [], f"{key} {key_type}, _change_type string, _commit_snapshot long"
    )


def _delete_preimages(
    spark: SparkSession,
    manifest_dir: str,
    key: str,
    del_keys: list[float],
    snap: int,
    lman=None,
) -> DataFrame | None:
    """The rows an equality-delete commit at ``snap`` removed: the
    deleted keys' rows as visible at the PARENT snapshot. Candidacy is
    decided on the manifest's footer stats (only files whose key range
    can contain a deleted key are opened — the
    ``merge_through_manifest`` pattern), then the metadata-scale key
    set broadcasts into a semi-join. Returns None when NO visible file
    can contain any deleted key — a legal no-op delete (key absent
    from the table, or outside every file's stats range) produces
    zero feed rows, exactly Delta's CDF behavior; raising here would
    permanently wedge every window covering the commit."""
    keys_df = spark.createDataFrame(
        [(float(v),) for v in del_keys], "_k double"
    )

    def fn(m):
        return localman.path_frame(
            localman.candidate_paths_for_keys(
                localman.visible(m, snap - 1), key, del_keys
            )
        )

    candidates = sorted(
        localman.answer(spark, manifest_dir, fn, "path string", lman)["path"]
    )
    if not candidates:
        return None
    rows = read_data_files(spark, candidates, merge_schema=True)
    # subtract deletes already in force BEFORE this commit, then keep
    # exactly this commit's keys
    rows = subtract_live_deletes(rows, manifest_dir, key, snap - 1, lman)
    return rows.join(
        F.broadcast(keys_df),
        rows[key].cast("double") == keys_df["_k"],
        "left_semi",
    )


@register(
    "plan_change_data_feed",
    oracle="""
        SELECT 'update_preimage' AS _change_type,
               CAST(1 AS BIGINT) AS _commit_snapshot,
               doc_id, lang, n_chars
        FROM documents WHERE doc_id % 7 = 0
        UNION ALL
        SELECT 'update_postimage', CAST(1 AS BIGINT),
               doc_id, lang, n_chars + 100
        FROM documents WHERE doc_id % 7 = 0
        UNION ALL
        SELECT 'insert', CAST(1 AS BIGINT),
               doc_id + 1000000, lang, n_chars
        FROM documents WHERE doc_id % 13 = 0
        UNION ALL
        SELECT 'delete', CAST(2 AS BIGINT), doc_id, lang,
               CASE WHEN doc_id % 7 = 0 THEN n_chars + 100
                    ELSE n_chars END
        FROM documents WHERE doc_id % 11 = 0
    """,
    tags=("plan", "cdf", "incremental", "maintenance"),
)
def plan_change_data_feed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CHANGE DATA FEED end to end: documents land governed (snapshot
    0), a CoW MERGE updates every doc_id%7 row (+100 chars) and
    inserts doc_id%13 rows under new ids (snapshot 1), an equality
    delete erases every doc_id%11 row (snapshot 2). ``table_changes``
    over (0, 2] must emit EXACTLY: one pre+post pair per updated row
    at snapshot 1, one insert per new row at 1, and one delete per
    erased row at 2 — with the delete's PREIMAGE carrying the
    POST-update value for rows both updated and deleted (doc_id%77:
    the feed is ordered, each commit diffs against its own parent).
    The oracle recomputes the full row-level change set from the raw
    table, so the driver hash pins every image value, not just
    counts. Unchanged rows inside rewritten files must NOT appear
    (the diff suppresses them — rewrites are not changes)."""
    import glob as _glob

    from aws_seismic_data_pipeline_spark.catalog import (
        scratch_cleanup,
        scratch_path,
    )
    from aws_seismic_data_pipeline_spark.sources.table.deletes import (
        equality_delete,
    )
    from aws_seismic_data_pipeline_spark.sources.table.maintenance import (
        merge_through_manifest,
    )
    from aws_seismic_data_pipeline_spark.sources.table.manifest import (
        write_stats_manifest,
    )

    prepare(spark)
    data_dir = scratch_path(spark, sf_dir, "cdf_data")
    mpath = scratch_path(spark, sf_dir, "cdf_manifest")
    with scratch_cleanup(data_dir, mpath):
        docs = load_table(spark, sf_dir, "documents").select(
            "doc_id", "lang", "n_chars"
        )
        docs.repartition(4, "doc_id").write.mode("overwrite").parquet(
            data_dir
        )
        files = sorted(_glob.glob(os.path.join(data_dir, "*.parquet")))
        write_stats_manifest(spark, files, mpath, ("doc_id",))
        updates = docs.filter(F.col("doc_id") % 7 == 0).withColumn(
            "n_chars", F.col("n_chars") + F.lit(100)
        )
        inserts = docs.filter(F.col("doc_id") % 13 == 0).withColumn(
            "doc_id", F.col("doc_id") + F.lit(1000000)
        )
        merge_through_manifest(
            spark,
            mpath,
            updates.unionByName(inserts),
            "doc_id",
            ["lang", "n_chars"],
        )
        del_keys = [
            r.doc_id
            for r in docs.filter(F.col("doc_id") % 11 == 0)
            .select("doc_id")
            .collect()
        ]
        equality_delete(spark, mpath, "doc_id", del_keys)
        return (
            table_changes(spark, mpath, "doc_id", 0, 2)
            .select(
                "_change_type",
                "_commit_snapshot",
                "doc_id",
                "lang",
                "n_chars",
            )
            .localCheckpoint(eager=True)
        )
