"""Change Data Feed — row-level change rows between two snapshots of
the manifest-governed table (round-13 verdict item 4).

``scan_manifest_incremental`` reads what ARRIVED in a snapshot window
but consumes append snapshots only; a downstream incremental consumer
of a table that also MERGES and DELETES needs the Delta CDF contract:
one row per changed row per commit, tagged ``insert`` /
``update_preimage`` / ``update_postimage`` / ``delete``. There are no
stored change files — the feed is DERIVED relationally from what the
commits already record:

- a CoW merge / compaction / retention commit is an add+tombstone
  pair: the change rows are the DIFF of the removed files' visible
  rows against the added files' visible rows, keyed on the table key
  (a compaction moves rows without changing them, so its diff is
  empty — maintenance commits produce no feed rows, exactly Delta's
  behavior, without needing an operation tag to special-case them);
- an equality-delete commit records its keys in metadata: the change
  rows are the deleted keys' rows as visible at the PARENT snapshot;
- "visible" on both sides subtracts the delete records in force at
  that side's snapshot, so a later compaction that physically drops
  already-reported deleted rows does not re-report them.

Scale shape: cost is O(bytes rewritten in the window + delete-candidate
files), never O(table) — candidacy for delete preimages is decided on
the manifest's footer stats (the ``merge_through_manifest`` pattern),
the per-commit file lists are metadata-scale, and each commit's diff
is one full-outer join on the key over only that commit's touched
files. Readable while the underlying files exist (same contract as
time travel; VACUUM forfeits the window it reclaims).

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


def _normalized_input_file() -> "F.Column":
    """`input_file_name()` as the POSIX path the manifest records
    (local URIs arrive as file:/... or file:///...). The URI is
    percent-encoded (a space in a data path arrives as %20) while the
    manifest stores raw POSIX paths, so the name must be URL-DECODED
    before the isin() routing or the file's rows silently match
    neither diff side and vanish from the feed. A literal '+' is kept
    literal (escaped to %2B first — Spark's url_decode applies
    form-encoding semantics where a bare '+' would decode to space;
    path URIs never encode space as '+')."""
    posix = F.regexp_replace(F.input_file_name(), "^file:/+", "/")
    return F.url_decode(F.regexp_replace(posix, r"\+", "%2B"))


def _tag(df: DataFrame, change_type: str, snap: int) -> DataFrame:
    return df.withColumn("_change_type", F.lit(change_type)).withColumn(
        "_commit_snapshot", F.lit(int(snap)).cast("long")
    )


def _diff_changes(
    old: DataFrame, new: DataFrame, key: str, snap: int
) -> DataFrame:
    """Row-level diff of one commit's removed-file rows (``old``)
    against its added-file rows (``new``), keyed on the (unique —
    the MERGE precondition) table key: new-only keys are inserts,
    old-only keys deletes, changed rows an update pre+post pair,
    identical rows nothing. One full-outer join, one pass; the
    update pair materializes via an exploded 0/1/2-element struct
    array so no side is scanned twice."""
    cols = [
        c
        for c in dict.fromkeys([*old.columns, *new.columns])
        if c != key
    ]
    for c in cols:  # align mixed schemas (evolution): NULL-backfill
        if c not in old.columns:
            old = old.withColumn(c, F.lit(None))
        if c not in new.columns:
            new = new.withColumn(c, F.lit(None))
    o, n = old.alias("o"), new.alias("n")
    j = o.join(n, F.col(f"o.{key}") == F.col(f"n.{key}"), "full_outer")
    same = reduce(
        lambda a, b: a & b,
        [F.col(f"o.{c}").eqNullSafe(F.col(f"n.{c}")) for c in cols],
        F.lit(True),
    )
    payload_o = F.struct(
        *[F.col(f"o.{c}").alias(c) for c in (key, *cols)]
    )
    payload_n = F.struct(
        *[F.col(f"n.{c}").alias(c) for c in (key, *cols)]
    )

    def _entry(ct: str, payload) -> "F.Column":
        return F.struct(
            F.lit(ct).alias("_ct"), payload.alias("_row")
        )

    exploded = (
        j.select(
            F.when(F.col(f"o.{key}").isNull(), F.lit(_CT_INSERT))
            .when(F.col(f"n.{key}").isNull(), F.lit(_CT_DELETE))
            .when(~same, F.lit("update"))
            .otherwise(F.lit("none"))
            .alias("_cls"),
            payload_o.alias("_o"),
            payload_n.alias("_n"),
        )
        .filter(F.col("_cls") != "none")
        .select(
            F.explode(
                F.when(
                    F.col("_cls") == "update",
                    F.array(
                        _entry(_CT_UPDATE_PRE, F.col("_o")),
                        _entry(_CT_UPDATE_POST, F.col("_n")),
                    ),
                )
                .when(
                    F.col("_cls") == _CT_INSERT,
                    F.array(_entry(_CT_INSERT, F.col("_n"))),
                )
                .otherwise(F.array(_entry(_CT_DELETE, F.col("_o"))))
            ).alias("_e")
        )
        .select(
            "_e._row.*",
            F.col("_e._ct").alias("_change_type"),
        )
        .withColumn("_commit_snapshot", F.lit(int(snap)).cast("long"))
    )
    return exploded


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
    row within touched files (the MERGE precondition). Both window
    edges behave as-of-style: from=N excludes N's own changes,
    to=N includes them."""
    from_snapshot, to_snapshot = int(from_snapshot), int(to_snapshot)
    if to_snapshot < from_snapshot:
        raise ValueError(
            f"table_changes: to={to_snapshot} < from={from_snapshot}"
        )
    # the commit inventory is commit-scale and resolves driver-side;
    # the loaded frame (None above the localman gate) also serves the
    # file-scale delete candidacy and the live-delete subtraction below.
    # Every diff side is expressed in the visible state at its snapshot
    # — minus the deletes in force there — or a delete-materializing
    # compaction would re-report rows the delete_eq commit already fed
    lman = localman.load(manifest_dir)
    inv = localman.commit_rows(
        manifest_dir,
        ("add", "remove", "delete_eq"),
        ("snapshot_id", "op", "path", "column_name", "min_val"),
        lman,
        after=from_snapshot,
        upto=to_snapshot,
    ).itertuples(index=False)

    def visible_rows(df: DataFrame, as_of: int) -> DataFrame:
        return subtract_live_deletes(df, manifest_dir, key, as_of, lman)

    import pandas as _pd

    per_snap: dict[int, dict[str, list]] = {}
    for snap_id, op, path, column_name, min_val in inv:
        slot = per_snap.setdefault(
            int(snap_id), {"add": [], "remove": [], "delete_eq": []}
        )
        if op == "delete_eq":
            if column_name == key and min_val is not None and not (
                isinstance(min_val, float) and _pd.isna(min_val)
            ):
                slot["delete_eq"].append(float(min_val))
        else:
            slot[op].append(path)
    frames: list[DataFrame] = []
    for snap in sorted(per_snap):
        adds = sorted(set(per_snap[snap]["add"]))
        removes = sorted(set(per_snap[snap]["remove"]))
        dels = sorted(set(per_snap[snap]["delete_eq"]))
        if dels:
            pre = _delete_preimages(
                spark, manifest_dir, key, dels, snap, lman=lman
            )
            if pre is not None:  # no-op delete: zero feed rows (Delta)
                frames.append(_tag(pre, _CT_DELETE, snap))
        if not adds and not removes:
            continue
        # ONE merged-schema read over the commit's touched files keeps
        # both diff sides on the identical unified schema; rows are
        # routed to their side by the file that carried them
        both = read_data_files(spark, [*adds, *removes], merge_schema=True)
        path_col = _normalized_input_file()
        if adds and removes:
            old = visible_rows(both.filter(path_col.isin(removes)), snap - 1)
            new = visible_rows(both.filter(path_col.isin(adds)), snap)
            frames.append(_diff_changes(old, new, key, snap))
        elif adds:  # pure append commit: every row is an insert
            frames.append(
                _tag(
                    visible_rows(both.filter(path_col.isin(adds)), snap),
                    _CT_INSERT,
                    snap,
                )
            )
        else:  # remove-only commit (retention delete): rows vanish
            frames.append(
                _tag(
                    visible_rows(
                        both.filter(path_col.isin(removes)), snap - 1
                    ),
                    _CT_DELETE,
                    snap,
                )
            )
    if not frames:
        # the empty frame must carry the key's REAL type (a window
        # that happened to contain no changes must union/schema-match
        # with one that did) — read it from any committed data file's
        # footer; double only for a table that never had a file
        key_type = "double"
        first = localman.commit_rows(
            manifest_dir, ("add",), ("path",), lman, limit=1
        )["path"]
        first_add = first.iloc[0] if len(first) else None
        if first_add is not None:
            try:
                key_type = (
                    read_data_files(spark, [first_add])
                    .schema[key]
                    .dataType.simpleString()
                )
            except Exception:
                pass  # evolved-away key: the double fallback stands
        return spark.createDataFrame(
            [],
            f"{key} {key_type}, _change_type string, _commit_snapshot long",
        )
    return reduce(
        lambda a, b: a.unionByName(b, allowMissingColumns=True), frames
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
