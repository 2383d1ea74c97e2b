"""Driver-side pyarrow reads and writes of the KB-scale stats manifest.

Every governed-table verb answers planning questions (visible files,
pruned path lists, delete keys, commit timestamps) from the manifest —
kilobytes of local metadata. Routing each of those questions through a
Spark job costs a full job-submission round trip (~100 ms of scheduler
latency at local[32], and 30+ tiny tasks per job over the manifest's
many small files); a governed MERGE chained ~30 such jobs, a SQL MERGE
~43 (measured, r15 profiling). This module answers them in pandas on
the driver, so the Spark jobs that remain on a verb are only the ones
that touch DATA. The questions come in two sizes:

- COMMIT-SCALE questions read only rows whose count grows with the
  number of commits, not files: the expire floor, commit clocks, live
  equality-delete keys, the schema-op history, declared names, the
  constraint records, an incremental window's file list. Each has ONE
  implementation here, fed by :func:`commit_rows` — a filter of the
  manifest frame the verb already loaded, otherwise one filtered,
  column-projected pyarrow read. There is no Spark twin: a manifest
  pyarrow cannot read RAISES (every commit already depends on the
  manifest being locally addressable — the logstore's mkdir/rename and
  ``commit._next_snapshot``).
- FILE-SCALE questions (visibility, pruning candidacy, row counts,
  per-file stats, history) each have ONE pandas function of manifest
  rows, and :func:`answer` decides where it runs: on :func:`load`'s
  whole-manifest frame (or the verb's own) up to ``_LOCAL_MAN_MAX``
  rows, otherwise in Spark tasks that each hold every row of their
  paths (``repartition("path")`` + ``mapInPandas``). A path's add and
  remove rows always meet in one task, so a per-path answer is the
  same in any partition; aggregate questions return per-partition
  partials that the caller combines, on the driver as well (one
  partial there). A manifest pyarrow cannot read raises here too.

Nothing is cached: each call re-reads the manifest directory, exactly
like the ``spark.read.parquet`` call it replaces (concurrent-writer
semantics are read-point-for-read-point identical).

The write half is the ONLY writer of manifest commits: every commit
(adds, tombstones, equality deletes, constraint/schema declarations,
commit_ts markers) is composed as pandas rows and published as ONE
parquet file by one ``os.replace`` (:func:`write_rows`), readable by
Spark and pyarrow alike (mixed-directory reads in both engines are
pytest-pinned in tests/test_localman.py). A write that fails raises;
there is no Spark write behind it.
"""

from __future__ import annotations

import os
import re
import urllib.parse
import uuid

from aws_seismic_data_pipeline_spark.sources.table.logstore import (
    manifest_data_dir as _mdd,
)

#: the manifest's canonical arrow schema — what a fresh manifest is
#: written with, and the distributed bulk build's output schema
def _arrow_manifest_schema():
    import pyarrow as pa

    return pa.schema(
        [
            pa.field("path", pa.string()),
            pa.field("file_name", pa.string()),
            pa.field("row_group", pa.int64()),
            pa.field("column_name", pa.string()),
            pa.field("n_rows", pa.int64()),
            pa.field("min_val", pa.float64()),
            pa.field("max_val", pa.float64()),
            pa.field("snapshot_id", pa.int32()),
            pa.field("op", pa.string()),
            pa.field("partition_values", pa.map_(pa.string(), pa.string())),
        ]
    )


#: column order of the canonical manifest schema
_COLS = (
    "path",
    "file_name",
    "row_group",
    "column_name",
    "n_rows",
    "min_val",
    "max_val",
    "snapshot_id",
    "op",
    "partition_values",
)


# --------------------------------------------------------------------
# read side
# --------------------------------------------------------------------

#: driver-side manifest row bound (r15 verdict item 1): ``load()``
#: materializes the WHOLE manifest on the driver, and the manifest is
#: rows = files × row-groups × stat-columns — fine at the ~10^5 rows a
#: 100 TB table's metadata occupies, catastrophic at 10^7-file
#: pathologies. Above the bound :func:`answer` runs each file-scale
#: question in Spark tasks instead. The count comes from parquet FOOTER
#: metadata (``pyarrow.dataset.count_rows`` with no filter reads
#: row-group counts only, never data pages), so the gate itself costs
#: one footer read per manifest file.
_LOCAL_MAN_MAX = 2_000_000


def load(manifest_dir: str):
    """The manifest as a pandas DataFrame (``partition_values`` as
    dicts, exactly the values Spark's collect() returns), or None when
    the manifest exceeds ``_LOCAL_MAN_MAX`` rows (driver-heap guard:
    :func:`answer` then runs the question in Spark tasks). Raises when
    pyarrow cannot read the manifest. Hidden ``_``/``.`` entries (the
    ``_commits`` token tree)
    are excluded by pyarrow's default ignore_prefixes, matching
    Spark's listing."""
    import pyarrow.dataset as pads

    ds = pads.dataset(_mdd(manifest_dir), format="parquet")
    if ds.count_rows() > _LOCAL_MAN_MAX:
        return None
    return _frame(ds.to_table())


def _frame(tbl):
    """An arrow manifest table as pandas, ``partition_values`` as dicts
    (exactly the values Spark's collect() returns)."""
    pdf = tbl.to_pandas()
    if "partition_values" in pdf.columns:
        pdf["partition_values"] = pdf["partition_values"].map(
            lambda v: dict(v) if v is not None else None
        )
    return pdf


def frame(manifest_dir: str, man=None):
    """The manifest frame a verb hands to its questions: ``man`` when
    the caller already holds one, else :func:`load`'s."""
    return load(manifest_dir) if man is None else man


def placed(manifest_dir: str, on_driver, on_cluster, man=None):
    """The one size gate of file-scale manifest work: ``on_driver(man)``
    over the manifest frame (``man``, else :func:`load`'s) when it fits
    under ``_LOCAL_MAN_MAX`` rows, else ``on_cluster()``."""
    man = frame(manifest_dir, man)
    return on_cluster() if man is None else on_driver(man)


def answer(spark, manifest_dir: str, fn, schema: str, man=None):
    """Answer a file-scale question: ``fn`` maps manifest rows to a
    pandas frame of ``schema`` (a DDL string) and must depend only on
    each path's own rows. Below the gate it runs on the whole frame;
    above it, in path-partitioned Spark tasks (:func:`_on_cluster`).
    Returns pandas."""
    return placed(
        manifest_dir,
        fn,
        lambda: _on_cluster(spark, manifest_dir, fn, schema),
        man,
    )


def _on_cluster(spark, manifest_dir: str, fn, schema: str):
    """``fn`` over one Spark read of the manifest (schema pinned from
    the on-disk arrow schema, so no inference job), hash-partitioned by
    path so each task holds every row of its paths; the per-partition
    frames come back as one pandas frame."""
    from pyspark.sql.pandas.types import from_arrow_schema

    arrow = _existing_schema(manifest_dir)
    if arrow is None:
        raise ValueError(f"no readable manifest file at {manifest_dir}")

    def per_partition(batches):
        import pandas as pd

        frames = list(batches)
        if not frames:
            yield fn(_frame(arrow.empty_table()))
        else:
            yield fn(pd.concat(frames, ignore_index=True))

    return (
        spark.read.schema(from_arrow_schema(arrow))
        .parquet(_mdd(manifest_dir))
        .repartition("path")
        .mapInPandas(per_partition, schema)
        .toPandas()
    )


def tip(man) -> int:
    """The newest snapshot id in a manifest frame, -1 when it holds
    none."""
    if "snapshot_id" not in man.columns or man.empty:
        return -1
    return int(man["snapshot_id"].max())


def visible(man, as_of: int | None):
    """'add' rows whose path has no 'remove' tombstone at or below the
    pin."""
    if as_of is not None:
        man = man[man["snapshot_id"] <= as_of]
    removed = set(man.loc[man["op"] == "remove", "path"])
    out = man[man["op"] == "add"]
    if removed:
        out = out[~out["path"].isin(removed)]
    return out


def apply_partition_filter(man, partition_filter, manifest_dir: str):
    """The scans' partition_values filter: a row
    survives when its recorded entry for each filtered column is
    missing/NULL (conservative) or equals the requested value."""
    if not partition_filter:
        return man
    if "partition_values" not in man.columns:
        raise ValueError(
            f"manifest at {manifest_dir} records no partition values "
            "— rebuild it with write_stats_manifest(partition_by=...)"
        )
    for k, v in partition_filter.items():
        sv = str(v)

        def _keep(pv, _k=k, _sv=sv):
            if pv is None:
                return True
            entry = pv.get(_k)
            return entry is None or entry == _sv

        man = man[man["partition_values"].map(_keep)]
    return man


def per_file_stats(vis, column: str):
    """Per-file (fmin, fmax, n_statless) over the visible stats rows of
    ``column`` — the candidacy aggregate every pruned scan and CoW
    merge runs. Returns a pandas frame indexed by path."""
    sub = vis[vis["column_name"] == column]
    g = sub.groupby("path", sort=False).agg(
        fmin=("min_val", "min"),
        fmax=("max_val", "max"),
        n_statless=("min_val", lambda s: int(s.isna().sum())),
    )
    return g


def matching_paths(
    vis, column: str, lo: float, hi: float
) -> list[str]:
    """``manifest_pruned_scan``'s matching-path list: a
    file matches when it has any stats-less row group for ``column`` or
    its [fmin, fmax] overlaps [lo, hi]. (NaN comparisons are False,
    exactly like SQL NULL semantics here — an all-NULL file is caught
    by n_statless.)"""
    g = per_file_stats(vis, column)
    m = g[(g["n_statless"] > 0) | ((g["fmax"] >= lo) & (g["fmin"] <= hi))]
    return sorted(m.index)


def surviving_paths_multi(vis, predicates) -> list[str]:
    """``manifest_pruned_scan_multi``'s survivors: elimination, not
    selection — a file is dropped for column c only if it HAS stats for
    c and every row-group range misses [lo, hi]."""
    survivors = set(vis["path"].unique())
    for column, (lo, hi) in predicates.items():
        g = per_file_stats(vis, column)
        eliminated = g[
            (g["n_statless"] == 0)
            & ((g["fmax"] < lo) | (g["fmin"] > hi))
        ]
        survivors -= set(eliminated.index)
    return sorted(survivors)


def surviving_paths_multi_rowgroup(vis, predicates) -> list[str]:
    """``manifest_pruned_scan_multi_rowgroup``'s survivors: the
    conjunction evaluated per (file, row group) — a file survives only
    if SOME single row group can satisfy EVERY predicate at once; row
    groups missing stats for a column pass that column; files with no
    stats rows at all survive outright."""
    rg_ok = rowgroup_ok(vis, predicates)
    survivors = set(vis["path"].unique())
    if rg_ok.empty:
        return sorted(survivors)
    per_path_any = rg_ok.groupby(level=0, sort=False).any()
    # a file with no stats rows for any predicate column survives
    return sorted(survivors - set(per_path_any[~per_path_any].index))


def rowgroup_ok(vis, predicates):
    """Per (path, row_group) holding stats rows for a predicate column:
    True when the row group can satisfy EVERY predicate at once."""
    import pandas as pd

    sub = vis[vis["column_name"].isin(list(predicates))]
    ok = pd.Series(True, index=sub.index)
    for column, (lo, hi) in predicates.items():
        is_col = sub["column_name"] == column
        # SQL 3VL twin of coalesce((max>=lo)&(min<=hi), TRUE): the row
        # group fails this predicate iff either comparison is
        # definitively False — a NULL side conservatively passes
        miss = is_col & (
            (sub["max_val"].notna() & (sub["max_val"] < lo))
            | (sub["min_val"].notna() & (sub["min_val"] > hi))
        )
        ok &= ~miss
    # the group satisfies every predicate when none of its per-column
    # rows missed
    return ok.groupby([sub["path"], sub["row_group"]], sort=False).all()


def row_count(man, as_of: int | None) -> int:
    """Rows of the files visible at ``as_of``: each (path, row_group)'s
    ``n_rows`` (repeated across its per-column stats rows) once."""
    vis = visible(man, as_of)
    if vis.empty:
        return 0
    n = (
        vis.groupby(["path", "row_group"], sort=False)["n_rows"]
        .max()
        .sum()
    )
    import pandas as pd

    return int(n) if pd.notna(n) else 0


def candidate_paths_for_keys(vis, column: str, keys) -> list[str]:
    """Files whose ``column`` stats range can contain ANY of ``keys``
    (stats-less files conservatively included) — the delete
    candidacy, valid when the key set is driver-resident (delete
    records are metadata-scale by contract)."""
    import bisect

    ks = sorted(float(k) for k in keys)
    out = []
    for path, row in per_file_stats(vis, column).iterrows():
        if row["n_statless"] > 0:
            out.append(path)
            continue
        i = bisect.bisect_left(ks, float(row["fmin"]))
        if i < len(ks) and ks[i] <= float(row["fmax"]):
            out.append(path)
    return sorted(out)


def path_frame(paths):
    """A one-column ``path string`` answer frame."""
    import pandas as pd

    return pd.DataFrame({"path": pd.Series(list(paths), dtype=object)})


def visible_paths(
    spark, manifest_dir: str, as_of: int | None, man=None
) -> list[str]:
    """The sorted paths of the files visible at ``as_of``."""

    def fn(m):
        return path_frame(visible(m, as_of)["path"].unique())

    out = answer(spark, manifest_dir, fn, "path string", man)
    return sorted(out["path"])


def first_visible_path(
    spark, manifest_dir: str, as_of: int | None, man=None
) -> str:
    """The smallest visible path at ``as_of`` — the schema file of an
    empty result. Raises on a manifest with no visible file."""

    def fn(m):
        paths = visible(m, as_of)["path"]
        return path_frame([paths.min()] if len(paths) else [])

    paths = answer(spark, manifest_dir, fn, "path string", man)["path"]
    if paths.empty:
        raise ValueError(f"empty stats manifest at {manifest_dir}")
    return paths.min()


def column_bounds(spark, manifest_dir: str, man=None) -> dict:
    """{column: (min of min_val, max of max_val)} over the visible stats
    rows at the tip — the tracked column set and the global range of
    each (None where a column has no stats)."""

    def fn(m):
        return (
            visible(m, None)
            .groupby("column_name")
            .agg(lo=("min_val", "min"), hi=("max_val", "max"))
            .reset_index()
        )

    out = answer(
        spark,
        manifest_dir,
        fn,
        "column_name string, lo double, hi double",
        man,
    )
    g = out.groupby("column_name").agg(lo=("lo", "min"), hi=("hi", "max"))
    return {
        c: tuple(None if v != v else float(v) for v in (r.lo, r.hi))
        for c, r in g.iterrows()
    }


# --------------------------------------------------------------------
# commit-scale questions: one implementation each, no Spark twin
# --------------------------------------------------------------------

def commit_rows(
    manifest_dir: str,
    ops,
    columns,
    man=None,
    after: int | None = None,
    upto: int | None = None,
    column: str | None = None,
    limit: int | None = None,
):
    """The manifest rows whose ``op`` is one of ``ops``, projected to
    ``columns`` — the single input of every commit-scale question.
    Optional filters: snapshot window (``after``, ``upto``], one
    ``column_name``, and the first ``limit`` rows. With ``man`` (the
    frame a verb already loaded) this is a pandas filter, so the hot
    path never reads the manifest twice; otherwise it is ONE filtered,
    column-projected pyarrow read that returns only the matching rows
    (never the whole manifest). Raises when pyarrow cannot read the
    manifest."""
    ops, columns = list(ops), list(columns)
    if man is not None:
        keep = man["op"].isin(ops)
        if after is not None:
            keep &= man["snapshot_id"] > after
        if upto is not None:
            keep &= man["snapshot_id"] <= upto
        if column is not None:
            keep &= man["column_name"] == column
        out = man.loc[keep, columns]
        return out if limit is None else out.head(limit)
    import pyarrow.dataset as pads

    where = pads.field("op").isin(ops)
    if after is not None:
        where &= pads.field("snapshot_id") > after
    if upto is not None:
        where &= pads.field("snapshot_id") <= upto
    if column is not None:
        where &= pads.field("column_name") == column
    ds = pads.dataset(_mdd(manifest_dir), format="parquet")
    if limit is None:
        return _frame(ds.to_table(columns=columns, filter=where))
    return _frame(ds.head(limit, columns=columns, filter=where))


def check_floor(manifest_dir: str, as_of: int | None, man=None) -> None:
    """Raise when ``as_of`` is below the expire floor recorded by
    ``expire_manifest_history``: expired history must fail loudly,
    never reconstruct partially."""
    if as_of is None:
        return
    floors = commit_rows(manifest_dir, ("expire",), ("min_val",), man)
    floors = floors["min_val"].dropna()
    if len(floors) and as_of < floors.max():
        raise ValueError(
            f"as_of={as_of} is below the expire floor {int(floors.max())} — "
            f"history at {manifest_dir} was expired; pinned reads "
            "below the floor cannot be reconstructed"
        )


def snapshot_for_timestamp(manifest_dir: str, ts: float, man=None) -> int:
    """Resolve ``AS OF TIMESTAMP`` to a snapshot id: the NEWEST
    snapshot whose commit wall-clock (its commit_ts marker) is <=
    ``ts`` (Delta/Iceberg semantics — the table state a reader at that
    instant saw). Raises when ``ts`` precedes every recorded commit —
    including when the matching history was EXPIRED (commit_ts markers
    below the floor are dropped with it, so a pre-floor timestamp
    fails loudly exactly like a pre-floor snapshot pin)."""
    rows = commit_rows(
        manifest_dir, ("commit_ts",), ("snapshot_id", "min_val"), man
    )
    if rows.empty:
        raise ValueError(
            f"no commit timestamps recorded at {manifest_dir} — the table "
            "predates timestamp stamping; pin by snapshot id instead"
        )
    eligible = rows.loc[rows["min_val"] <= float(ts), "snapshot_id"]
    if eligible.empty:
        raise ValueError(
            f"timestamp {ts} precedes the earliest recorded commit at "
            f"{manifest_dir} (earliest surviving commit_ts: "
            f"{rows['min_val'].min()}) — the history may have been "
            "expired"
        )
    return int(eligible.max())


def live_delete_records(
    manifest_dir: str, column: str, as_of: int | None, man=None
):
    """The equality-delete records STILL IN FORCE at ``as_of``:
    'delete_eq' rows for ``column`` at snapshots <= the pin, minus
    those retired by a 'delete_retire' record (whose min_val carries
    the retired-through snapshot ceiling). Pinned reads between a
    delete and its compaction still subtract; reads at or above the
    compaction see the physically-rewritten files and an empty set.
    A frame — consumers take counts / key sets off it."""
    scoped = commit_rows(
        manifest_dir,
        ("delete_eq", "delete_retire"),
        ("snapshot_id", "op", "min_val"),
        man,
        upto=as_of,
        column=column,
    )
    retire = scoped.loc[scoped["op"] == "delete_retire", "min_val"]
    ceiling = None if retire.empty or retire.isna().all() else retire.max()
    dels = scoped[scoped["op"] == "delete_eq"]
    if ceiling is not None:
        dels = dels[dels["snapshot_id"] > int(ceiling)]
    return dels


def live_delete_keys(
    manifest_dir: str, column: str, as_of: int | None, man=None
) -> list[float]:
    """The DISTINCT delete-key doubles still in force at ``as_of``."""
    keys = live_delete_records(manifest_dir, column, as_of, man)["min_val"]
    return sorted(float(k) for k in keys.dropna().unique())


def schema_ops(manifest_dir: str, as_of: int | None, man=None) -> list:
    """The table's schema-change history visible at ``as_of``, in
    commit order: [(snapshot_id, op, column_name, arg)] where arg is
    the SQL type for 'schema_add', the new name for 'schema_rename',
    None for 'schema_drop'. Applying these IN ORDER to the physical
    column space yields the effective schema — the name-mapping walk
    Iceberg does through field ids, replayed through the commit log."""
    rows = commit_rows(
        manifest_dir,
        ("schema_add", "schema_rename", "schema_drop"),
        ("snapshot_id", "op", "column_name", "partition_values"),
        man,
        upto=as_of,
    )
    out = []
    for snap, op, name, pv in rows.itertuples(index=False):
        pv = pv or {}
        arg = pv.get("type") if op == "schema_add" else pv.get("to")
        out.append((int(snap), op, name, arg))
    out.sort(key=lambda t: (t[0], t[1], t[2]))
    return out


def declared_names(manifest_dir: str, man=None) -> set:
    """The names a schema_add may not reuse: adds, rename sources AND
    targets, and dropped names (re-using one would resurface old
    files' values)."""
    out = set()
    for _snap, op, name, arg in schema_ops(manifest_dir, None, man):
        out.add(name)
        if op == "schema_rename":
            out.add(arg)
    return out


def concat_rows(frames):
    """Union metadata frames by column name (missing columns NULL) —
    the pandas twin of ``unionByName(allowMissingColumns=True)``.
    Frames go through object dtype so all-NA columns never trigger
    pandas' concat dtype inference (the arrow cast in
    :func:`write_rows` restores the real types)."""
    import pandas as pd

    return pd.concat(
        [f.astype(object) for f in frames], ignore_index=True, sort=False
    )


# --------------------------------------------------------------------
# write side
# --------------------------------------------------------------------

def _existing_schema(manifest_dir: str):
    """The arrow schema of the first live manifest file — new rows are
    cast to EXACTLY the schema already on disk so an append can never
    fork it. None only when the manifest is empty or absent; a footer
    that cannot be read raises."""
    import pyarrow.parquet as pq

    d = _mdd(manifest_dir)
    try:
        names = sorted(
            n
            for n in os.listdir(d)
            if n.endswith(".parquet") and not n.startswith(("_", "."))
        )
    except OSError:
        return None
    if not names:
        return None
    return pq.read_schema(os.path.join(d, names[0])).remove_metadata()


def write_rows(manifest_dir: str, pdf, overwrite: bool = False) -> None:
    """Publish metadata rows as ONE parquet file in the manifest dir
    (written hidden, then one ``os.replace``) — every manifest commit
    lands through here. ``pdf`` is a pandas frame whose columns are a
    subset of the manifest schema (missing columns NULL-filled, like
    ``unionByName(allowMissingColumns=True)``). Rows are cast to the
    schema already on disk with every field nullable, which is what a
    Spark append writes: a tombstone leaves a bloom manifest's
    ``m_bits`` NULL where Spark's build declared it non-nullable.
    Raises on any failure."""
    import pandas as pd
    import pyarrow as pa

    schema = None if overwrite else _existing_schema(manifest_dir)
    if schema is None:
        schema = _arrow_manifest_schema()
    schema = pa.schema([f.with_nullable(True) for f in schema])
    cols = {}
    for field in schema:
        name = field.name
        if name in pdf.columns:
            cols[name] = pdf[name]
        else:
            cols[name] = pd.Series([None] * len(pdf), dtype="object")
    aligned = pd.DataFrame(cols)
    tbl = pa.Table.from_pandas(aligned, schema=schema, preserve_index=False)
    d = _mdd(manifest_dir)
    if overwrite:
        import shutil

        # mirror Spark's overwrite: replace the directory contents
        shutil.rmtree(d, ignore_errors=True)
    _publish(tbl, d)


def _publish(tbl, d: str) -> None:
    """Write an arrow table as one hidden parquet file in ``d`` and
    publish it with one ``os.replace``."""
    import pyarrow.parquet as pq

    os.makedirs(d, exist_ok=True)
    name = f"local-{uuid.uuid4().hex}.parquet"
    tmp = os.path.join(d, f".{name}.tmp")
    pq.write_table(tbl, tmp)
    os.replace(tmp, os.path.join(d, name))


def clone_manifest_local(src_manifest: str, dst_manifest: str) -> None:
    """``clone_manifest``'s metadata copy: read the source manifest
    (through the generation resolver) with pyarrow and land it as one
    parquet file at the clone root. Raises on any failure."""
    import shutil

    import pyarrow.dataset as pads

    tbl = pads.dataset(_mdd(src_manifest), format="parquet").to_table()
    shutil.rmtree(dst_manifest, ignore_errors=True)
    _publish(tbl, dst_manifest)


def partition_values_py(path: str, partition_by) -> dict | None:
    """The manifest's ``partition_values`` map for one data file: each
    requested partition column's value parsed from the path's
    Hive-style ``col=value/`` segment (``lang=en/``) — the reference
    pipeline's ``YYYYMMDD/`` key prefix generalized to named
    key=value dirs. Entries exist ONLY where the
    segment is present, so a file not laid out by a requested column
    carries no entry and every partition filter treats it
    conservatively (scanned, never silently dropped). None when the
    table is unpartitioned.

    Spark percent-escapes reserved characters ('%', '=', ':', ...) in
    Hive partition dir names, so the captured segment is DECODED before
    it is stored — a partition filter compares LOGICAL values, and
    ``{'col': 'a=b'}`` must match the on-disk ``col=a%3Db`` segment.
    '+' is kept as is (file URIs never encode a space that way); a
    segment that is not valid percent-encoding (hand-made dir with a
    bare '%') keeps its raw form instead of failing the commit. The
    column name is regex-escaped so a name containing metacharacters
    cannot corrupt the pattern."""
    if not partition_by:
        return None
    out = {}
    for pcol in partition_by:
        m = re.search(rf"(?:^|/){re.escape(pcol)}=([^/]+)/", path)
        seg = m.group(1) if m else ""
        if seg == "":
            continue
        pre = seg.replace("+", "%2B")
        if re.search(r"%(?![0-9A-Fa-f]{2})", pre):
            decoded = seg  # invalid escape: keep the raw form
        else:
            decoded = urllib.parse.unquote(pre)
        if decoded != "":
            out[pcol] = decoded
    return out


def footer_stats_rows(
    paths,
    columns,
    snapshot_id: int,
    partition_by=(),
):
    """The manifest 'add' rows of data files: ``footers.footer_rows``
    (min/max as float, non-numeric stats NULL) stamped with the
    snapshot, the op and each file's partition values, as a pandas
    frame. Runs on the driver for a commit-scale file list and inside
    each task of the distributed bulk build. Raises when a footer
    cannot be read."""
    import pandas as pd

    from aws_seismic_data_pipeline_spark.sources.footers import (
        FOOTER_COLS,
        footer_rows,
    )

    out = pd.DataFrame(
        footer_rows(sorted(paths), tuple(columns)), columns=FOOTER_COLS
    )
    out["snapshot_id"] = int(snapshot_id)
    out["op"] = "add"
    pv = {p: partition_values_py(p, tuple(partition_by)) for p in paths}
    out["partition_values"] = [pv[p] for p in out["path"]]
    return out


def parquet_num_rows(path: str) -> int:
    """Footer-only row count of one parquet file."""
    import pyarrow.parquet as pq

    return int(pq.ParquetFile(path).metadata.num_rows)
