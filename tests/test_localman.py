"""Pins for the driver-side manifest reads (``sources/table/localman``):
every file-scale pandas twin must return exactly what the Spark
computation it replaces returns — with the localman gate open and
closed — the commit-scale questions must answer without a Spark job,
and pyarrow-written manifest files must interoperate with Spark-written
ones in one directory (both engines, both write orders)."""

from __future__ import annotations

import glob
import os

import pandas as pd
import pytest
from pyspark.sql import functions as F

from aws_seismic_data_pipeline_spark.catalog import load_table
from aws_seismic_data_pipeline_spark.sources.table import localman
from aws_seismic_data_pipeline_spark.sources.table.logstore import (
    manifest_data_dir as _mdd,
)
from aws_seismic_data_pipeline_spark.sources.table.manifest import (
    _visible_stats,
    append_stats_manifest,
    manifest_row_count,
    write_stats_manifest,
)

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")


@pytest.fixture(scope="module")
def staged(spark, tmp_path_factory):
    """A governed fixture with real history: build (snapshot 0), an
    append (1), a remove tombstone (2), an equality delete (3) — the op
    mix every localman read twin must agree with Spark on."""
    root = tmp_path_factory.mktemp("localman")
    data_dir = str(root / "data")
    mpath = str(root / "manifest")
    docs = load_table(spark, SF_DIR, "documents").select(
        "doc_id", "lang", "n_chars"
    )
    docs.repartition(4, "doc_id").write.mode("overwrite").parquet(data_dir)
    files = sorted(glob.glob(os.path.join(data_dir, "*.parquet")))
    write_stats_manifest(spark, files, mpath, ("doc_id",))
    extra = docs.filter(F.col("doc_id") % 13 == 0).withColumn(
        "doc_id", F.col("doc_id") + F.lit(1000000)
    )
    stage = os.path.join(data_dir, ".stage")
    extra.coalesce(1).write.mode("overwrite").parquet(stage)
    part = sorted(glob.glob(os.path.join(stage, "part-*.parquet")))[0]
    new_path = os.path.join(data_dir, "appended-00000.parquet")
    os.replace(part, new_path)
    append_stats_manifest(spark, [new_path], mpath, ("doc_id",))
    from aws_seismic_data_pipeline_spark.sources.table.manifest import (
        remove_from_manifest,
    )

    remove_from_manifest(spark, mpath, [files[0]])
    from aws_seismic_data_pipeline_spark.sources.table.deletes import (
        equality_delete,
    )

    equality_delete(spark, mpath, "doc_id", [11, 22, 33])
    return data_dir, mpath


def test_load_matches_spark_collect(spark, staged):
    _data, mpath = staged
    man = localman.load(mpath)
    assert man is not None
    srows = spark.read.parquet(_mdd(mpath)).collect()
    assert len(man) == len(srows)
    want = sorted(
        (r.path, r.op, int(r.snapshot_id), r.column_name) for r in srows
    )
    got = sorted(
        zip(
            man["path"],
            man["op"],
            (int(s) for s in man["snapshot_id"]),
            man["column_name"],
        )
    )
    assert got == want


def test_load_gate_routes_to_spark(spark, staged, monkeypatch):
    """r15 verdict item 1: ``load()`` must refuse manifests larger
    than ``_LOCAL_MAN_MAX`` rows (driver-heap guard) so callers fall
    back to the distributed Spark path — with identical results."""
    _data, mpath = staged
    want = manifest_row_count(spark, mpath)  # fast path (gate open)
    monkeypatch.setattr(localman, "_LOCAL_MAN_MAX", 0)
    assert localman.load(mpath) is None  # gate closed: fallback signal
    # the verb still answers, via its original Spark computation
    assert manifest_row_count(spark, mpath) == want
    monkeypatch.setattr(localman, "_LOCAL_MAN_MAX", 10**12)
    assert localman.load(mpath) is not None  # gate open again


@pytest.mark.parametrize("as_of", [None, 0, 1, 2])
def test_visible_matches(spark, staged, as_of):
    _data, mpath = staged
    man = localman.load(mpath)
    vis_pd = localman.visible(man, as_of)
    vis_spark = _visible_stats(spark.read.parquet(_mdd(mpath)), as_of)
    want = sorted(
        (r.path, int(r.row_group), r.column_name)
        for r in vis_spark.select("path", "row_group", "column_name")
        .collect()
    )
    got = sorted(
        zip(
            vis_pd["path"],
            (int(v) for v in vis_pd["row_group"]),
            vis_pd["column_name"],
        )
    )
    assert got == want


@pytest.mark.parametrize(
    "lo,hi", [(-float("inf"), float("inf")), (0, 100), (1e9, 2e9)]
)
def test_matching_paths(spark, staged, lo, hi):
    _data, mpath = staged
    man = localman.load(mpath)
    vis = localman.visible(man, None)
    got = localman.matching_paths(vis, "doc_id", lo, hi)
    manifest = _visible_stats(spark.read.parquet(_mdd(mpath)), None)
    per_file = (
        manifest.filter(F.col("column_name") == "doc_id")
        .groupBy("path")
        .agg(
            F.min("min_val").alias("fmin"),
            F.max("max_val").alias("fmax"),
            F.sum(
                F.when(F.col("min_val").isNull(), 1).otherwise(0)
            ).alias("n_statless"),
        )
    )
    want = sorted(
        r.path
        for r in per_file.filter(
            (F.col("n_statless") > 0)
            | ((F.col("fmax") >= lo) & (F.col("fmin") <= hi))
        ).collect()
    )
    assert got == want


def test_row_count_matches(spark, staged):
    _data, mpath = staged
    man = localman.load(mpath)
    for as_of in (None, 0, 1):
        assert localman.row_count(man, as_of) == manifest_row_count(
            spark, mpath, as_of
        )


def test_snapshot_for_timestamp_matches(spark, staged):
    """Each commit's own clock resolves to that commit; a clock past
    the newest commit resolves to the tip; one before the first raises.
    The loaded frame and the filtered pyarrow read agree."""
    _data, mpath = staged
    man = localman.load(mpath)
    marks = man[man["op"] == "commit_ts"]
    clocks = dict(zip(marks["snapshot_id"].astype(int), marks["min_val"]))
    assert sorted(clocks)[:4] == [0, 1, 2, 3]
    for snap in (0, 1, 2, 3):
        for frame in (man, None):
            assert (
                localman.snapshot_for_timestamp(mpath, clocks[snap], frame)
                == snap
            )
    tip = max(clocks)
    assert localman.snapshot_for_timestamp(mpath, clocks[tip] + 100) == tip
    with pytest.raises(ValueError, match="precedes the earliest"):
        localman.snapshot_for_timestamp(mpath, min(clocks.values()) - 1)


def test_live_delete_keys(spark, staged):
    """The equality delete at snapshot 3 is in force from 3 on and
    invisible below it, through both inputs of the helper."""
    _data, mpath = staged
    man = localman.load(mpath)
    for frame in (man, None):
        assert localman.live_delete_keys(mpath, "doc_id", None, frame) == [
            11.0,
            22.0,
            33.0,
        ]
        assert localman.live_delete_keys(mpath, "doc_id", 3, frame) == [
            11.0,
            22.0,
            33.0,
        ]
        # below the delete snapshot: no keys in force
        assert localman.live_delete_keys(mpath, "doc_id", 2, frame) == []
        assert localman.live_delete_keys(mpath, "n_chars", None, frame) == []


def _read_side_answers(spark, data_dir, mpath):
    """Every read-side verb's answer over the staged table, as plain
    values."""
    from aws_seismic_data_pipeline_spark.sources.table.cdf import (
        table_changes,
    )
    from aws_seismic_data_pipeline_spark.sources.table.deletes import (
        read_with_deletes,
    )
    from aws_seismic_data_pipeline_spark.sources.table.evolution import (
        read_evolved,
    )
    from aws_seismic_data_pipeline_spark.sources.table.facade import (
        GovernedTable,
    )
    from aws_seismic_data_pipeline_spark.sources.table.manifest import (
        describe_history,
        manifest_count_range,
        manifest_incremental_scan,
        manifest_pruned_scan,
        manifest_pruned_scan_multi,
        manifest_pruned_scan_multi_rowgroup,
    )

    def rows(df):
        return sorted(tuple(r) for r in df.collect())

    table = GovernedTable(spark, data_dir, mpath, "doc_id")
    box = {"doc_id": (0.0, 50.0)}
    out = {}
    for as_of in (None, 0, 1, 2):
        out[("pruned", as_of)] = rows(
            manifest_pruned_scan(spark, mpath, "doc_id", 0, 100, as_of=as_of)
        )
        out[("multi", as_of)] = rows(
            manifest_pruned_scan_multi(spark, mpath, box, as_of=as_of)
        )
        out[("multi_rowgroup", as_of)] = rows(
            manifest_pruned_scan_multi_rowgroup(spark, mpath, box, as_of=as_of)
        )
        out[("row_count", as_of)] = manifest_row_count(spark, mpath, as_of)
        out[("count_range", as_of)] = manifest_count_range(
            spark, mpath, "doc_id", 0, 100, as_of=as_of
        )
        out[("visible_files", as_of)] = table.visible_files(as_of)
    for as_of in (None, 2):
        out[("with_deletes", as_of)] = rows(
            read_with_deletes(spark, mpath, "doc_id", as_of=as_of)
        )
        out[("evolved", as_of)] = rows(
            read_evolved(spark, mpath, "doc_id", as_of=as_of)
        )
    out["history"] = rows(describe_history(spark, mpath))
    out["incremental"] = rows(manifest_incremental_scan(spark, mpath, 0, 3))
    out["changes"] = rows(table_changes(spark, mpath, "doc_id", 0, 3))
    return out


def test_read_side_verbs_agree_with_gate_closed(spark, staged, monkeypatch):
    """Closing the localman gate routes every file-scale question to
    its Spark twin — the path a manifest over ``_LOCAL_MAN_MAX`` rows
    takes — and every read-side verb must still give the same answer."""
    data_dir, mpath = staged
    want = _read_side_answers(spark, data_dir, mpath)
    assert want[("row_count", None)] > 0
    assert want[("pruned", None)] and want["changes"]
    monkeypatch.setattr(localman, "_LOCAL_MAN_MAX", 0)
    assert localman.load(mpath) is None
    got = _read_side_answers(spark, data_dir, mpath)
    assert got.keys() == want.keys()
    for k in want:
        assert got[k] == want[k], k


def test_commit_scale_questions_start_no_spark_job(
    spark, staged, monkeypatch
):
    """With the gate closed, the commit-scale questions still answer
    from one filtered pyarrow read each — no Spark job."""
    from perfbench.harness import StatusCounters

    from aws_seismic_data_pipeline_spark.sources.table.commit import (
        _next_snapshot,
    )
    from aws_seismic_data_pipeline_spark.sources.table.constraints import (
        active_constraints,
    )
    from aws_seismic_data_pipeline_spark.sources.table.manifest import (
        manifest_incremental_scan,
    )

    _data, mpath = staged
    monkeypatch.setattr(localman, "_LOCAL_MAN_MAX", 0)
    counters = StatusCounters(spark)
    clock = localman.commit_rows(mpath, ("commit_ts",), ("min_val",))
    assert localman.snapshot_for_timestamp(mpath, clock["min_val"].max()) >= 3
    localman.check_floor(mpath, 0)  # never expired: any pin is readable
    assert localman.live_delete_keys(mpath, "doc_id", None) == [
        11.0,
        22.0,
        33.0,
    ]
    assert localman.schema_ops(mpath, None) == []
    assert localman.declared_names(mpath) == set()
    assert active_constraints(spark, mpath) == []
    assert _next_snapshot(spark, mpath) >= 4
    manifest_incremental_scan(spark, mpath, 0, 3)  # planned, not run
    assert counters.delta()["jobs"] == 0


def test_expire_floor_raises_with_gate_closed(
    spark, staged, tmp_path, monkeypatch
):
    """Above the localman gate the pruned scans still refuse a pin
    below the expire floor — the check reads only the expire rows."""
    from aws_seismic_data_pipeline_spark.sources.table.maintenance import (
        expire_manifest_history,
    )
    from aws_seismic_data_pipeline_spark.sources.table.manifest import (
        manifest_pruned_scan,
        manifest_pruned_scan_multi,
        manifest_pruned_scan_multi_rowgroup,
        remove_from_manifest,
    )

    data_dir, _m = staged
    mpath = str(tmp_path / "manifest")
    files = sorted(glob.glob(os.path.join(data_dir, "*.parquet")))
    write_stats_manifest(spark, files, mpath, ("doc_id",))
    append_stats_manifest(spark, files[:1], mpath, ("doc_id",))
    remove_from_manifest(spark, mpath, files[1:2])
    expire_manifest_history(spark, mpath, 2)
    monkeypatch.setattr(localman, "_LOCAL_MAN_MAX", 0)
    box = {"doc_id": (0.0, 1e9)}
    scans = (
        lambda as_of: manifest_pruned_scan(
            spark, mpath, "doc_id", 0, 1e9, as_of=as_of
        ),
        lambda as_of: manifest_pruned_scan_multi(
            spark, mpath, box, as_of=as_of
        ),
        lambda as_of: manifest_pruned_scan_multi_rowgroup(
            spark, mpath, box, as_of=as_of
        ),
    )
    for scan in scans:
        with pytest.raises(ValueError, match="below the expire floor 2"):
            scan(1)
        scan(2)  # at the floor: readable


def test_expire_local_rewrite_failure_raises_and_releases_lease(
    spark, staged, tmp_path, monkeypatch
):
    """Below the localman gate a failed pyarrow rewrite raises instead
    of silently rerunning the expire in Spark; the manifest is left as
    it was and the swap-guard lease is released, so the next commit
    lands."""
    import pyarrow.parquet as pq

    from aws_seismic_data_pipeline_spark.sources.table.maintenance import (
        expire_manifest_history,
    )
    from aws_seismic_data_pipeline_spark.sources.table.manifest import (
        remove_from_manifest,
    )

    data_dir, _m = staged
    mpath = str(tmp_path / "manifest")
    files = sorted(glob.glob(os.path.join(data_dir, "*.parquet")))
    write_stats_manifest(spark, files, mpath, ("doc_id",))
    append_stats_manifest(spark, files[:1], mpath, ("doc_id",))
    remove_from_manifest(spark, mpath, files[1:2])

    def rows():
        return sorted(map(repr, localman.load(mpath).to_dict("records")))

    before = rows()

    def planted(*_a, **_k):
        raise OSError("planted pyarrow write failure")

    with monkeypatch.context() as m:
        m.setattr(pq, "write_table", planted)
        with pytest.raises(OSError, match="planted"):
            expire_manifest_history(spark, mpath, 2)
    assert rows() == before
    append_stats_manifest(spark, files[2:3], mpath, ("doc_id",))
    assert int(localman.load(mpath)["snapshot_id"].max()) == 3


def test_expire_agrees_with_gate_closed(spark, staged, tmp_path, monkeypatch):
    """Above the localman gate the expire runs as a Spark rewrite, the
    only path a manifest that large takes; it must keep exactly the
    rows the driver-side rewrite keeps."""
    from aws_seismic_data_pipeline_spark.sources.table.maintenance import (
        expire_manifest_history,
    )
    from aws_seismic_data_pipeline_spark.sources.table.manifest import (
        remove_from_manifest,
    )

    data_dir, _m = staged
    files = sorted(glob.glob(os.path.join(data_dir, "*.parquet")))

    def expired(name, gate):
        mpath = str(tmp_path / name)
        write_stats_manifest(spark, files, mpath, ("doc_id",))
        append_stats_manifest(spark, files[:1], mpath, ("doc_id",))
        remove_from_manifest(spark, mpath, files[1:2])
        append_stats_manifest(spark, files[2:3], mpath, ("doc_id",))
        with monkeypatch.context() as m:
            m.setattr(localman, "_LOCAL_MAN_MAX", gate)
            counts = expire_manifest_history(spark, mpath, 3)
        out = []
        for rec in localman.load(mpath)[list(localman._COLS)].to_dict(
            "records"
        ):
            if rec["op"] in ("commit_ts", "remove"):  # wall clocks
                rec["min_val"] = rec["max_val"] = None
            out.append(repr(rec))
        return counts, sorted(out)

    want = expired("open", localman._LOCAL_MAN_MAX)
    assert expired("closed", 0) == want
    assert want[0][1] < want[0][0]


def test_next_snapshot_absent_empty_and_corrupt(spark, staged, tmp_path):
    """An absent or still-empty manifest starts at snapshot 0; an
    unreadable manifest file raises instead — claiming 0 there would
    stamp new rows onto an id that already has committed history."""
    import shutil

    from aws_seismic_data_pipeline_spark.sources.table.commit import (
        Transaction,
        _next_snapshot,
    )
    from aws_seismic_data_pipeline_spark.sources.table.manifest import (
        remove_from_manifest,
    )

    data_dir, _m = staged
    assert _next_snapshot(spark, str(tmp_path / "absent")) == 0
    empty = tmp_path / "empty"
    (empty / "_commits").mkdir(parents=True)
    assert _next_snapshot(spark, str(empty)) == 0

    mpath = str(tmp_path / "manifest")
    files = sorted(glob.glob(os.path.join(data_dir, "*.parquet")))
    write_stats_manifest(spark, files, mpath, ("doc_id",))
    append_stats_manifest(spark, files[:1], mpath, ("doc_id",))
    remove_from_manifest(spark, mpath, files[1:2])
    assert _next_snapshot(spark, mpath) == 3
    shutil.rmtree(os.path.join(mpath, "_commits"))  # a stale token tree
    victim = sorted(glob.glob(os.path.join(_mdd(mpath), "*.parquet")))[0]
    with open(victim, "r+b") as fh:
        fh.truncate(os.path.getsize(victim) // 2)
    with pytest.raises(Exception):
        _next_snapshot(spark, mpath)
    with pytest.raises(Exception):  # a pyarrow failure raises, not None
        localman.load(mpath)
    with pytest.raises(Exception):
        with Transaction(spark, mpath):
            pass
    assert not os.path.exists(os.path.join(mpath, "_commits", "0"))


def test_write_rows_interop(spark, staged):
    """A pyarrow-written commit file must read back identically through
    Spark and pyarrow, in a directory already holding Spark-written
    files — and the manifest schema must not fork."""
    _data, mpath = staged
    before = spark.read.parquet(_mdd(mpath))
    n_before = before.count()
    pdf = pd.DataFrame(
        [
            {
                "path": "/x/y.parquet",
                "file_name": "y.parquet",
                "row_group": None,
                "column_name": "__remove__",
                "n_rows": None,
                "min_val": 42.0,
                "max_val": 42.0,
                "snapshot_id": 99,
                "op": "remove",
                "partition_values": None,
            },
            {
                "path": "",
                "file_name": "",
                "column_name": "__commit_ts__",
                "min_val": 777.0,
                "max_val": 777.0,
                "snapshot_id": 99,
                "op": "commit_ts",
                "partition_values": {"a": "b"},
            },
        ]
    )
    localman.write_rows(mpath, pdf)
    after = spark.read.parquet(_mdd(mpath))
    assert after.schema == before.schema
    assert after.count() == n_before + 2
    got = {
        (
            r.path,
            r.op,
            float(r.min_val),
            tuple(sorted((r.partition_values or {}).items())),
        )
        for r in after.filter(F.col("snapshot_id") == 99).collect()
    }
    assert got == {
        ("/x/y.parquet", "remove", 42.0, ()),
        ("", "commit_ts", 777.0, (("a", "b"),)),
    }
    man = localman.load(mpath)
    assert len(man) == n_before + 2


def test_footer_stats_rows_match_distributed(spark, staged, monkeypatch):
    """The driver-side add rows equal the distributed footer read's."""
    data_dir, _m = staged
    from aws_seismic_data_pipeline_spark.sources import footers

    files = sorted(glob.glob(os.path.join(data_dir, "*.parquet")))
    monkeypatch.setattr(footers, "_LOCAL_COMMIT_MAX", 0)
    want = sorted(
        tuple(r)
        for r in footers.read_footer_stats_multi(
            spark, files, ("doc_id", "n_chars")
        ).collect()
    )
    got_pdf = localman.footer_stats_rows(
        files, ("doc_id", "n_chars"), 7
    )
    got = sorted(
        (p, fn, int(rg), c, int(n), mn, mx)
        for p, fn, rg, c, n, mn, mx in zip(
            got_pdf["path"],
            got_pdf["file_name"],
            got_pdf["row_group"],
            got_pdf["column_name"],
            got_pdf["n_rows"],
            got_pdf["min_val"],
            got_pdf["max_val"],
        )
    )
    assert got == want
    assert set(got_pdf["snapshot_id"]) == {7}
    assert set(got_pdf["op"]) == {"add"}


def test_partition_values_py_matches_spark():
    """partition_values on Hive layouts: the decoded value of each
    ``col=value/`` segment, '+' kept, an invalid escape kept raw, no
    entry where the segment is missing — the values Spark's
    ``try_url_decode`` expression gave when it stamped them."""
    want = {
        "/t/lang=en/part-0.parquet": {"lang": "en"},
        # no trailing-slash match on sub
        "/t/lang=fr/sub/part-1.parquet": {"lang": "fr"},
        "/t/other=1/part-2.parquet": {},
        "/t/lang=a%3Db/part-3.parquet": {"lang": "a=b"},
        "/t/lang=sp+ace/part-4.parquet": {"lang": "sp+ace"},
        "/t/lang=bad%zz/part-5.parquet": {"lang": "bad%zz"},
        "/t/part-6.parquet": {},
    }
    got = {p: localman.partition_values_py(p, ("lang",)) for p in want}
    assert got == want
    assert localman.partition_values_py("/t/lang=en/x.parquet", ()) is None


def _rowgroup_eliminated_paths(manifest, predicates):
    """Spark reference for row-group elimination: paths where NO row
    group can satisfy every predicate at once (one groupBy over the
    stats rows; NULL ranges conservatively pass)."""
    aggs = []
    for i, (column, _rng) in enumerate(sorted(predicates.items())):
        is_col = F.col("column_name") == column
        aggs.append(F.max(F.when(is_col, F.col("min_val"))).alias(f"_min{i}"))
        aggs.append(F.max(F.when(is_col, F.col("max_val"))).alias(f"_max{i}"))
    per_rg = (
        manifest.filter(F.col("column_name").isin(list(predicates)))
        .groupBy("path", "row_group")
        .agg(*aggs)
    )
    rg_ok = F.lit(True)
    for i, (_column, (lo, hi)) in enumerate(sorted(predicates.items())):
        rg_ok = rg_ok & F.coalesce(
            (F.col(f"_max{i}") >= lo) & (F.col(f"_min{i}") <= hi), F.lit(True)
        )
    return (
        per_rg.withColumn("_rg_ok", rg_ok)
        .groupBy("path")
        .agg(F.max(F.col("_rg_ok").cast("int")).alias("_any_ok"))
        .filter(F.col("_any_ok") == 0)
        .select("path")
    )


def test_multi_and_rowgroup_survivors(spark, staged):
    _data, mpath = staged
    man = localman.load(mpath)
    vis = localman.visible(man, None)
    preds = {"doc_id": (0.0, 50.0)}
    got = localman.surviving_paths_multi_rowgroup(vis, preds)
    manifest = _visible_stats(spark.read.parquet(_mdd(mpath)), None)
    eliminated = _rowgroup_eliminated_paths(manifest, preds)
    survivors = (
        manifest.select("path")
        .distinct()
        .join(eliminated, "path", "left_anti")
    )
    want = sorted(r.path for r in survivors.collect())
    assert got == want


def _read_manifest(mpath):
    """The whole manifest through pyarrow, whatever the localman gate."""
    import pyarrow.dataset as pads

    return localman._frame(
        pads.dataset(_mdd(mpath), format="parquet").to_table()
    )


#: the random parts of data file names: the uuid of a Spark part file
#: and the transaction tag of a staged ``<prefix>-<snapshot>-<tag>``
_RANDOM_NAME_PARTS = (
    r"-[0-9a-f]{8}(?:-[0-9a-f]{4}){3}-[0-9a-f]{12}"
    r"|(?<=\d)-[0-9a-f]{12}(?=[-./])"
)


def _commit_sequence(spark, template, root):
    """Copy the table under ``template`` to ``root`` and run every
    compound commit on it: build, append, MERGE, OPTIMIZE, data
    compaction, equality delete and its compaction. Returns the final
    manifest rows (paths relative to ``root``, the wall clocks of
    commit_ts and remove rows blanked) and the number of manifest
    files each commit added."""
    import shutil

    from aws_seismic_data_pipeline_spark.sources.table.deletes import (
        compact_equality_deletes,
        equality_delete,
    )
    from aws_seismic_data_pipeline_spark.sources.table.maintenance import (
        commit_data_compaction,
        merge_through_manifest,
        optimize_zorder,
    )

    shutil.copytree(template, root)
    data_dir, mpath = os.path.join(root, "data"), os.path.join(root, "m")
    part = ("lang",)
    cols = ("doc_id", "n_chars")
    files = sorted(glob.glob(os.path.join(data_dir, "lang=*", "*.parquet")))
    write_stats_manifest(spark, files, mpath, cols, partition_by=part)

    def manifest_files():
        return len(glob.glob(os.path.join(_mdd(mpath), "*.parquet")))

    added = {}

    def commit(name, verb):
        before = manifest_files()
        verb()
        added[name] = manifest_files() - before

    docs = spark.read.parquet(data_dir)
    commit(
        "append",
        lambda: append_stats_manifest(
            spark,
            [os.path.join(data_dir, "lang=en", "appended-00000.parquet")],
            mpath,
            cols,
            partition_by=part,
        ),
    )
    delta = docs.filter(F.col("doc_id") % 5 == 0).withColumn(
        "n_chars", F.col("n_chars") + 1
    )
    inserts = docs.filter(F.col("doc_id") % 50 == 1).withColumn(
        "doc_id", F.col("doc_id") + F.lit(2000000)
    )
    commit(
        "merge",
        lambda: merge_through_manifest(
            spark,
            mpath,
            delta.unionByName(inserts),
            "doc_id",
            ["n_chars"],
            partition_by=part,
        ),
    )
    commit(
        "optimize",
        lambda: optimize_zorder(
            spark, mpath, "doc_id", "n_chars", n_files=2, partition_by=part
        ),
    )
    vis = localman.visible(_read_manifest(mpath), None)
    en = sorted(p for p in vis["path"].unique() if "/lang=en/" in p)
    commit(
        "compaction",
        lambda: commit_data_compaction(spark, mpath, en, partition_by=part),
    )
    commit("delete", lambda: equality_delete(spark, mpath, "doc_id", [15, 40]))
    commit(
        "delete_compaction",
        lambda: compact_equality_deletes(spark, mpath, "doc_id"),
    )

    import re

    # OPTIMIZE keeps Spark's part-file names, which carry a random uuid,
    # and staged names carry their transaction's random tag
    uuid = re.compile(_RANDOM_NAME_PARTS)

    def norm(v):
        if isinstance(v, dict):
            return tuple(sorted(v.items()))
        if v is None or (isinstance(v, float) and v != v):
            return None
        if isinstance(v, str):
            return uuid.sub("", v.replace(root, "<root>"))
        return float(v)

    man = _read_manifest(mpath)
    rows = []
    for rec in man[list(localman._COLS)].to_dict("records"):
        if rec["op"] in ("commit_ts", "remove"):
            rec["min_val"] = rec["max_val"] = None
        rows.append(tuple(norm(rec[c]) for c in localman._COLS))
    return sorted(rows, key=repr), added


def test_commits_agree_with_commit_gate_closed(spark, tmp_path, monkeypatch):
    """Closing the commit gate (``footers._LOCAL_COMMIT_MAX`` = 0, the
    one binding every footer read and commit consults) sends each
    footer read to the distributed fan-out — the path a commit over
    more than 64 files takes. Closing the manifest gate
    (``localman._LOCAL_MAN_MAX`` = 0) sends each verb's planning to
    ``localman.answer``'s Spark placement. Either way every compound
    commit must still land the gate-open manifest rows, as exactly ONE
    manifest file."""
    from aws_seismic_data_pipeline_spark.sources import footers

    template = str(tmp_path / "template")
    data_dir = os.path.join(template, "data")
    docs = load_table(spark, SF_DIR, "documents").select(
        "doc_id", "lang", "n_chars"
    )
    docs.repartition(2).write.partitionBy("lang").parquet(data_dir)
    extra = docs.filter(F.col("doc_id") % 13 == 0).select(
        (F.col("doc_id") + F.lit(1000000)).alias("doc_id"), "n_chars"
    )
    stage = os.path.join(template, "stage")
    extra.coalesce(1).write.parquet(stage)
    os.replace(
        sorted(glob.glob(os.path.join(stage, "part-*.parquet")))[0],
        os.path.join(data_dir, "lang=en", "appended-00000.parquet"),
    )
    # range exchanges sample their bounds with a per-RDD seed; sampling
    # every row keeps the two runs' rewritten files identical
    key = "spark.sql.execution.rangeExchange.sampleSizePerPartition"
    prior = spark.conf.get(key)
    spark.conf.set(key, "1000000")
    try:
        want, want_added = _commit_sequence(
            spark, template, str(tmp_path / "open")
        )
        with monkeypatch.context() as m:
            # the manifest gate closed: every write verb's planning runs
            # in localman.answer's path-partitioned Spark tasks
            m.setattr(localman, "_LOCAL_MAN_MAX", 0)
            planned, planned_added = _commit_sequence(
                spark, template, str(tmp_path / "man_closed")
            )
        monkeypatch.setattr(footers, "_LOCAL_COMMIT_MAX", 0)
        got, got_added = _commit_sequence(
            spark, template, str(tmp_path / "closed")
        )
    finally:
        spark.conf.set(key, prior)
    assert {op for *_, op, _pv in want} >= {"add", "remove", "delete_eq"}
    assert got == want
    assert planned == want
    assert want_added == got_added == planned_added == {
        "append": 1,
        "merge": 1,
        "optimize": 1,
        "compaction": 1,
        "delete": 1,
        "delete_compaction": 1,
    }


def _write_side_sequence(spark, template, root):
    """Copy the table under ``template`` to ``root`` and run the write
    verbs whose planning is file-scale: append twice, rollback past the
    second append, vacuum report, incremental z-order OPTIMIZE, MERGE
    with schema evolution and bin-pack OPTIMIZE. Returns each verb's
    answer and the final manifest rows, paths relative to ``root``,
    wall clocks blanked."""
    import re
    import shutil

    from aws_seismic_data_pipeline_spark.sources.table.maintenance import (
        merge_evolve_through_manifest,
        optimize_table,
        optimize_zorder_incremental,
        rollback_manifest,
        vacuum_orphans_report,
    )

    shutil.copytree(template, root)
    data_dir, mpath = os.path.join(root, "data"), os.path.join(root, "m")
    cols = ("doc_id", "n_chars")
    base = sorted(glob.glob(os.path.join(data_dir, "part-*.parquet")))
    write_stats_manifest(spark, base, mpath, cols)
    late = sorted(glob.glob(os.path.join(data_dir, "late-*.parquet")))
    append_stats_manifest(spark, late[:1], mpath, cols)
    append_stats_manifest(spark, late[1:], mpath, cols)
    uuid = re.compile(_RANDOM_NAME_PARTS)

    def norm(v):
        if isinstance(v, dict):
            return tuple(sorted(v.items()))
        if isinstance(v, (list, tuple)):
            return tuple(norm(x) for x in v)
        if v is None or (isinstance(v, float) and v != v):
            return None
        if isinstance(v, str):
            return uuid.sub("", v.replace(root, "<root>"))
        return float(v)

    out = {"rollback": rollback_manifest(spark, mpath, 1)}
    report = vacuum_orphans_report(spark, data_dir, mpath)
    out["vacuum"] = sorted(tuple(r) for r in report.collect())
    out["zorder_incremental"] = optimize_zorder_incremental(
        spark, mpath, "doc_id", "n_chars", n_files=1
    )
    docs = spark.read.parquet(*base)
    delta = docs.filter(F.col("doc_id") % 4 == 0).select(
        "doc_id",
        (F.col("n_chars") + 1).alias("n_chars"),
        F.lit("x").alias("tag"),
    )
    out["merge_evolve"] = merge_evolve_through_manifest(
        spark, mpath, delta, "doc_id", ["n_chars", "tag"]
    )
    out["optimize"] = optimize_table(spark, mpath, 1 << 30)
    rows = []
    for rec in _read_manifest(mpath)[list(localman._COLS)].to_dict("records"):
        if rec["op"] in ("commit_ts", "remove"):
            rec["min_val"] = rec["max_val"] = None
        rows.append(tuple(norm(rec[c]) for c in localman._COLS))
    return {k: norm(v) for k, v in out.items()}, sorted(rows, key=repr)


def test_write_side_planning_agrees_with_gate_closed(
    spark, tmp_path, monkeypatch
):
    """With the manifest gate closed, rollback, the vacuum report,
    incremental OPTIMIZE, MERGE with schema evolution and bin-pack
    OPTIMIZE plan through ``localman.answer``'s Spark placement and must
    give the gate-open answers and manifest rows."""
    template = str(tmp_path / "template")
    data_dir = os.path.join(template, "data")
    docs = load_table(spark, SF_DIR, "documents").select("doc_id", "n_chars")
    docs.repartitionByRange(4, "doc_id").write.parquet(data_dir)
    # late-0 spans the whole key range (the scattered tail incremental
    # OPTIMIZE rewrites); late-1 lands above it and is rolled back
    for i, shift in enumerate((0, 1000000)):
        stage = os.path.join(template, f"stage{i}")
        docs.filter(F.col("doc_id") % 7 == i).withColumn(
            "doc_id", F.col("doc_id") + F.lit(shift)
        ).coalesce(1).write.parquet(stage)
        os.replace(
            sorted(glob.glob(os.path.join(stage, "part-*.parquet")))[0],
            os.path.join(data_dir, f"late-{i}.parquet"),
        )
    key = "spark.sql.execution.rangeExchange.sampleSizePerPartition"
    prior = spark.conf.get(key)
    spark.conf.set(key, "1000000")
    try:
        want = _write_side_sequence(spark, template, str(tmp_path / "open"))
        monkeypatch.setattr(localman, "_LOCAL_MAN_MAX", 0)
        got = _write_side_sequence(spark, template, str(tmp_path / "closed"))
    finally:
        spark.conf.set(key, prior)
    answers = want[0]
    assert answers["rollback"] == 3.0
    assert len(answers["vacuum"]) > 0
    assert answers["zorder_incremental"][1] == 1.0  # the scattered append
    assert answers["merge_evolve"][3] == ("tag",)
    assert got == want


def test_merge_evolve_schema_read_failure_raises(
    spark, staged, tmp_path, monkeypatch
):
    """The evolved-column decision reads the first visible file's
    footer; a failed read raises and commits nothing, instead of
    sampling another file through Spark."""
    import pyarrow.parquet as pq

    from aws_seismic_data_pipeline_spark.sources.table.maintenance import (
        merge_evolve_through_manifest,
    )

    data_dir, _m = staged
    mpath = str(tmp_path / "manifest")
    files = sorted(glob.glob(os.path.join(data_dir, "*.parquet")))
    write_stats_manifest(spark, files, mpath, ("doc_id",))
    before = sorted(map(repr, _read_manifest(mpath).to_dict("records")))
    delta = spark.read.parquet(files[0]).select(
        "doc_id", F.lit(1).alias("extra")
    )

    def planted(*_a, **_k):
        raise OSError("planted footer read failure")

    monkeypatch.setattr(pq, "read_schema", planted)
    with pytest.raises(OSError, match="planted"):
        merge_evolve_through_manifest(spark, mpath, delta, "doc_id", ["extra"])
    monkeypatch.undo()
    after = sorted(map(repr, _read_manifest(mpath).to_dict("records")))
    assert after == before


def test_manifest_schema_read_failure_surfaces_from_commits(
    spark, staged, tmp_path, monkeypatch
):
    """A commit shapes its rows by the manifest's on-disk schema; when
    that footer read fails, the read's own error surfaces — neither
    "no readable manifest file" nor a silent cast to the canonical
    schema — and nothing is committed."""
    import pyarrow.parquet as pq

    from aws_seismic_data_pipeline_spark.sources.table.deletes import (
        equality_delete,
    )
    from aws_seismic_data_pipeline_spark.sources.table.manifest import (
        remove_from_manifest,
    )

    data_dir, _m = staged
    files = sorted(glob.glob(os.path.join(data_dir, "*.parquet")))

    def planted(*_a, **_k):
        raise OSError("planted manifest schema read failure")

    # one manifest per verb: a failed commit keeps its claimed snapshot
    verbs = {
        "remove": lambda m: remove_from_manifest(spark, m, files[:1]),
        "delete": lambda m: equality_delete(spark, m, "doc_id", [11]),
    }
    for name, commit in verbs.items():
        mpath = str(tmp_path / name)
        write_stats_manifest(spark, files, mpath, ("doc_id",))
        before = sorted(map(repr, _read_manifest(mpath).to_dict("records")))
        with monkeypatch.context() as m:
            m.setattr(pq, "read_schema", planted)
            with pytest.raises(OSError, match="planted"):
                commit(mpath)
        after = sorted(map(repr, _read_manifest(mpath).to_dict("records")))
        assert after == before, name


@pytest.mark.parametrize("gate", ["open", "closed"])
def test_unmatched_partition_filter_scans_return_no_rows(
    spark, tmp_path, monkeypatch, gate
):
    """A partition filter that matches no file gives an empty scan with
    the table's columns: the empty result's schema file comes from the
    visible files before the partition filter."""
    from aws_seismic_data_pipeline_spark.sources.table.facade import (
        GovernedTable,
    )

    docs = load_table(spark, SF_DIR, "documents").select(
        "doc_id", "lang", "n_chars"
    )
    table = GovernedTable.create(
        spark,
        docs,
        str(tmp_path / "data"),
        str(tmp_path / "m"),
        "doc_id",
        n_files=2,
        partition_by=("lang",),
    )
    columns = table.scan().columns
    if gate == "closed":
        monkeypatch.setattr(localman, "_LOCAL_MAN_MAX", 0)
    none = {"lang": "xx"}
    box = {"doc_id": (float("-inf"), float("inf"))}
    for df in (
        table.scan(partition_filter=none),
        table.scan_multi(box, partition_filter=none),
        table.scan_multi_rowgroup(box, partition_filter=none),
    ):
        assert df.columns == columns
        assert df.count() == 0
