"""Change Data Feed pins (round-13 verdict item 4): per-window change
sets for merge / equality-delete / compaction commits, both window
directions, and the no-double-report interaction between a delete and
the compaction that later materializes it."""

from __future__ import annotations

import glob

import pytest
from pyspark.sql import functions as F

from .conftest import SF_DIR


def _changes_by_type(df):
    return {
        r._change_type: int(r.n)
        for r in df.groupBy("_change_type").agg(F.count("*").alias("n")).collect()
    }


@pytest.fixture()
def cdf_table(spark, tmp_path):
    """documents governed at snapshot 0; MERGE (update %7 rows +100,
    insert %13 rows under +1000000 ids) at 1; equality delete of %11
    keys at 2."""
    from aws_seismic_data_pipeline_spark.sources.table.facade import (
        GovernedTable,
    )

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet").select(
        "doc_id", "lang", "n_chars"
    )
    t = GovernedTable.create(
        spark,
        docs,
        str(tmp_path / "data"),
        str(tmp_path / "manifest"),
        "doc_id",
        n_files=4,
    )
    updates = docs.filter(F.col("doc_id") % 7 == 0).withColumn(
        "n_chars", F.col("n_chars") + F.lit(100)
    )
    inserts = docs.filter(F.col("doc_id") % 13 == 0).withColumn(
        "doc_id", F.col("doc_id") + F.lit(1000000)
    )
    t.merge(updates.unionByName(inserts), ["lang", "n_chars"])
    del_keys = [
        r.doc_id
        for r in docs.filter(F.col("doc_id") % 11 == 0).select("doc_id").collect()
    ]
    t.delete_keys(del_keys)
    counts = {
        "upd": docs.filter(F.col("doc_id") % 7 == 0).count(),
        "ins": docs.filter(F.col("doc_id") % 13 == 0).count(),
        "del": len(del_keys),
    }
    return t, docs, counts


def test_cdf_window_directions(spark, cdf_table):
    """(0,1] carries exactly the merge's changes, (1,2] exactly the
    delete's, (0,2] their union — and a delete preimage of a row the
    merge updated carries the POST-update value (each commit diffs
    against its own parent)."""
    t, docs, c = cdf_table

    merge_win = _changes_by_type(t.changes(0, 1))
    assert merge_win == {
        "update_preimage": c["upd"],
        "update_postimage": c["upd"],
        "insert": c["ins"],
    }
    del_win = _changes_by_type(t.changes(1, 2))
    assert del_win == {"delete": c["del"]}
    full = _changes_by_type(t.changes(0, 2))
    assert full == {
        "update_preimage": c["upd"],
        "update_postimage": c["upd"],
        "insert": c["ins"],
        "delete": c["del"],
    }
    # empty window
    assert t.changes(2, 2).count() == 0

    # updated-then-deleted (%77) rows: the delete preimage must carry
    # the post-update n_chars
    both = t.changes(1, 2).filter(F.col("doc_id") % 77 == 0)
    orig = {
        r.doc_id: r.n_chars
        for r in docs.filter(F.col("doc_id") % 77 == 0).collect()
    }
    got = {r.doc_id: r.n_chars for r in both.collect()}
    assert got and all(got[k] == orig[k] + 100 for k in got)

    # update preimages carry the ORIGINAL values
    pre = {
        r.doc_id: r.n_chars
        for r in t.changes(0, 1)
        .filter(
            (F.col("_change_type") == "update_preimage")
            & (F.col("doc_id") % 77 == 0)
        )
        .collect()
    }
    assert pre and all(pre[k] == orig[k] for k in pre)


def test_cdf_maintenance_commits_feed_nothing(spark, cdf_table, tmp_path):
    """A compaction (including one that materializes earlier deletes)
    moves rows without changing them: its window adds NO feed rows —
    the deleted rows were already reported at their delete_eq commit
    and must not re-report when physically dropped."""
    t, _docs, c = cdf_table
    tip_before = max(int(r.snapshot_id) for r in t.history().collect())

    snap_c, _n_cand, _n_rw, n_retired = t.compact_deletes()
    assert n_retired == c["del"]
    assert _changes_by_type(t.changes(tip_before, snap_c)) == {}

    # a plain file compaction inside a window is also silent
    files = t.visible_files()
    assert len(files) > 1
    _new_path, snap_fc = t.compact_files(files)
    assert _changes_by_type(t.changes(snap_c, snap_fc)) == {}

    # and the full window from 0 still reports each change exactly once
    full = _changes_by_type(t.changes(0, snap_fc))
    assert full == {
        "update_preimage": c["upd"],
        "update_postimage": c["upd"],
        "insert": c["ins"],
        "delete": c["del"],
    }


def test_cdf_append_and_retention_delete(spark, tmp_path):
    """A pure append commit feeds every row as insert; a remove-only
    retention delete feeds every removed-file row as delete."""
    from aws_seismic_data_pipeline_spark.sources.table.facade import (
        GovernedTable,
    )
    from aws_seismic_data_pipeline_spark.sources.table.manifest import (
        remove_from_manifest,
    )

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet").select(
        "doc_id", "lang", "n_chars"
    )
    t = GovernedTable.create(
        spark,
        docs,
        str(tmp_path / "d"),
        str(tmp_path / "m"),
        "doc_id",
        n_files=3,
    )
    extra = docs.limit(9).select(
        (F.col("doc_id") + 700000).alias("doc_id"), "lang", "n_chars"
    )
    stage = str(tmp_path / "s")
    extra.coalesce(1).write.parquet(stage)
    new_path = sorted(glob.glob(stage + "/*.parquet"))[0]
    snap_app = t.append([new_path])
    ch = t.changes(snap_app - 1, snap_app)
    assert _changes_by_type(ch) == {"insert": 9}
    assert {r.doc_id for r in ch.collect()} == {
        r.doc_id for r in extra.collect()
    }

    n_removed = spark.read.parquet(new_path).count()
    snap_rm = remove_from_manifest(spark, t.manifest_dir, [new_path])
    rm = t.changes(snap_app, snap_rm)
    assert _changes_by_type(rm) == {"delete": n_removed}


def test_cdf_delete_preimages_prune_candidate_files(spark, tmp_path):
    """The delete-preimage path must open only files whose footer-stats
    key range can contain a deleted key (the merge candidacy pattern)
    — on a range-clustered table a tight delete-key cluster reads a
    strict subset of files. Also pins the diff plan: a full-outer
    sort-merge join on the key, never a cartesian."""
    import glob as _glob

    from pyspark.sql import functions as F

    from aws_seismic_data_pipeline_spark.sources.table.facade import (
        GovernedTable,
    )

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet").select(
        "doc_id", "lang", "n_chars"
    )
    t = GovernedTable.create(
        spark,
        docs,
        str(tmp_path / "d"),
        str(tmp_path / "m"),
        "doc_id",
        n_files=8,  # range-clustered: keys cluster per file
    )
    lo = [r.doc_id for r in docs.orderBy("doc_id").limit(3).collect()]
    snap = t.delete_keys(lo)  # keys from the LOWEST range file only
    ch = t.changes(snap - 1, snap)
    n_total_files = len(t.visible_files(as_of=snap - 1))
    # inputFiles() also lists the manifest's own parquet (the delete-
    # record subtraction reads it) — count DATA files only
    opened = {f for f in ch.inputFiles() if "/d/" in f}
    assert len(opened) < n_total_files, (
        f"delete preimages opened {len(opened)}/{n_total_files} files — "
        "stats candidacy is not pruning"
    )
    assert ch.count() == 3

    # diff plan shape: full-outer SMJ on the key, no cartesian
    upd = docs.limit(5).withColumn("n_chars", F.col("n_chars") + F.lit(1))
    t.merge(upd, ["lang", "n_chars"])
    plan = t.changes(snap, snap + 1)._jdf.queryExecution().executedPlan().toString()
    assert "Cartesian" not in plan and "BroadcastNestedLoop" not in plan


def test_cdf_noop_delete_feeds_zero_rows(spark, cdf_table):
    """A legal no-op equality delete (keys absent from the table /
    outside every file's stats range) must feed ZERO rows for its
    commit — Delta CDF behavior — not permanently break every window
    covering it (r14 ADVICE: _delete_preimages raised ValueError)."""
    t, _docs, c = cdf_table
    tip = max(int(r.snapshot_id) for r in t.history().collect())
    snap = t.delete_keys([-123456789, -987654321])
    ch = t.changes(tip, snap)
    assert ch.count() == 0
    # the full window still reads and still reports the REAL changes
    full = _changes_by_type(t.changes(0, snap))
    assert full == {
        "update_preimage": c["upd"],
        "update_postimage": c["upd"],
        "insert": c["ins"],
        "delete": c["del"],
    }


def test_cdf_empty_window_schema_matches_nonempty(spark, cdf_table):
    """An empty window's frame must carry the key's REAL type (here
    doc_id: bigint), not a hardcoded double — consumers union windowed
    reads and a type flapping on 'did the window contain changes' breaks
    schema-matching (r14 ADVICE)."""
    t, _docs, _c = cdf_table
    empty = t.changes(2, 2)
    assert empty.count() == 0
    assert dict(empty.dtypes)["doc_id"] == "bigint"


def test_cdf_survives_percent_encoded_data_paths(spark, tmp_path):
    """A data dir whose path a URI must percent-encode (a space, a
    '+') still feeds every change: each commit side is read from the
    raw POSIX paths the manifest records (r14 ADVICE: rows routed by a
    URI-form file name once vanished from the feed)."""
    from aws_seismic_data_pipeline_spark.sources.table.facade import (
        GovernedTable,
    )

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet").select(
        "doc_id", "lang", "n_chars"
    )
    t = GovernedTable.create(
        spark,
        docs,
        str(tmp_path / "data dir+x" / "d"),
        str(tmp_path / "data dir+x" / "m"),
        "doc_id",
        n_files=3,
    )
    upd = docs.limit(7).withColumn("n_chars", F.col("n_chars") + F.lit(5))
    t.merge(upd, ["lang", "n_chars"])
    got = _changes_by_type(t.changes(0, 1))
    assert got == {"update_preimage": 7, "update_postimage": 7}


def test_cdf_under_concurrent_merge_retry(spark, tmp_path, monkeypatch):
    """r14 verdict item 6: two CONTENDING writers — writer B's claim
    loses to an in-flight writer A and replays via
    merge_with_conflict_retry — must leave a feed identical to the
    serial recompute: each writer's changes reported EXACTLY once at
    its committed snapshot, nothing from B's aborted attempt, no
    double-reports when B's rewrite touches files A just rewrote."""
    import glob
    import threading
    import time as _time

    from aws_seismic_data_pipeline_spark.sources.table import commit
    from aws_seismic_data_pipeline_spark.sources.table.cdf import (
        table_changes,
    )
    from aws_seismic_data_pipeline_spark.sources.table.deletes import (
        read_with_deletes,
    )
    from aws_seismic_data_pipeline_spark.sources.table.maintenance import (
        merge_through_manifest,
        merge_with_conflict_retry,
    )
    from aws_seismic_data_pipeline_spark.sources.table.manifest import (
        write_stats_manifest,
    )

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet").select(
        "doc_id", "lang", "n_chars"
    )
    data_dir = str(tmp_path / "d")
    docs.repartition(3, "doc_id").write.parquet(data_dir)
    files = sorted(glob.glob(data_dir + "/*.parquet"))
    mpath = str(tmp_path / "m")
    write_stats_manifest(spark, files, mpath, ("doc_id",))

    # overlapping FILE ranges, disjoint KEYS: both writers rewrite the
    # same region, so B's diff runs over files A just rewrote
    delta_a = docs.filter(F.col("doc_id") % 10 == 3).withColumn(
        "n_chars", F.col("n_chars") + F.lit(1000)
    )
    delta_b = docs.filter(F.col("doc_id") % 10 == 4).withColumn(
        "n_chars", F.col("n_chars") + F.lit(2000)
    ).unionByName(
        docs.limit(3).select(
            (F.col("doc_id") + 600000).alias("doc_id"), "lang", "n_chars"
        )
    )
    n_a = delta_a.count()
    n_b_upd = docs.filter(F.col("doc_id") % 10 == 4).count()
    n_b_ins = 3

    b_result: dict = {}

    def writer_b() -> None:
        b_result["out"] = merge_with_conflict_retry(
            spark, mpath, delta_b, "doc_id", ["lang", "n_chars"],
            max_retries=25,
        )

    tb = threading.Thread(target=writer_b)
    real_claim = commit.claim_commit

    def claim_then_start_b(*args, **kwargs):
        snap = real_claim(*args, **kwargs)
        if tb.ident is None:
            # writer A's claim of snapshot 1: writer B starts while A
            # holds it in flight, plans on snapshot 0, loses its claim
            # and replays
            tb.start()
            _time.sleep(0.3)
        return snap

    monkeypatch.setattr(commit, "claim_commit", claim_then_start_b)
    snap_a, _ni, _nr = merge_through_manifest(
        spark, mpath, delta_a, "doc_id", ["lang", "n_chars"]
    )
    assert snap_a == 1
    tb.join(timeout=300)
    assert "out" in b_result, "writer B never committed"
    snap_b, _ni, _nr, retries_b = b_result["out"]
    assert snap_b == 2 and retries_b >= 1, (snap_b, retries_b)

    # the feed over the contended window equals the serial recompute:
    # one pre+post pair per A update at 1, per B update at 2, one
    # insert per B insert at 2 — and no row reported twice
    ch = table_changes(spark, mpath, "doc_id", 0, 2)
    assert ch.count() == ch.distinct().count()
    by = {
        (r._commit_snapshot, r._change_type): int(r.n)
        for r in ch.groupBy("_commit_snapshot", "_change_type")
        .agg(F.count("*").alias("n"))
        .collect()
    }
    assert by == {
        (1, "update_preimage"): n_a,
        (1, "update_postimage"): n_a,
        (2, "update_preimage"): n_b_upd,
        (2, "update_postimage"): n_b_upd,
        (2, "insert"): n_b_ins,
    }, by

    # additive replay of the feed onto the base state reproduces the
    # final table exactly (value-level, not just counts)
    base = {r.doc_id: r.n_chars for r in docs.collect()}
    for r in ch.orderBy("_commit_snapshot").collect():
        if r._change_type in ("insert", "update_postimage"):
            base[r.doc_id] = r.n_chars
        elif r._change_type == "update_preimage":
            assert base[r.doc_id] == r.n_chars  # preimage matches state
        else:
            base.pop(r.doc_id)
    final = {
        r.doc_id: r.n_chars
        for r in read_with_deletes(spark, mpath, "doc_id").collect()
    }
    assert base == final


def test_cdf_reachable_from_sql_text(spark, cdf_table):
    """The change feed joins the SQL face: a `changes={suffix: (from,
    to)}` entry registers the window as a view, so a SQL-only client
    can consume CDF through spark.sql text (Delta's table_changes TVF
    shape) — counts must match the facade route exactly."""
    from aws_seismic_data_pipeline_spark.sources.table.sqlface import (
        governed_sql,
    )

    t, _docs, c = cdf_table
    out = governed_sql(
        spark,
        t,
        """
        SELECT _change_type, COUNT(*) AS n
        FROM t_w GROUP BY _change_type
        """,
        name="t",
        changes={"w": (0, 2)},
    )
    assert {r._change_type: int(r.n) for r in out.collect()} == {
        "update_preimage": c["upd"],
        "update_postimage": c["upd"],
        "insert": c["ins"],
        "delete": c["del"],
    }


def _tip(t) -> int:
    return max(int(r.snapshot_id) for r in t.history().collect())


def test_cdf_window_pairs_with_one_join(spark, tmp_path):
    """A window holding two rewrite commits (a MERGE, then a compaction
    of every visible file) plans exactly ONE join — the pairing join on
    (commit, key) — however many commits it spans, and still feeds
    only the merge's changes."""
    import re

    from aws_seismic_data_pipeline_spark.sources.table.facade import (
        GovernedTable,
    )

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet").select(
        "doc_id", "lang", "n_chars"
    )
    t = GovernedTable.create(
        spark, docs, str(tmp_path / "d"), str(tmp_path / "m"), "doc_id",
        n_files=3,
    )
    upd = docs.filter(F.col("doc_id") % 7 == 0).withColumn(
        "n_chars", F.col("n_chars") + F.lit(1)
    )
    t.merge(upd, ["lang", "n_chars"])
    _path, snap = t.compact_files(t.visible_files())
    assert snap == 2
    ch = t.changes(0, snap)
    plan = ch._jdf.queryExecution().optimizedPlan().toString()
    assert len(re.findall(r"\bJoin\b", plan)) == 1, plan
    n = upd.count()
    assert _changes_by_type(ch) == {
        "update_preimage": n,
        "update_postimage": n,
    }


def test_cdf_window_split_invariance_seismic_shape(spark, tmp_path):
    """The seismic_daily day: a MERGE at k adds a file that the
    OPTIMIZE at k+1 removes again, and an equality delete lands in the
    same window. The feed over the whole window is exactly the union
    of its single-commit windows. A consumer that then drains a
    compaction-only window (the delete materialized) records no
    window, and its state stays equal to the batch recompute."""
    from aws_seismic_data_pipeline_spark.sources.table.facade import (
        GovernedTable,
    )
    from aws_seismic_data_pipeline_spark.streaming.cdf_consumer import (
        CdfConsumer,
    )

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet").select(
        "doc_id", "lang", "n_chars"
    )
    t = GovernedTable.create(
        spark, docs, str(tmp_path / "d"), str(tmp_path / "m"), "doc_id",
        n_files=3,
    )
    c = CdfConsumer(
        spark, t.manifest_dir, "doc_id", "lang", "n_chars",
        base_dir=str(tmp_path / "state"),
    )
    assert c.drain() == 1
    lo = _tip(t)

    before = set(t.visible_files())
    upd = docs.filter(F.col("doc_id") % 5 == 0).withColumn(
        "n_chars", F.col("n_chars") + F.lit(3)
    )
    ins = docs.filter(F.col("doc_id") % 9 == 0).withColumn(
        "doc_id", F.col("doc_id") + F.lit(500000)
    )
    t.merge(upd.unionByName(ins), ["lang", "n_chars"])
    merged = set(t.visible_files())
    t.optimize()
    optimized = set(t.visible_files())
    assert (merged - before) - optimized, "OPTIMIZE kept the MERGE's files"
    t.delete_keys(
        [r.doc_id for r in docs.filter(F.col("doc_id") % 4 == 1).collect()]
    )
    hi = _tip(t)
    assert hi - lo == 3

    def rows(df):
        cols = ["_commit_snapshot", "_change_type", "doc_id", "lang", "n_chars"]
        return sorted(tuple(r) for r in df.select(*cols).collect())

    whole = rows(t.changes(lo, hi))
    split = sorted(
        r for s in range(lo + 1, hi + 1) for r in rows(t.changes(s - 1, s))
    )
    assert whole == split
    assert {r[1] for r in whole} == {
        "insert",
        "update_preimage",
        "update_postimage",
        "delete",
    }

    def batch():
        return {
            (r.lang, r.n_docs, r.sum_chars)
            for r in t.scan_with_deletes()
            .groupBy("lang")
            .agg(
                F.count(F.lit(1)).alias("n_docs"),
                F.sum("n_chars").cast("long").alias("sum_chars"),
            )
            .collect()
        }

    def state():
        return {(r.lang, r.n_docs, r.sum_chars) for r in c.state().collect()}

    assert c.drain() == 2
    assert state() == batch()
    t.compact_deletes()
    assert c.drain() == 2
    assert c._last == _tip(t) == hi + 1
    assert state() == batch()
    c.cleanup()
