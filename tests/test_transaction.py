"""The optimistic-commit protocol as one object (``commit.Transaction``):
every committing verb that fails in its publish must leave the table as
it found it — the claim released, so the next commit lands at once at
the same snapshot id, and no staged data file left beside the table; a
verb plans from its transaction's frame and must fail its claim when
another writer committed after that frame was loaded (the facade then
re-plans); a claimant whose token was taken over must never release the
new owner's token; and one transaction opens the manifest at most
twice."""

from __future__ import annotations

import glob
import os
import time

import pytest
from pyspark.sql import functions as F

from aws_seismic_data_pipeline_spark.sources.table import (
    commit,
    constraints,
    deletes,
    evolution,
    localman,
    maintenance,
    manifest,
    sketches,
)
from aws_seismic_data_pipeline_spark.sources.table.facade import GovernedTable
from aws_seismic_data_pipeline_spark.sources.table.logstore import (
    log_store_for,
)
from aws_seismic_data_pipeline_spark.sources.table.sqlface import (
    governed_sql_write,
)
from .conftest import SF_DIR

COLS = ("doc_id", "n_chars")


class _Table:
    """A 4-file documents table under ``tmp_path`` (round-robin files,
    so every file spans both stats columns) with its stats manifest at
    snapshot 0, plus a 5-row batch landed OUTSIDE the table dir."""

    def __init__(self, spark, tmp_path):
        self.docs = spark.read.parquet(f"{SF_DIR}/documents.parquet").select(
            "doc_id", "lang", "n_chars"
        )
        self.data_dir = str(tmp_path / "data")
        self.docs.repartition(4).write.parquet(self.data_dir)
        self.files = sorted(glob.glob(self.data_dir + "/*.parquet"))
        self.mpath = str(tmp_path / "manifest")
        manifest.write_stats_manifest(spark, self.files, self.mpath, COLS)
        batch_dir = str(tmp_path / "batch")
        self.docs.limit(5).select(
            (F.col("doc_id") + 10**6).alias("doc_id"), "lang", "n_chars"
        ).coalesce(1).write.parquet(batch_dir)
        self.batch = sorted(glob.glob(batch_dir + "/*.parquet"))
        self.bloom_dir = str(tmp_path / "bloom")

    def delta(self, extra: bool = False):
        upd = self.docs.limit(3).withColumn("n_chars", F.col("n_chars") + 1)
        ins = self.docs.limit(1).select(
            (F.col("doc_id") + 10**7).alias("doc_id"), "lang", "n_chars"
        )
        d = upd.unionByName(ins)
        return d.withColumn("tag", F.lit("t")) if extra else d

    def unreferenced(self) -> list[str]:
        """Data files under the table dir (stage dirs included) that no
        manifest row names."""
        referenced = set(localman.load(self.mpath)["path"])
        return sorted(
            os.path.join(d, f)
            for d, _sub, names in os.walk(self.data_dir)
            for f in names
            if f.endswith(".parquet") and os.path.join(d, f) not in referenced
        )


def _sql_insert(spark, t, n_chars: str = "n_chars"):
    table = GovernedTable(spark, t.data_dir, t.mpath, "doc_id")
    return lambda: governed_sql_write(
        spark,
        table,
        "INSERT INTO t SELECT doc_id + 90000 AS doc_id, lang, "
        f"{n_chars} AS n_chars FROM t WHERE doc_id < 5",
        name="t",
    )


def _merge(spark, t, verb):
    return lambda: verb(
        spark, t.mpath, t.delta(), "doc_id", ["lang", "n_chars"]
    )


#: verb name -> setup(spark, table), returning the verb call to plant in
CASES = {
    "append": lambda s, t: lambda: manifest.append_stats_manifest(
        s, t.batch, t.mpath, COLS
    ),
    "remove": lambda s, t: lambda: manifest.remove_from_manifest(
        s, t.mpath, t.files[:1]
    ),
    "rollback": lambda s, t: (
        manifest.append_stats_manifest(s, t.batch, t.mpath, COLS),
        lambda: maintenance.rollback_manifest(s, t.mpath, 0),
    )[1],
    "equality_delete": lambda s, t: lambda: deletes.equality_delete(
        s, t.mpath, "doc_id", [3, 100]
    ),
    "compact_equality_deletes": lambda s, t: (
        deletes.equality_delete(s, t.mpath, "doc_id", [3, 100]),
        lambda: deletes.compact_equality_deletes(s, t.mpath, "doc_id"),
    )[1],
    "commit_data_compaction": lambda s, t: lambda: maintenance.commit_data_compaction(
        s, t.mpath, t.files[:2]
    ),
    "optimize_table": lambda s, t: lambda: maintenance.optimize_table(
        s, t.mpath, target_bytes=1 << 30
    ),
    "merge_through_manifest": lambda s, t: _merge(
        s, t, maintenance.merge_through_manifest
    ),
    "merge_with_conflict_retry": lambda s, t: _merge(
        s, t, maintenance.merge_with_conflict_retry
    ),
    "merge_evolve_through_manifest": lambda s, t: (
        lambda: maintenance.merge_evolve_through_manifest(
            s, t.mpath, t.delta(extra=True), "doc_id", ["lang", "n_chars", "tag"]
        )
    ),
    "optimize_zorder": lambda s, t: lambda: maintenance.optimize_zorder(
        s, t.mpath, *COLS, n_files=2
    ),
    "optimize_hilbert": lambda s, t: lambda: maintenance.optimize_hilbert(
        s, t.mpath, *COLS, n_files=2
    ),
    "optimize_zorder_incremental": lambda s, t: (
        lambda: maintenance.optimize_zorder_incremental(s, t.mpath, *COLS, n_files=2)
    ),
    "optimize_hilbert_incremental": lambda s, t: (
        lambda: maintenance.optimize_hilbert_incremental(s, t.mpath, *COLS, n_files=2)
    ),
    "evolve_schema_add": lambda s, t: lambda: evolution.evolve_schema_add(
        s, t.mpath, "tag", "string"
    ),
    "evolve_schema_rename": lambda s, t: lambda: evolution.evolve_schema_rename(
        s, t.mpath, "lang", "language"
    ),
    "evolve_schema_drop": lambda s, t: lambda: evolution.evolve_schema_drop(
        s, t.mpath, "lang"
    ),
    "add_check_constraint": lambda s, t: lambda: constraints.add_check_constraint(
        s, t.mpath, "pos", "n_chars >= 0", existing=t.docs
    ),
    "drop_constraint": lambda s, t: (
        constraints.add_check_constraint(s, t.mpath, "pos", "n_chars >= 0"),
        lambda: constraints.drop_constraint(s, t.mpath, "pos"),
    )[1],
    "sql_insert": _sql_insert,
    "append_bloom_manifest": lambda s, t: (
        sketches.build_bloom_manifest(s, t.files, t.bloom_dir, "doc_id"),
        lambda: sketches.append_bloom_manifest(s, t.batch, t.bloom_dir, "doc_id"),
    )[1],
}


@pytest.mark.parametrize("verb", sorted(CASES))
def test_failed_commit_releases_claim_and_staged_files(
    spark, tmp_path, monkeypatch, verb
):
    """A failure planted between the claim and the publish surfaces,
    releases the claim (the rerun lands at once at the SAME id) and
    leaves no unreferenced data file in the table's directories."""
    t = _Table(spark, tmp_path)
    run = CASES[verb](spark, t)
    mdir = t.bloom_dir if verb == "append_bloom_manifest" else t.mpath
    planned = commit._next_snapshot(spark, mdir)

    def planted(*_a, **_k):
        raise RuntimeError("planted commit failure")

    # the bloom append publishes with its own Spark write; every other
    # verb publishes one manifest file through localman.write_rows
    if verb == "append_bloom_manifest":
        monkeypatch.setattr(sketches, "read_footer_stats_multi", planted)
    else:
        monkeypatch.setattr(localman, "write_rows", planted)
    with pytest.raises(RuntimeError, match="planted commit failure"):
        run()
    monkeypatch.undo()

    assert not os.path.exists(os.path.join(mdir, "_commits", str(planned)))
    assert commit._next_snapshot(spark, mdir) == planned, "nothing published"
    assert t.unreferenced() == []
    run()  # would raise ConcurrentCommitError on a leaked claim
    assert commit._next_snapshot(spark, mdir) - 1 == planned


def test_sql_insert_rejected_by_gate_leaves_no_file(spark, tmp_path):
    """A SQL INSERT that violates a constraint raises inside its
    transaction: nothing is committed and its staged files are gone."""
    t = _Table(spark, tmp_path)
    constraints.add_check_constraint(spark, t.mpath, "pos", "n_chars > 0")
    with pytest.raises(constraints.ConstraintViolationError, match="pos"):
        _sql_insert(spark, t, n_chars="CAST(-5 AS BIGINT)")()
    assert commit._next_snapshot(spark, t.mpath) == 2
    assert t.unreferenced() == []


#: verbs that read the manifest for their plan before they claim
PLAN_THEN_CLAIM = (
    "commit_data_compaction",
    "compact_equality_deletes",
    "merge_evolve_through_manifest",
    "merge_through_manifest",
    "optimize_table",
    "optimize_zorder",
    "optimize_hilbert_incremental",
    "rollback",
)


@pytest.mark.parametrize("verb", PLAN_THEN_CLAIM)
def test_commit_after_the_plan_fails_the_claim(
    spark, tmp_path, monkeypatch, verb
):
    """Writer B's MERGE commits after writer A's verb planned and just
    before A claims. A's claim must raise instead of publishing a plan
    made on the snapshot B replaced (a rewrite of files B already
    rewrote shows every key B touched twice): B's commit is the only
    one, no key is duplicated, and A left no file behind."""
    t = _Table(spark, tmp_path)
    run = CASES[verb](spark, t)
    planned = commit._next_snapshot(spark, t.mpath)
    real = commit.claim_commit

    def racing(*args, **kwargs):
        monkeypatch.setattr(commit, "claim_commit", real)
        _merge(spark, t, maintenance.merge_through_manifest)()
        return real(*args, **kwargs)

    # A's publish claims right after this hook: B lands first
    monkeypatch.setattr(commit, "claim_commit", racing)
    with pytest.raises(commit.ConcurrentCommitError):
        run()
    assert commit._next_snapshot(spark, t.mpath) == planned + 1
    dup = (
        deletes.read_with_deletes(spark, t.mpath, "doc_id")
        .groupBy("doc_id")
        .count()
        .filter("count > 1")
    )
    assert dup.count() == 0
    assert t.unreferenced() == []


def test_aborted_claimant_keeps_the_takeover_token(
    spark, tmp_path, monkeypatch
):
    """B takes A's token over as stale inside A's publish, between A's
    claim and its lease check; A's lease check then fails and A
    aborts. A must delete what it staged but must not release B's
    token: a third claim of the id raises while B is in flight, and B
    commits at the id."""
    t = _Table(spark, tmp_path)
    token = os.path.join(t.mpath, "_commits", "1")
    real = commit.claim_commit

    def taken_over(*args, **kwargs):
        snap = real(*args, **kwargs)
        old = time.time() - 1000
        os.utime(token, (old, old))
        assert real(spark, t.mpath, 0, owner="writer-b") == 1
        return snap

    monkeypatch.setattr(commit, "claim_commit", taken_over)
    with pytest.raises(commit.ConcurrentCommitError, match="revoked"):
        _merge(spark, t, maintenance.merge_through_manifest)()
    monkeypatch.undo()
    assert t.unreferenced() == [], "A left its staged files behind"
    assert log_store_for(t.mpath).read_token_owner(token) == "writer-b", (
        "A released B's token"
    )
    with pytest.raises(commit.ConcurrentCommitError, match="in-flight"):
        commit.claim_commit(spark, t.mpath, 0)
    commit.verify_claim(t.mpath, 1, "writer-b")
    manifest.commit_files(spark, t.mpath, 1, adds=t.batch, columns=COLS)
    assert commit._next_snapshot(spark, t.mpath) == 2
    with pytest.raises(commit.ConcurrentCommitError, match="committed"):
        commit.claim_commit(spark, t.mpath, 0)


def test_facade_merge_replans_after_a_lost_race(spark, tmp_path, monkeypatch):
    """Writer B's MERGE commits between the facade MERGE's plan and its
    publish. A's claim fails, and A re-plans from the new frame in a
    fresh transaction: it lands two ids above the snapshot it first
    planned on, B's rows are in, and no key is duplicated."""
    t = _Table(spark, tmp_path)
    table = GovernedTable(spark, t.data_dir, t.mpath, "doc_id")
    tip = commit._next_snapshot(spark, t.mpath) - 1
    mine = t.docs.filter(F.col("doc_id") % 50 == 7).withColumn(
        "n_chars", F.col("n_chars") + 100
    )
    real = commit.claim_commit

    def racing(*args, **kwargs):
        monkeypatch.setattr(commit, "claim_commit", real)
        _merge(spark, t, maintenance.merge_through_manifest)()
        return real(*args, **kwargs)

    monkeypatch.setattr(commit, "claim_commit", racing)
    snap, _n_int, _n_rw = table.merge(mine, ["lang", "n_chars"])
    assert snap == tip + 2
    assert commit._next_snapshot(spark, t.mpath) == tip + 3
    got = {
        r.doc_id: r.n_chars
        for r in deletes.read_with_deletes(spark, t.mpath, "doc_id").collect()
    }
    base = {r.doc_id: r.n_chars for r in t.docs.collect()}
    assert len(got) == table.scan_with_deletes().count() == len(base) + 1
    for r in t.delta().collect():  # B's updates and its insert
        assert got[r.doc_id] == r.n_chars
    for r in mine.collect():
        assert got[r.doc_id] == r.n_chars
    assert t.unreferenced() == []


#: facade verb -> (setup(table), the verb call whose manifest opens
#: are counted)
OPEN_CASES = {
    "merge_with_a_constraint": lambda tb, t: (
        tb.add_constraint("pos", "n_chars >= 0", validate_existing=False),
        lambda: tb.merge(t.delta(), ["lang", "n_chars"]),
    )[1],
    "optimize_one_bin": lambda tb, t: lambda: tb.optimize(1 << 30),
    "compact_deletes": lambda tb, t: (
        tb.delete_keys([3, 100]),
        tb.compact_deletes,
    )[1],
    "delete_keys": lambda tb, t: lambda: tb.delete_keys([3, 100]),
}


@pytest.mark.parametrize("verb", sorted(OPEN_CASES))
def test_a_transaction_opens_the_manifest_twice(
    spark, tmp_path, monkeypatch, verb
):
    """One committing verb, one transaction: the manifest is opened
    once for the transaction's frame and once for the claim's tip
    check — the plan, the constraint gate and the commit read the
    frame, never the manifest again."""
    import pyarrow.dataset as pads

    t = _Table(spark, tmp_path)
    table = GovernedTable(spark, t.data_dir, t.mpath, "doc_id")
    run = OPEN_CASES[verb](table, t)
    real = pads.dataset
    opens = []

    def counting(source, *args, **kwargs):
        if str(source).startswith(t.mpath):
            opens.append(source)
        return real(source, *args, **kwargs)

    before = commit._next_snapshot(spark, t.mpath)
    monkeypatch.setattr(pads, "dataset", counting)
    run()
    assert len(opens) <= 2, opens
    monkeypatch.undo()
    assert commit._next_snapshot(spark, t.mpath) == before + 1


def test_compaction_of_files_no_longer_visible_raises(spark, tmp_path):
    """A file list read before a MERGE rewrote those files is stale:
    compacting it would re-add the old rows beside the rewrites (every
    key of those files twice). The compaction raises ValueError naming
    the paths its transaction's frame no longer shows, and the table is
    left as it was."""
    t = _Table(spark, tmp_path)
    table = GovernedTable(spark, t.data_dir, t.mpath, "doc_id")
    stale = table.visible_files()
    table.merge(t.delta(), ["lang", "n_chars"])
    gone = sorted(set(stale) - set(table.visible_files()))
    assert gone, "the MERGE rewrote no file of the list"
    n_rows, snap = table.row_count(), commit._next_snapshot(spark, t.mpath)
    with pytest.raises(ValueError, match="not visible") as err:
        table.compact_files(stale)
    assert all(p in str(err.value) for p in gone)
    assert table.row_count() == n_rows
    assert table.scan_with_deletes().count() == t.docs.count() + 1
    assert commit._next_snapshot(spark, t.mpath) == snap
    assert t.unreferenced() == []
