"""The optimistic-commit protocol as one object (``commit.Transaction``):
every committing verb that fails after its claim and before its publish
must leave the table as it found it — the claim released, so the next
commit lands at once at the same snapshot id, and no staged data file
left beside the table; a verb that plans before it claims must fail
its claim when another writer committed after its plan read the
manifest; and a claimant whose token was taken over must never release
the new owner's token."""

from __future__ import annotations

import glob
import os
import time

import pytest
from pyspark.sql import functions as F

from aws_seismic_data_pipeline_spark.sources.table import _verbs as R
from aws_seismic_data_pipeline_spark.sources.table import (
    commit,
    localman,
    sketches,
)
from aws_seismic_data_pipeline_spark.sources.table.facade import GovernedTable
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
        R.write_stats_manifest(spark, self.files, self.mpath, COLS)
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
    "append": lambda s, t: lambda: R.append_stats_manifest(
        s, t.batch, t.mpath, COLS
    ),
    "remove": lambda s, t: lambda: R.remove_from_manifest(
        s, t.mpath, t.files[:1]
    ),
    "rollback": lambda s, t: (
        R.append_stats_manifest(s, t.batch, t.mpath, COLS),
        lambda: R.rollback_manifest(s, t.mpath, 0),
    )[1],
    "equality_delete": lambda s, t: lambda: R.equality_delete(
        s, t.mpath, "doc_id", [3, 100]
    ),
    "compact_equality_deletes": lambda s, t: (
        R.equality_delete(s, t.mpath, "doc_id", [3, 100]),
        lambda: R.compact_equality_deletes(s, t.mpath, "doc_id"),
    )[1],
    "commit_data_compaction": lambda s, t: lambda: R.commit_data_compaction(
        s, t.mpath, t.files[:2]
    ),
    "optimize_table": lambda s, t: lambda: R.optimize_table(
        s, t.mpath, target_bytes=1 << 30
    ),
    "merge_through_manifest": lambda s, t: _merge(
        s, t, R.merge_through_manifest
    ),
    "merge_with_conflict_retry": lambda s, t: _merge(
        s, t, R.merge_with_conflict_retry
    ),
    "merge_evolve_through_manifest": lambda s, t: (
        lambda: R.merge_evolve_through_manifest(
            s, t.mpath, t.delta(extra=True), "doc_id", ["lang", "n_chars", "tag"]
        )
    ),
    "optimize_zorder": lambda s, t: lambda: R.optimize_zorder(
        s, t.mpath, *COLS, n_files=2
    ),
    "optimize_hilbert": lambda s, t: lambda: R.optimize_hilbert(
        s, t.mpath, *COLS, n_files=2
    ),
    "optimize_zorder_incremental": lambda s, t: (
        lambda: R.optimize_zorder_incremental(s, t.mpath, *COLS, n_files=2)
    ),
    "optimize_hilbert_incremental": lambda s, t: (
        lambda: R.optimize_hilbert_incremental(s, t.mpath, *COLS, n_files=2)
    ),
    "evolve_schema_add": lambda s, t: lambda: R.evolve_schema_add(
        s, t.mpath, "tag", "string"
    ),
    "evolve_schema_rename": lambda s, t: lambda: R.evolve_schema_rename(
        s, t.mpath, "lang", "language"
    ),
    "evolve_schema_drop": lambda s, t: lambda: R.evolve_schema_drop(
        s, t.mpath, "lang"
    ),
    "add_check_constraint": lambda s, t: lambda: R.add_check_constraint(
        s, t.mpath, "pos", "n_chars >= 0", existing=t.docs
    ),
    "drop_constraint": lambda s, t: (
        R.add_check_constraint(s, t.mpath, "pos", "n_chars >= 0"),
        lambda: R.drop_constraint(s, t.mpath, "pos"),
    )[1],
    "sql_insert": _sql_insert,
    "append_bloom_manifest": lambda s, t: (
        R.build_bloom_manifest(s, t.files, t.bloom_dir, "doc_id"),
        lambda: R.append_bloom_manifest(s, t.batch, t.bloom_dir, "doc_id"),
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
    planned = R._next_snapshot(spark, mdir)

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
    assert R._next_snapshot(spark, mdir) == planned, "nothing published"
    assert t.unreferenced() == []
    run()  # would raise ConcurrentCommitError on a leaked claim
    assert R._next_snapshot(spark, mdir) - 1 == planned


def test_sql_insert_rejected_by_gate_leaves_no_file(spark, tmp_path):
    """A SQL INSERT that violates a constraint raises inside its
    transaction: nothing is committed and its staged files are gone."""
    t = _Table(spark, tmp_path)
    R.add_check_constraint(spark, t.mpath, "pos", "n_chars > 0")
    with pytest.raises(R.ConstraintViolationError, match="pos"):
        _sql_insert(spark, t, n_chars="CAST(-5 AS BIGINT)")()
    assert R._next_snapshot(spark, t.mpath) == 2
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
    planned = R._next_snapshot(spark, t.mpath)
    real = commit.Transaction.__enter__

    def racing(txn):
        monkeypatch.setattr(commit.Transaction, "__enter__", real)
        _merge(spark, t, R.merge_through_manifest)()
        return real(txn)

    monkeypatch.setattr(commit.Transaction, "__enter__", racing)
    with pytest.raises(R.ConcurrentCommitError):
        run()
    assert R._next_snapshot(spark, t.mpath) == planned + 1
    dup = (
        R.read_with_deletes(spark, t.mpath, "doc_id")
        .groupBy("doc_id")
        .count()
        .filter("count > 1")
    )
    assert dup.count() == 0
    assert t.unreferenced() == []


def test_aborted_claimant_keeps_the_takeover_token(spark, tmp_path):
    """A's token is taken over as stale by B while A is still running;
    A then aborts. A must not release B's token: B commits at the id,
    and a third claim of it raises instead of handing the same snapshot
    to a second writer."""
    t = _Table(spark, tmp_path)
    token = os.path.join(t.mpath, "_commits", "1")
    with pytest.raises(RuntimeError, match="A aborts"):
        with R.Transaction(spark, t.mpath) as a:
            assert a.snapshot_id == 1
            old = time.time() - 1000
            os.utime(token, (old, old))
            b = R.Transaction(spark, t.mpath).__enter__()
            assert b.snapshot_id == 1
            raise RuntimeError("A aborts")
    assert os.path.isdir(token), "A released B's token"
    b.commit(adds=t.batch, columns=COLS)
    b.__exit__(None, None, None)
    assert R._next_snapshot(spark, t.mpath) == 2
    with pytest.raises(R.ConcurrentCommitError):
        R.claim_commit(spark, t.mpath, 0)
