"""Write-time constraint enforcement on the governed table — Delta's
CHECK-constraint / NOT NULL analog (round-12 verdict item 5).

Constraints are DECLARED as manifest metadata commits ('constraint_add'
rows, dropped via 'constraint_drop') and ENFORCED at every
:class:`..table.facade.GovernedTable` ``append`` / ``merge`` /
``merge_concurrent`` before anything commits: a violating batch is
rejected LOUDLY (:class:`ConstraintViolationError` with per-constraint
violation counts) and the table state — snapshots, claims, files — is
untouched. This is the write-side complement of the read-side audit
(:mod:`...plans.validate` ``validate_constraints``): the audit reports
what already landed; the gate stops a bad batch from landing at all.

Scale shape: enforcement is ONE map-side conditional-count aggregate
over the incoming batch (all constraints folded into a single pass,
no shuffle, no join); declaring a constraint with
``validate_existing`` is one full-scan aggregate — the same price
Delta pays for ``ALTER TABLE ADD CONSTRAINT``.

Seed: the reference ingests malformed responses as dead-letter
placeholder files with no write-side contract at all
(``/root/reference/app.py:306-334``) — a governed table refuses the
batch instead.
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


class ConstraintViolationError(ValueError):
    """A write batch violates the table's declared constraints — the
    commit was REJECTED; nothing landed. Carries per-constraint
    violation counts in the message."""


def active_constraints(
    spark: SparkSession,
    manifest_dir: str,
    as_of: int | None = None,
    man=None,
) -> list[tuple[str, str, str]]:
    """The table's live constraints at ``as_of``: [(name, kind, expr)]
    — 'constraint_add' declarations not superseded by a later
    'constraint_drop' of the same name.

    Read DRIVER-SIDE (:func:`localman.commit_rows`; ``man`` passes a
    manifest frame the verb already loaded): this runs inside EVERY
    gated append/merge, and a Spark job to answer a question about
    kilobytes of local metadata is exactly the per-commit constant the
    r12 bench regression taught us to avoid."""
    rows = localman.commit_rows(
        manifest_dir,
        ("constraint_add", "constraint_drop"),
        ("snapshot_id", "op", "column_name", "partition_values"),
        man,
        upto=as_of,
    )
    state: dict[str, tuple[int, str, str]] = {}
    for snap, op, name, pv in rows.itertuples(index=False):
        snap, pv = int(snap), pv or {}
        prev = state.get(name)
        if prev is not None and prev[0] >= snap:
            continue
        if op == "constraint_drop":
            state[name] = (snap, "", "")
        else:
            state[name] = (
                snap,
                pv.get("kind", "check"),
                pv.get("expr", "true"),
            )
    return sorted(
        (name, kind, expr)
        for name, (_snap, kind, expr) in state.items()
        if expr
    )


def enforce_constraints(
    spark: SparkSession,
    manifest_dir: str,
    batch: DataFrame,
    constraints: list[tuple[str, str, str]] | None = None,
) -> None:
    """Gate a write batch against the table's live constraints in ONE
    map-side pass: every constraint folds into a conditional count in
    a single aggregate (no shuffle, no join, no second scan). Raises
    :class:`ConstraintViolationError` naming every violated constraint
    and its violation count; returns silently when clean or when the
    table declares no constraints. A constraint referencing a column
    the batch does not carry counts every row as violating for
    NOT NULL (the column IS null everywhere) and errors analysis-time
    for CHECK — both loud, never silent."""
    if constraints is None:
        constraints = active_constraints(spark, manifest_dir)
    if not constraints:
        return
    aggs = []
    for name, _kind, expr in constraints:
        cond = F.expr(expr)
        # NULL check results violate too (Delta: CHECK must be TRUE)
        aggs.append(
            F.sum(
                F.when(cond.isNull() | ~cond, F.lit(1)).otherwise(F.lit(0))
            ).alias(name)
        )
    counts = batch.agg(*aggs).collect()[0].asDict()
    bad = {k: int(v) for k, v in counts.items() if v}
    if bad:
        raise ConstraintViolationError(
            f"write rejected by table constraints at {manifest_dir}: "
            + ", ".join(
                f"{name} ({n} violating rows)" for name, n in sorted(bad.items())
            )
        )


def _constraint_row(snap: int, name: str, op: str, pv: dict[str, str]):
    """One uncommitted declaration row (a pandas frame) at ``snap``."""
    import pandas as _pd

    return _pd.DataFrame(
        [
            {
                "path": "",
                "file_name": "",
                "column_name": name,
                "snapshot_id": int(snap),
                "op": op,
                "partition_values": pv,
            }
        ]
    )


def add_check_constraint(
    spark: SparkSession,
    manifest_dir: str,
    name: str,
    expr: str,
    existing: DataFrame | None = None,
) -> int:
    """Declare CHECK ``expr`` (any boolean SQL over the table's
    columns) as a metadata commit; every subsequent governed write is
    gated on it. When ``existing`` is passed (the table's current
    read), it is validated first — Delta's ALTER TABLE ADD CONSTRAINT
    contract: you cannot declare a constraint the table already
    violates. Raises on a duplicate live name; a failed validation
    stages nothing and claims nothing. The validation is a full-table
    aggregate that runs before the claim: a commit that lands during
    it fails the claim. Returns the snapshot id."""
    with Transaction(spark, manifest_dir) as txn:
        live = {
            n
            for n, _k, _e in active_constraints(
                spark, manifest_dir, man=txn.man
            )
        }
        if name in live:
            raise ValueError(
                f"constraint {name!r} already exists at {manifest_dir}"
            )
        if existing is not None:
            enforce_constraints(
                spark, manifest_dir, existing, [(name, "check", expr)]
            )
        row = _constraint_row(
            txn.snapshot_id,
            name,
            "constraint_add",
            {"kind": "check", "expr": str(expr)},
        )
        return txn.commit(extra=[row])


def add_not_null_constraint(
    spark: SparkSession,
    manifest_dir: str,
    column: str,
    existing: DataFrame | None = None,
) -> int:
    """NOT NULL on ``column`` — stored and enforced as the CHECK
    ``column IS NOT NULL`` under the name ``<column>_not_null``."""
    return add_check_constraint(
        spark,
        manifest_dir,
        f"{column}_not_null",
        f"{column} IS NOT NULL",
        existing=existing,
    )


def drop_constraint(spark: SparkSession, manifest_dir: str, name: str) -> int:
    """Retire a constraint as a metadata commit; raises on an unknown
    name (a silent no-op would leave the caller believing the gate is
    gone). Returns the snapshot id."""
    with Transaction(spark, manifest_dir) as txn:
        live = {
            n
            for n, _k, _e in active_constraints(
                spark, manifest_dir, man=txn.man
            )
        }
        if name not in live:
            raise ValueError(
                f"constraint {name!r} does not exist at {manifest_dir} "
                f"(live: {sorted(live)})"
            )
        row = _constraint_row(txn.snapshot_id, name, "constraint_drop", {})
        return txn.commit(extra=[row])


@register(
    "plan_constraint_enforce",
    oracle="""
        WITH good AS (
            SELECT doc_id, lang, n_chars FROM documents
            UNION ALL
            SELECT doc_id + 1000000, lang, n_chars
            FROM documents WHERE doc_id % 11 = 0
        )
        SELECT lang,
               CAST(COUNT(*) AS BIGINT) AS n_docs,
               CAST(SUM(n_chars) AS BIGINT) AS sum_chars
        FROM good
        GROUP BY lang
    """,
    tags=("plan", "quality", "maintenance"),
)
def plan_constraint_enforce(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Write-time constraint enforcement end to end: documents land
    governed, CHECK (n_chars > 0) and NOT NULL lang are declared as
    metadata commits, a GOOD batch appends cleanly, then a BAD batch
    (NULL langs and non-positive n_chars) is REJECTED — no snapshot,
    no manifest row, no claim leaked — and a second good commit
    proceeds at the next id. The final read equals documents ∪ good
    batch exactly (the oracle recomputes it raw): if the bad batch
    leaked through, langs gain a NULL group and sum_chars shifts; if
    rejection corrupted state, the follow-up append fails. Scale: the
    gate is ONE map-side aggregate over the batch."""
    import glob as _glob

    from aws_seismic_data_pipeline_spark.catalog import (
        scratch_cleanup,
        scratch_path,
    )
    from aws_seismic_data_pipeline_spark.sources.table.facade import (
        GovernedTable,
    )

    prepare(spark)
    data_dir = scratch_path(spark, sf_dir, "constraint_data")
    mpath = scratch_path(spark, sf_dir, "constraint_manifest")
    with scratch_cleanup(data_dir, mpath):
        docs = load_table(spark, sf_dir, "documents").select(
            "doc_id", "lang", "n_chars"
        )
        table = GovernedTable.create(
            spark, docs, data_dir, mpath, "doc_id", n_files=4
        )
        table.add_constraint("chars_positive", "n_chars > 0")
        table.add_not_null("lang")

        def _land(df, name):
            stage = os.path.join(data_dir, f".stage_{name}")
            df.coalesce(1).write.mode("overwrite").parquet(stage)
            part = sorted(
                _glob.glob(os.path.join(stage, "part-*.parquet"))
            )[0]
            dst = os.path.join(data_dir, f"{name}-00000.parquet")
            os.replace(part, dst)
            return dst

        good = docs.filter(F.col("doc_id") % 11 == 0).withColumn(
            "doc_id", F.col("doc_id") + F.lit(1000000)
        )
        bad = docs.limit(50).select(
            (F.col("doc_id") + F.lit(2000000)).alias("doc_id"),
            F.when(F.col("doc_id") % 2 == 0, F.col("lang")).alias("lang"),
            (F.col("n_chars") * F.lit(0)).alias("n_chars"),
        )
        good_path = _land(good, "good")
        bad_path = _land(bad, "bad")
        try:
            table.append([bad_path])
            raise AssertionError("bad batch must be rejected")
        except ConstraintViolationError:
            os.remove(bad_path)  # the rejected batch never registers
        table.append([good_path])
        return (
            table.scan_with_deletes()
            .groupBy("lang")
            .agg(
                F.count(F.lit(1)).alias("n_docs"),
                F.sum("n_chars").cast("long").alias("sum_chars"),
            )
            .localCheckpoint(eager=True)
        )
