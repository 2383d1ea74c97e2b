"""GovernedTable — the user-facing handle over the manifest-governed
table verbs (the DeltaTable / Iceberg Table analog).

Every verb is implemented (and individually driver-hash-checked /
pytest-pinned) in the split table-format modules
(:mod:`..table.manifest` / ``commit`` / ``deletes`` / ``maintenance`` /
``sketches`` / ``evolution``, aggregated by :mod:`._verbs`); this
module only binds them to one (data_dir, manifest_dir, key) triple so
a user migrating from the reference's loose S3-prefix conventions
(`/root/reference/app.py:449-463` — a date-keyed prefix IS its table)
holds one object with the full lifecycle: scan (stats-pruned,
multi-column, as-of, incremental), metadata row counts, retrying
append, copy-on-write merge, row-level delete + its compaction, file
compaction, OPTIMIZE ZORDER, vacuum, clone, rollback, and history
expiry. No new dataflow lives here — thin delegation only, pinned by
the end-to-end scenario test (tests/test_governed_table.py).
"""

from __future__ import annotations

import glob
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from aws_seismic_data_pipeline_spark.sources.footers import read_data_files

from aws_seismic_data_pipeline_spark.sources.table import _verbs as R
from aws_seismic_data_pipeline_spark.sources.table import localman


class GovernedTable:
    """A parquet directory governed by a footer-stats manifest, keyed
    on one numeric column. Construct over existing dirs or via
    :meth:`create` to land a DataFrame range-clustered with a fresh
    manifest."""

    def __init__(
        self,
        spark: SparkSession,
        data_dir: str,
        manifest_dir: str,
        key: str,
        partition_by: tuple[str, ...] = (),
        log_store: object | None = None,
    ) -> None:
        self.spark = spark
        self.data_dir = data_dir
        self.manifest_dir = manifest_dir
        self.key = key
        self.partition_by = tuple(partition_by)
        if log_store is not None:
            # route this manifest's commit primitives through the given
            # substrate (e.g. ObjectStoreLogStore) — see table/logstore.py
            from aws_seismic_data_pipeline_spark.sources.table.logstore import (
                set_log_store,
            )

            set_log_store(manifest_dir, log_store)

    @classmethod
    def create(
        cls,
        spark: SparkSession,
        df: DataFrame,
        data_dir: str,
        manifest_dir: str,
        key: str,
        n_files: int = 16,
        partition_by: tuple[str, ...] = (),
        log_store: object | None = None,
    ) -> "GovernedTable":
        """Land ``df`` range-clustered on ``key`` across ``n_files``
        files and build the stats manifest over them (snapshot 0).
        ``partition_by`` lands Hive-partitioned dirs whose values the
        manifest records for combined partition+stats pruning
        (:func:`manifest.manifest_pruned_scan` ``partition_filter``).
        ``log_store`` selects the commit-atomicity substrate for this
        table's manifest (POSIX default; ``ObjectStoreLogStore`` for
        bucket-honest semantics — table/logstore.py)."""
        writer = df.repartitionByRange(n_files, key).write.mode("overwrite")
        if partition_by:
            writer = writer.partitionBy(*partition_by)
        writer.parquet(data_dir)
        files = sorted(
            glob.glob(os.path.join(data_dir, "**", "*.parquet"), recursive=True)
        )
        R.write_stats_manifest(
            spark, files, manifest_dir, (key,), partition_by=partition_by
        )
        return cls(
            spark, data_dir, manifest_dir, key, partition_by, log_store
        )

    # ---- read side -----------------------------------------------------
    def scan(
        self,
        lo: float = float("-inf"),
        hi: float = float("inf"),
        as_of: int | None = None,
        partition_filter: dict[str, str] | None = None,
    ) -> DataFrame:
        """Stats-pruned key-range scan; ``as_of`` time-travels;
        ``partition_filter`` combines partition pruning with stats
        pruning in the same metadata pass."""
        return R.manifest_pruned_scan(
            self.spark,
            self.manifest_dir,
            self.key,
            lo,
            hi,
            as_of=as_of,
            partition_filter=partition_filter,
        )

    def scan_multi(
        self,
        predicates: dict[str, tuple[float, float]],
        as_of: int | None = None,
        partition_filter: dict[str, str] | None = None,
    ) -> DataFrame:
        """Multi-column stats-pruned scan: every predicate column's
        band prunes in one metadata pass, composed with partition
        pruning and time travel — the three-axis skipping real tables
        need (key band + second column + partition values)."""
        return R.manifest_pruned_scan_multi(
            self.spark,
            self.manifest_dir,
            predicates,
            as_of=as_of,
            partition_filter=partition_filter,
        )

    def scan_with_deletes(self, as_of: int | None = None) -> DataFrame:
        """Full scan minus live equality deletes."""
        return R.read_with_deletes(
            self.spark, self.manifest_dir, self.key, as_of=as_of
        )

    def snapshot_at(self, ts: float) -> int:
        """Resolve AS OF TIMESTAMP (epoch seconds) to the newest
        snapshot committed at or before ``ts`` — Delta/Iceberg
        timestamp-travel semantics; raises below the earliest
        surviving commit (expired history fails loudly)."""
        return localman.snapshot_for_timestamp(self.manifest_dir, ts)

    def scan_at_timestamp(self, ts: float) -> DataFrame:
        """Full scan (minus live deletes) AS OF TIMESTAMP ``ts``."""
        return self.scan_with_deletes(as_of=self.snapshot_at(ts))

    def incremental(self, from_snapshot: int, to_snapshot: int) -> DataFrame:
        """CDC read: rows whose files arrived in (from, to]."""
        return R.manifest_incremental_scan(
            self.spark, self.manifest_dir, from_snapshot, to_snapshot
        )

    def sql(
        self,
        text: str,
        args: dict | None = None,
        name: str = "governed",
        versions: dict[str, int] | None = None,
        timestamps: dict[str, float] | None = None,
    ) -> DataFrame:
        """Run SQL text against this table: ``<name>`` = current world,
        ``<name>_history`` = DESCRIBE HISTORY, ``versions`` /
        ``timestamps`` pin extra ``<name>_<suffix>`` views (VERSION /
        TIMESTAMP AS OF); ``args`` bind as :named parameters. See
        table/sqlface.py."""
        return R.governed_sql(
            self.spark,
            self,
            text,
            args=args,
            name=name,
            versions=versions,
            timestamps=timestamps,
        )

    def changes(self, from_snapshot: int, to_snapshot: int) -> DataFrame:
        """CHANGE DATA FEED: row-level insert / update_preimage /
        update_postimage / delete rows the commits in (from, to] made,
        derived from the manifest's add+tombstone pairs and delete
        records (Delta's ``table_changes`` — see table/cdf.py)."""
        return R.table_changes(
            self.spark, self.manifest_dir, self.key, from_snapshot, to_snapshot
        )

    def row_count(self, as_of: int | None = None) -> int:
        """Visible row count from the manifest alone (zero data pages)
        — feed it to the distributed global-order primitives' ``n_rows``
        so ranking/NTILE over a governed scan never pays a sizing
        count() pass over the fact table."""
        return R.manifest_row_count(self.spark, self.manifest_dir, as_of=as_of)

    def count_range(self, lo: float, hi: float, as_of: int | None = None):
        """COUNT(key BETWEEN lo AND hi) answered mostly from metadata.
        Returns (n_total, n_from_metadata, n_files_scanned)."""
        return R.manifest_count_range(
            self.spark, self.manifest_dir, self.key, lo, hi, as_of=as_of
        )

    def build_ndv_sketch(self, sketch_dir: str, column: str) -> None:
        """Persist per-file KMV NDV sketches for ``column`` (Puffin
        blobs); estimate with :meth:`ndv_estimate`."""
        R.write_kmv_sketch_manifest(
            self.spark, self.visible_files(), sketch_dir, column
        )

    def ndv_estimate(
        self, sketch_dir: str, paths: list[str] | None = None
    ) -> DataFrame:
        """Approximate distinct count from merged per-file sketches —
        zero data pages, over any pruned file subset."""
        return R.sketch_merged_ndv(self.spark, sketch_dir, paths=paths)

    # ---- write side ----------------------------------------------------
    def _gate(self, batch: DataFrame):
        """Write-time constraint gate: one map-side aggregate over the
        batch against the table's live CHECK/NOT NULL declarations;
        raises ConstraintViolationError before anything is committed.
        Returns a ``pre_commit(snapshot_id)`` closure the committing
        verb runs INSIDE its claim: it re-resolves the (driver-side,
        KB-scale) constraint metadata and, when a declaration landed
        between this gate read and the commit, enforces exactly the
        NEW constraints on the batch — so every batch is gated by the
        constraint set live at ITS commit, not at its planning read
        (Delta enforces inside the transaction)."""
        gated = R.active_constraints(self.spark, self.manifest_dir)
        R.enforce_constraints(self.spark, self.manifest_dir, batch, gated)

        def _recheck(_snap: int) -> None:
            fresh = [
                c
                for c in R.active_constraints(self.spark, self.manifest_dir)
                if c not in gated
            ]
            if fresh:
                R.enforce_constraints(
                    self.spark, self.manifest_dir, batch, fresh
                )

        return _recheck

    def add_constraint(
        self, name: str, expr: str, validate_existing: bool = True
    ) -> int:
        """Declare CHECK ``expr``; every later append/merge is gated.
        ``validate_existing`` (default) first proves the CURRENT table
        satisfies it — Delta's ALTER TABLE ADD CONSTRAINT contract."""
        existing = self.scan_with_deletes() if validate_existing else None
        return R.add_check_constraint(
            self.spark, self.manifest_dir, name, expr, existing=existing
        )

    def add_not_null(self, column: str, validate_existing: bool = True) -> int:
        """NOT NULL on ``column`` (enforced as CHECK col IS NOT NULL)."""
        existing = self.scan_with_deletes() if validate_existing else None
        return R.add_not_null_constraint(
            self.spark, self.manifest_dir, column, existing=existing
        )

    def drop_constraint(self, name: str) -> int:
        """Retire a constraint (metadata commit; unknown name raises)."""
        return R.drop_constraint(self.spark, self.manifest_dir, name)

    def constraints(self) -> list[tuple[str, str, str]]:
        """Live [(name, kind, expr)] declarations."""
        return R.active_constraints(self.spark, self.manifest_dir)

    def append(self, new_paths: list[str], max_retries: int = 5) -> int:
        """Register already-landed files at the next snapshot, retrying
        lost CAS races (appends need no re-plan; see
        ``manifest.append_stats_manifest_retry``). Gated by the
        table's constraints: a violating batch raises and nothing —
        snapshot, manifest row, claim — is touched."""
        recheck = None
        if new_paths:
            recheck = self._gate(read_data_files(self.spark, new_paths))
        snap, _ = R.append_stats_manifest_retry(
            self.spark,
            new_paths,
            self.manifest_dir,
            (self.key,),
            partition_by=self.partition_by,
            max_retries=max_retries,
            pre_commit=recheck,
        )
        return snap

    def insert(self, rows: DataFrame, max_retries: int = 5) -> int:
        """Land ``rows`` as new data files in the table's data dir and
        append them at one snapshot (SQL INSERT). The files are staged
        in the append's own transaction and gated there, so a batch
        that violates a constraint, or a commit that fails, leaves no
        file behind; a lost race re-stages in a fresh transaction."""
        import uuid

        tag = uuid.uuid4().hex[:12]

        def body(txn):
            paths = txn.stage(
                lambda d: rows.write.mode("overwrite").parquet(d),
                self.data_dir,
                lambda i: f"sqlins-{tag}-{i:05d}.parquet",
            )
            if paths:
                self._gate(read_data_files(self.spark, paths))
            return R.append_stats_manifest(
                self.spark,
                paths,
                self.manifest_dir,
                (self.key,),
                txn=txn,
                partition_by=self.partition_by,
            )

        snap, _ = R.with_conflict_retry(
            self.spark, self.manifest_dir, body, max_retries
        )
        return snap

    def optimize_zorder(self, x_col: str, y_col: str, n_files: int = 16):
        """Rewrite the table Morton-clustered on two columns at one
        snapshot (Delta OPTIMIZE ZORDER BY); pair with scan_multi. The
        table's own partition_by is threaded so the rewritten files'
        stats rows keep their partition values (a bare rewrite would
        turn every later partition filter conservative)."""
        return R.optimize_zorder(
            self.spark,
            self.manifest_dir,
            x_col,
            y_col,
            n_files=n_files,
            partition_by=self.partition_by,
        )

    def optimize_zorder_by(self, cols: list[str], n_files: int = 16):
        """k-dimensional OPTIMIZE ZORDER BY: cluster on the n-way
        Morton interleave of any column list (Delta's multi-column
        form); partition_by threaded like every maintenance verb."""
        return R.optimize_zorder_n(
            self.spark,
            self.manifest_dir,
            cols,
            n_files=n_files,
            partition_by=self.partition_by,
        )

    def optimize_hilbert(self, x_col: str, y_col: str, n_files: int = 16):
        """Rewrite the table Hilbert-clustered on two columns at one
        snapshot — equal pruning power to :meth:`optimize_zorder`,
        better run contiguity (fewer byte ranges per rectangle); the
        table's partition_by is threaded like every maintenance verb."""
        return R.optimize_hilbert(
            self.spark,
            self.manifest_dir,
            x_col,
            y_col,
            n_files=n_files,
            partition_by=self.partition_by,
        )

    def scan_multi_rowgroup(
        self,
        predicates: dict[str, tuple[float, float]],
        as_of: int | None = None,
        partition_filter: dict[str, str] | None = None,
    ) -> DataFrame:
        """Multi-column scan pruned at ROW-GROUP granularity: a file is
        opened only if some single row group can satisfy every
        predicate at once — strictly fewer files than
        :meth:`scan_multi` on concat-compacted layouts."""
        return R.manifest_pruned_scan_multi_rowgroup(
            self.spark,
            self.manifest_dir,
            predicates,
            as_of=as_of,
            partition_filter=partition_filter,
        )

    def merge_evolve(
        self, delta: DataFrame, cols: list[str], insert_files: int = 1
    ):
        """MERGE with schema evolution in ONE snapshot: delta columns
        the table has never seen are declared and merged atomically
        (Delta's mergeSchema-on-MERGE). Returns (snapshot,
        intersecting, rewritten, evolved_columns)."""
        recheck = self._gate(delta)
        return R.merge_evolve_through_manifest(
            self.spark,
            self.manifest_dir,
            delta,
            self.key,
            cols,
            insert_files=insert_files,
            partition_by=self.partition_by,
            pre_commit=recheck,
        )

    def merge(self, delta: DataFrame, cols: list[str], insert_files: int = 1):
        """Copy-on-write MERGE: returns (snapshot, intersecting,
        rewritten). On a partitioned table the table's own partition_by
        is threaded: rewrites stay inside their partition dirs, inserts
        land Hive-partitioned (the delta must carry the partition
        columns), and the committed stats rows keep partition values."""
        recheck = self._gate(delta)
        return R.merge_through_manifest(
            self.spark,
            self.manifest_dir,
            delta,
            self.key,
            cols,
            insert_files=insert_files,
            partition_by=self.partition_by,
            pre_commit=recheck,
        )

    def merge_with_delete(
        self,
        delta: DataFrame,
        cols: list[str],
        delete_where: str,
        insert_files: int = 1,
    ) -> tuple[int, int, int, dict]:
        """Three-clause MERGE (Delta's full form) in ONE snapshot:
        WHEN MATCHED AND <delete_where> THEN DELETE, WHEN MATCHED THEN
        UPDATE, WHEN NOT MATCHED (and not delete-flagged) THEN INSERT.
        Returns (snapshot, n_intersecting, n_rewritten, accounting)
        where accounting carries per-clause row counts {'updated',
        'inserted', 'deleted'}. The constraint gate runs over the
        update/insert rows only — delete rows write no values."""
        writes = delta.filter(
            ~F.coalesce(F.expr(delete_where), F.lit(False))
        )
        recheck = self._gate(writes)
        stats: dict = {}
        snap, n_int, n_rw = R.merge_through_manifest(
            self.spark,
            self.manifest_dir,
            delta,
            self.key,
            cols,
            insert_files=insert_files,
            partition_by=self.partition_by,
            pre_commit=recheck,
            delete_where=delete_where,
            stats_out=stats,
        )
        return snap, n_int, n_rw, stats

    def merge_concurrent(
        self, delta: DataFrame, cols: list[str], max_retries: int = 3
    ):
        """Copy-on-write MERGE under optimistic concurrency: CAS-claims
        the commit snapshot and re-plans on a lost race. Returns
        (snapshot, intersecting, rewritten, n_retries). partition_by is
        threaded exactly as in :meth:`merge`."""
        recheck = self._gate(delta)
        return R.merge_with_conflict_retry(
            self.spark,
            self.manifest_dir,
            delta,
            self.key,
            cols,
            max_retries=max_retries,
            partition_by=self.partition_by,
            pre_commit=recheck,
        )

    def add_column(self, column: str, sql_type: str) -> int:
        """ADD COLUMN as a metadata commit (NULL-backfilled at scan for
        pre-commit files); time-traveled via the snapshot axis."""
        return R.evolve_schema_add(self.spark, self.manifest_dir, column, sql_type)

    def rename_column(self, old: str, new: str) -> int:
        """RENAME COLUMN as a metadata commit — zero data rewritten;
        pre-commit files are re-mapped at scan time (Iceberg
        column-mapping replayed from the commit log)."""
        return R.evolve_schema_rename(self.spark, self.manifest_dir, old, new)

    def drop_column(self, column: str) -> int:
        """DROP COLUMN as a metadata commit — tombstoned, not
        rewritten; as-of reads below the commit still see it."""
        return R.evolve_schema_drop(self.spark, self.manifest_dir, column)

    def scan_evolved(self, as_of: int | None = None) -> DataFrame:
        """Full scan under the evolved schema visible at ``as_of``."""
        return R.read_evolved(self.spark, self.manifest_dir, self.key, as_of=as_of)

    def delete_keys(self, values: list) -> int:
        """Row-level equality delete (metadata only)."""
        return R.equality_delete(self.spark, self.manifest_dir, self.key, values)

    # ---- maintenance ---------------------------------------------------
    def compact_deletes(self):
        """Physically apply live deletes and retire their records."""
        return R.compact_equality_deletes(self.spark, self.manifest_dir, self.key)

    def compact_files(self, paths: list[str]):
        """Merge fragment files; add+tombstone at one snapshot. Pass
        fragments from ONE partition dir at a time (optimize() already
        bins per dir); the table's partition_by is threaded so the
        compacted file's stats keep their partition values."""
        return R.commit_data_compaction(
            self.spark,
            self.manifest_dir,
            paths,
            (self.key,),
            partition_by=self.partition_by,
        )

    def optimize(self, target_bytes: int = 128 * 1024 * 1024):
        """Bin-pack every visible file to the target size WITHIN its
        partition dir and commit each multi-file bin (Delta OPTIMIZE).
        Returns (n_bins_compacted, n_files_before, n_files_after)."""
        return R.optimize_table(
            self.spark,
            self.manifest_dir,
            target_bytes,
            partition_by=self.partition_by,
        )

    def vacuum_report(self) -> DataFrame:
        """Files on disk but untracked — reclaimable storage."""
        return R.vacuum_orphans_report(self.spark, self.data_dir, self.manifest_dir)

    def vacuum(self, older_than_seconds: float = 7 * 24 * 3600):
        """Delete untracked files older than the retention window
        (forfeits as-of reads older than it — Delta's VACUUM trade).
        Returns (n_deleted, bytes_reclaimed)."""
        return R.vacuum_orphans(
            self.spark,
            self.data_dir,
            self.manifest_dir,
            older_than_seconds=older_than_seconds,
        )

    def clone(self, dst_manifest: str) -> "GovernedTable":
        """Zero-copy shallow clone sharing this table's data files.
        partition_by AND the commit substrate propagate — maintenance
        verbs on the clone keep recording partition values and keep
        using the source table's LogStore."""
        from aws_seismic_data_pipeline_spark.sources.table.logstore import (
            log_store_for,
        )

        R.clone_manifest(self.spark, self.manifest_dir, dst_manifest)
        return GovernedTable(
            self.spark,
            self.data_dir,
            dst_manifest,
            self.key,
            self.partition_by,
            log_store_for(self.manifest_dir),
        )

    def rollback(self, to_snapshot: int) -> int:
        """History-preserving rollback-as-new-commit."""
        return R.rollback_manifest(self.spark, self.manifest_dir, to_snapshot)

    def expire(self, below: int):
        """Drop history below ``below``; pinned reads under it raise."""
        return R.expire_manifest_history(self.spark, self.manifest_dir, below)

    def history(self) -> DataFrame:
        """DESCRIBE HISTORY: per snapshot the op kinds, files added /
        removed, rows added, delete records landed, and the commit
        wall-clock marker — straight off the manifest
        (metadata-scale)."""
        return R.describe_history(self.spark, self.manifest_dir)

    def visible_files(self, as_of: int | None = None) -> list[str]:
        """The file list a scan at ``as_of`` would consider
        (:func:`localman.visible_paths`)."""
        return localman.visible_paths(self.spark, self.manifest_dir, as_of)
