"""GovernedTable — the user-facing handle over the manifest-governed
table verbs (the DeltaTable / Iceberg Table analog).

Every verb is implemented (and individually driver-hash-checked /
pytest-pinned) in the split table-format modules
(:mod:`..table.manifest` / ``commit`` / ``constraints`` / ``deletes``
/ ``maintenance`` / ``sketches`` / ``evolution`` / ``cdf`` /
``sqlface``), which this module calls directly; it only binds them
to one (data_dir, manifest_dir, key) triple so
a user migrating from the reference's loose S3-prefix conventions
(`/root/reference/app.py:449-463` — a date-keyed prefix IS its table)
holds one object with the full lifecycle: scan (stats-pruned,
multi-column, as-of, incremental), metadata row counts, retrying
append, copy-on-write merge, row-level delete + its compaction, file
compaction, OPTIMIZE ZORDER, vacuum, clone, rollback, and history
expiry. No new dataflow lives here — thin delegation only, pinned by
the end-to-end scenario test (tests/test_governed_table.py). The one
policy it adds: every committing verb that plans from the table's
state re-plans in a fresh transaction after a lost race, and the
write gate checks a batch against the constraints in the frame of
the transaction that commits it.
"""

from __future__ import annotations

import glob
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from aws_seismic_data_pipeline_spark.sources.footers import read_data_files

from aws_seismic_data_pipeline_spark.sources.table import (
    cdf,
    commit,
    constraints,
    deletes,
    evolution,
    localman,
    maintenance,
    manifest,
    sketches,
    sqlface,
)


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
        manifest.write_stats_manifest(
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
        return manifest.manifest_pruned_scan(
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
        return manifest.manifest_pruned_scan_multi(
            self.spark,
            self.manifest_dir,
            predicates,
            as_of=as_of,
            partition_filter=partition_filter,
        )

    def scan_with_deletes(self, as_of: int | None = None) -> DataFrame:
        """Full scan minus live equality deletes."""
        return deletes.read_with_deletes(
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
        return manifest.manifest_incremental_scan(
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
        return sqlface.governed_sql(
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
        return cdf.table_changes(
            self.spark, self.manifest_dir, self.key, from_snapshot, to_snapshot
        )

    def row_count(self, as_of: int | None = None) -> int:
        """Visible row count from the manifest alone (zero data pages)
        — feed it to the distributed global-order primitives' ``n_rows``
        so ranking/NTILE over a governed scan never pays a sizing
        count() pass over the fact table."""
        return manifest.manifest_row_count(self.spark, self.manifest_dir, as_of=as_of)

    def count_range(self, lo: float, hi: float, as_of: int | None = None):
        """COUNT(key BETWEEN lo AND hi) answered mostly from metadata.
        Returns (n_total, n_from_metadata, n_files_scanned)."""
        return manifest.manifest_count_range(
            self.spark, self.manifest_dir, self.key, lo, hi, as_of=as_of
        )

    def build_ndv_sketch(self, sketch_dir: str, column: str) -> None:
        """Persist per-file KMV NDV sketches for ``column`` (Puffin
        blobs); estimate with :meth:`ndv_estimate`."""
        sketches.write_kmv_sketch_manifest(
            self.spark, self.visible_files(), sketch_dir, column
        )

    def ndv_estimate(
        self, sketch_dir: str, paths: list[str] | None = None
    ) -> DataFrame:
        """Approximate distinct count from merged per-file sketches —
        zero data pages, over any pruned file subset."""
        return sketches.sketch_merged_ndv(self.spark, sketch_dir, paths=paths)

    # ---- write side ----------------------------------------------------
    def _gate(self, txn, batch: DataFrame) -> None:
        """Write-time constraint gate: one map-side aggregate over the
        batch against the CHECK/NOT NULL declarations live in
        ``txn.man``; raises ConstraintViolationError before anything is
        published. A declaration that lands after the frame load moves
        the tip, so the claim fails and the retry gates again from the
        new frame — every batch is gated by the constraint set live at
        ITS commit (Delta enforces inside the transaction)."""
        live = constraints.active_constraints(
            self.spark, self.manifest_dir, man=txn.man
        )
        constraints.enforce_constraints(
            self.spark, self.manifest_dir, batch, live
        )

    def _gated(self, batch: DataFrame | None, body):
        """One gated attempt: ``body(txn)`` in a fresh transaction, once
        ``batch`` (None: nothing to gate) passes :meth:`_gate`."""
        with commit.Transaction(self.spark, self.manifest_dir) as txn:
            if batch is not None:
                self._gate(txn, batch)
            return body(txn)

    def add_constraint(
        self, name: str, expr: str, validate_existing: bool = True
    ) -> int:
        """Declare CHECK ``expr``; every later append/merge is gated.
        ``validate_existing`` (default) first proves the CURRENT table
        satisfies it — Delta's ALTER TABLE ADD CONSTRAINT contract."""
        existing = self.scan_with_deletes() if validate_existing else None
        return constraints.add_check_constraint(
            self.spark, self.manifest_dir, name, expr, existing=existing
        )

    def add_not_null(self, column: str, validate_existing: bool = True) -> int:
        """NOT NULL on ``column`` (enforced as CHECK col IS NOT NULL)."""
        existing = self.scan_with_deletes() if validate_existing else None
        return constraints.add_not_null_constraint(
            self.spark, self.manifest_dir, column, existing=existing
        )

    def drop_constraint(self, name: str) -> int:
        """Retire a constraint (metadata commit; unknown name raises)."""
        return constraints.drop_constraint(self.spark, self.manifest_dir, name)

    def constraints(self) -> list[tuple[str, str, str]]:
        """Live [(name, kind, expr)] declarations."""
        return constraints.active_constraints(self.spark, self.manifest_dir)

    def append(self, new_paths: list[str], max_retries: int = 5) -> int:
        """Register already-landed files at the next snapshot, retrying
        lost CAS races (appends need no re-plan; see
        ``manifest.append_stats_manifest_retry``). Gated by the
        table's constraints: a violating batch raises and nothing —
        snapshot, manifest row, claim — is touched."""
        batch = read_data_files(self.spark, new_paths) if new_paths else None
        snap, _ = commit.with_conflict_retry(
            lambda: self._gated(
                batch,
                lambda txn: txn.commit(
                    adds=new_paths,
                    columns=(self.key,),
                    partition_by=self.partition_by,
                ),
            ),
            max_retries,
        )
        return snap

    def insert(self, rows: DataFrame, max_retries: int = 5) -> int:
        """Land ``rows`` as new data files in the table's data dir and
        append them at one snapshot (SQL INSERT). The files are staged
        in the append's own transaction and gated there, so a batch
        that violates a constraint, or a commit that fails, leaves no
        file behind; a lost race re-stages in a fresh transaction."""

        def run():
            with commit.Transaction(self.spark, self.manifest_dir) as txn:
                paths = txn.stage(
                    lambda d: rows.write.mode("overwrite").parquet(d),
                    self.data_dir,
                    lambda i: f"{txn.name('sqlins')}-{i:05d}.parquet",
                )
                if paths:
                    self._gate(txn, read_data_files(self.spark, paths))
                return txn.commit(
                    adds=paths,
                    columns=(self.key,),
                    partition_by=self.partition_by,
                )

        snap, _ = commit.with_conflict_retry(run, max_retries)
        return snap

    def optimize_zorder(self, x_col: str, y_col: str, n_files: int = 16):
        """Rewrite the table Morton-clustered on two columns at one
        snapshot (Delta OPTIMIZE ZORDER BY); pair with scan_multi. The
        table's own partition_by is threaded so the rewritten files'
        stats rows keep their partition values (a bare rewrite would
        turn every later partition filter conservative)."""
        return commit.with_conflict_retry(
            lambda: maintenance.optimize_zorder(
                self.spark,
                self.manifest_dir,
                x_col,
                y_col,
                n_files=n_files,
                partition_by=self.partition_by,
            )
        )[0]

    def optimize_zorder_by(self, cols: list[str], n_files: int = 16):
        """k-dimensional OPTIMIZE ZORDER BY: cluster on the n-way
        Morton interleave of any column list (Delta's multi-column
        form); partition_by threaded like every maintenance verb."""
        return commit.with_conflict_retry(
            lambda: maintenance.optimize_zorder_n(
                self.spark,
                self.manifest_dir,
                cols,
                n_files=n_files,
                partition_by=self.partition_by,
            )
        )[0]

    def optimize_hilbert(self, x_col: str, y_col: str, n_files: int = 16):
        """Rewrite the table Hilbert-clustered on two columns at one
        snapshot — equal pruning power to :meth:`optimize_zorder`,
        better run contiguity (fewer byte ranges per rectangle); the
        table's partition_by is threaded like every maintenance verb."""
        return commit.with_conflict_retry(
            lambda: maintenance.optimize_hilbert(
                self.spark,
                self.manifest_dir,
                x_col,
                y_col,
                n_files=n_files,
                partition_by=self.partition_by,
            )
        )[0]

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
        return manifest.manifest_pruned_scan_multi_rowgroup(
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
        (Delta's mergeSchema-on-MERGE). Gated and retried like
        :meth:`merge`. Returns (snapshot, intersecting, rewritten,
        evolved_columns)."""
        return commit.with_conflict_retry(
            lambda: self._gated(
                delta,
                lambda txn: maintenance.merge_evolve_in(
                    txn, delta, self.key, cols, insert_files, self.partition_by
                ),
            )
        )[0]

    def merge(self, delta: DataFrame, cols: list[str], insert_files: int = 1):
        """Copy-on-write MERGE: returns (snapshot, intersecting,
        rewritten). On a partitioned table the table's own partition_by
        is threaded: rewrites stay inside their partition dirs, inserts
        land Hive-partitioned (the delta must carry the partition
        columns), and the committed stats rows keep partition values.
        A lost race re-plans (see :meth:`merge_concurrent`)."""
        return self._merge(delta, delta, cols, insert_files)[0]

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
        stats: dict = {}
        (snap, n_int, n_rw), _ = self._merge(
            delta,
            writes,
            cols,
            insert_files,
            delete_where=delete_where,
            stats_out=stats,
        )
        return snap, n_int, n_rw, stats

    def merge_concurrent(
        self, delta: DataFrame, cols: list[str], max_retries: int = 3
    ):
        """Copy-on-write MERGE under optimistic concurrency: plans from
        its transaction's frame, claims at publish and re-plans on a
        lost race. Returns (snapshot, intersecting, rewritten,
        n_retries). partition_by is threaded exactly as in
        :meth:`merge`."""
        out, n_retries = self._merge(delta, delta, cols, 1, max_retries)
        return (*out, n_retries)

    def _merge(
        self,
        delta: DataFrame,
        writes: DataFrame,
        cols: list[str],
        insert_files: int,
        max_retries: int = 3,
        **clauses,
    ):
        """The one MERGE path: gate ``writes`` and merge ``delta`` in a
        fresh transaction per attempt. Returns ((snapshot,
        intersecting, rewritten), n_retries)."""
        return commit.with_conflict_retry(
            lambda: self._gated(
                writes,
                lambda txn: maintenance.merge_in(
                    txn,
                    delta,
                    self.key,
                    cols,
                    insert_files,
                    self.partition_by,
                    **clauses,
                ),
            ),
            max_retries,
        )

    def add_column(self, column: str, sql_type: str) -> int:
        """ADD COLUMN as a metadata commit (NULL-backfilled at scan for
        pre-commit files); time-traveled via the snapshot axis."""
        return evolution.evolve_schema_add(self.spark, self.manifest_dir, column, sql_type)

    def rename_column(self, old: str, new: str) -> int:
        """RENAME COLUMN as a metadata commit — zero data rewritten;
        pre-commit files are re-mapped at scan time (Iceberg
        column-mapping replayed from the commit log)."""
        return evolution.evolve_schema_rename(self.spark, self.manifest_dir, old, new)

    def drop_column(self, column: str) -> int:
        """DROP COLUMN as a metadata commit — tombstoned, not
        rewritten; as-of reads below the commit still see it."""
        return evolution.evolve_schema_drop(self.spark, self.manifest_dir, column)

    def scan_evolved(self, as_of: int | None = None) -> DataFrame:
        """Full scan under the evolved schema visible at ``as_of``."""
        return evolution.read_evolved(self.spark, self.manifest_dir, self.key, as_of=as_of)

    def delete_keys(self, values: list) -> int:
        """Row-level equality delete (metadata only)."""
        return deletes.equality_delete(self.spark, self.manifest_dir, self.key, values)

    # ---- maintenance ---------------------------------------------------
    def compact_deletes(self):
        """Physically apply live deletes and retire their records;
        a lost race re-plans."""
        return commit.with_conflict_retry(
            lambda: deletes.compact_equality_deletes(
                self.spark, self.manifest_dir, self.key
            )
        )[0]

    def compact_files(self, paths: list[str]):
        """Merge fragment files; add+tombstone at one snapshot. Pass
        fragments from ONE partition dir at a time (optimize() already
        bins per dir); the table's partition_by is threaded so the
        compacted file's stats keep their partition values. A path no
        longer visible raises ValueError; a lost race retries."""
        return commit.with_conflict_retry(
            lambda: maintenance.commit_data_compaction(
                self.spark,
                self.manifest_dir,
                paths,
                (self.key,),
                partition_by=self.partition_by,
            )
        )[0]

    def optimize(self, target_bytes: int = 128 * 1024 * 1024):
        """Bin-pack every visible file to the target size WITHIN its
        partition dir and commit each multi-file bin (Delta OPTIMIZE).
        A lost race re-plans from the new frame. Returns
        (n_bins_compacted, n_files_before, n_files_after)."""
        return commit.with_conflict_retry(
            lambda: maintenance.optimize_table(
                self.spark,
                self.manifest_dir,
                target_bytes,
                partition_by=self.partition_by,
            )
        )[0]

    def vacuum_report(self) -> DataFrame:
        """Files on disk but untracked — reclaimable storage."""
        return maintenance.vacuum_orphans_report(self.spark, self.data_dir, self.manifest_dir)

    def vacuum(self, older_than_seconds: float = 7 * 24 * 3600):
        """Delete untracked files older than the retention window
        (forfeits as-of reads older than it — Delta's VACUUM trade).
        Returns (n_deleted, bytes_reclaimed)."""
        return maintenance.vacuum_orphans(
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

        maintenance.clone_manifest(self.spark, self.manifest_dir, dst_manifest)
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
        return maintenance.rollback_manifest(self.spark, self.manifest_dir, to_snapshot)

    def expire(self, below: int):
        """Drop history below ``below``; pinned reads under it raise."""
        return maintenance.expire_manifest_history(self.spark, self.manifest_dir, below)

    def history(self) -> DataFrame:
        """DESCRIBE HISTORY: per snapshot the op kinds, files added /
        removed, rows added, delete records landed, and the commit
        wall-clock marker — straight off the manifest
        (metadata-scale)."""
        return manifest.describe_history(self.spark, self.manifest_dir)

    def visible_files(self, as_of: int | None = None) -> list[str]:
        """The file list a scan at ``as_of`` would consider
        (:func:`localman.visible_paths`)."""
        return localman.visible_paths(self.spark, self.manifest_dir, as_of)
