"""Optimistic-concurrency commits for the manifest-governed table.
The whole protocol lives in one object, :class:`Transaction`: it
loads the manifest frame once, which fixes its parent snapshot and
the id it will publish; its verb plans from that frame and stages
data files under names only this transaction can produce
(``<prefix>-<snapshot id>-<tag>``); at publish time it claims the id
(a CAS token, :func:`claim_commit`), checks its lease and writes one
manifest file, so the token is held only for that write. On any exit
without a publish it deletes what it staged and releases a token it
still owns. Every committing verb runs inside one;
:func:`with_conflict_retry` re-runs a verb in a fresh one after a
lost race.

Seed: the reference's two manual triggers can race with no guard
(``/root/reference/app.py:641-653``); this is the missing protocol.
"""

from __future__ import annotations

import os
import shutil
import time

from pyspark.sql import SparkSession


def _next_snapshot(spark: SparkSession, manifest_dir: str) -> int:
    """Next snapshot id: max(snapshot_id) over the KB-scale manifest,
    0 when the manifest's data directory is absent or holds no parquet
    file yet. Any other failure to read it RAISES: a truncated or
    corrupt manifest file must never make a writer claim an id that
    already has committed rows.

    Read DRIVER-SIDE with pyarrow, not as a Spark job: this runs
    inside EVERY commit's claim (the tip check), and a Spark
    read+agg+collect costs a full job-submission round trip (~100 ms
    of scheduler latency) to answer a question about kilobytes of
    local metadata — the r12 claim-protocol work made that constant
    visible on every manifest-committing bench slot. pyarrow reads
    only the parquet footers' row-group statistics (no data pages)
    and falls back to per-fragment column reads only for footers
    without stats. ``_``/``.``-prefixed entries (the ``_commits``
    token tree) are excluded by pyarrow's default ``ignore_prefixes``
    — the same hidden-file convention Spark's own listing applies."""
    import pyarrow.dataset as _pads

    from aws_seismic_data_pipeline_spark.sources.table.logstore import (
        manifest_data_dir as _mdd,
    )

    data_dir = _mdd(manifest_dir)
    if not os.path.isdir(data_dir):
        return 0
    dataset = _pads.dataset(data_dir, format="parquet")
    cur = None
    for frag in dataset.get_fragments():
        frag_max = None
        try:
            for rg in frag.row_groups:
                st = (rg.statistics or {}).get("snapshot_id")
                mx = st.get("max") if st else None
                if mx is None:  # footer without stats: read column
                    raise KeyError
                if frag_max is None or mx > frag_max:
                    frag_max = mx
        except Exception:
            col = frag.to_table(columns=["snapshot_id"]).column(0)
            vals = [v for v in col.to_pylist() if v is not None]
            frag_max = max(vals) if vals else None
        if frag_max is not None and (cur is None or frag_max > cur):
            cur = frag_max
    return (int(cur) if cur is not None else -1) + 1


class ConcurrentCommitError(RuntimeError):
    """Another writer committed at the snapshot this writer planned
    against — Delta's ConcurrentModificationException: the loser must
    RE-VALIDATE its plan against the new table state and retry, never
    blind-append (its candidacy/rewrite set may be stale)."""


def claim_commit(
    spark: SparkSession,
    manifest_dir: str,
    parent: int,
    stale_after: float = 300.0,
    owner: str | None = None,
) -> int:
    """Optimistic-concurrency COMPARE-AND-SWAP on the snapshot axis:
    atomically claim snapshot ``parent + 1`` by creating the commit
    token directory ``<manifest>/_commits/<id>`` — POSIX ``mkdir`` is
    atomic, exactly the primitive Delta's log store builds on (create
    ``N.json`` if absent; an object-store deployment swaps in a
    conditional PUT). Two writers that both planned against ``parent``
    race for one token: the winner returns the claimed id and commits;
    the loser gets :class:`ConcurrentCommitError` and must re-read the
    table, re-validate candidacy, and claim the NEXT id. The leading
    underscore keeps the token tree invisible to Spark's parquet
    listing of the manifest itself.

    Each claim records ``owner`` with its token (a :class:`Transaction`
    passes its own uuid; default a fresh one). A stale takeover
    (token older than ``stale_after`` with no committed rows) revokes
    the token ATOMICALLY — only one takeover-er can win — and claims
    fresh, so the original claimant's ownership is revoked rather than
    silently shared: if that claimant was merely SLOW (its publish
    stalled past the lease, not a crash), its commit-time
    :func:`verify_claim` check fails loudly instead of interleaving
    two writers' rows under one snapshot id. A transaction claims only
    at publish time, so a takeover matters after a crash.

    Every primitive routes through the manifest's :mod:`.logstore`
    (POSIX mkdir/rename by default; the simulated object store swaps in
    conditional-PUT-style single-object CAS), so this protocol — and
    the concurrency tests that pin it — is substrate-independent."""
    import uuid as _uuid

    from aws_seismic_data_pipeline_spark.sources.table.logstore import (
        log_store_for,
    )

    store = log_store_for(manifest_dir)
    token_root = os.path.join(manifest_dir, "_commits")
    # A NEVER-CREATED table may claim its first snapshot before any
    # manifest rows exist (streaming ingest claims, then its first batch
    # lands the manifest) — distinguished from expire's swap window by
    # the '.expired_old' aside: while the swap is in flight (or after a
    # crash between its renames) the aside exists and the claim must
    # fail retryably rather than resurrect the manifest dir (recreating
    # it mid-swap used to make the second rename nest the new manifest
    # INSIDE it — table unreadable).
    aside = manifest_dir + ".expired_old"
    if not os.path.isdir(manifest_dir) and not os.path.isdir(aside):
        os.makedirs(manifest_dir, exist_ok=True)
    if not store.ensure_token_root(manifest_dir, token_root):
        raise ConcurrentCommitError(
            f"manifest {manifest_dir} does not exist and its expire aside "
            "does — an expire swap is in flight (or crashed mid-swap: run "
            "recover_interrupted_expire); back off and retry"
        )
    snap = int(parent) + 1
    token = os.path.join(token_root, str(snap))
    # an id at or below the committed tip is NEVER claimable, token or
    # no token (tokens don't survive expire's manifest swap; without
    # this check a stale writer could stamp new rows onto an id that
    # already has committed history)
    if snap <= _next_snapshot(spark, manifest_dir) - 1:
        raise ConcurrentCommitError(
            f"snapshot {snap} at {manifest_dir} was committed by a "
            "concurrent writer — re-validate against the current table "
            "state and retry"
        )
    owner = owner or _uuid.uuid4().hex
    for attempt in (0, 1):
        if store.try_create_token(token, owner):
            return snap
        committed_max = _next_snapshot(spark, manifest_dir) - 1
        if snap <= committed_max:
            raise ConcurrentCommitError(
                f"snapshot {snap} at {manifest_dir} was committed by "
                "a concurrent writer — re-validate against the "
                "current table state and retry"
            )
        # claimed but not (yet) committed: in-flight, or abandoned
        # by a crashed claimant. A token older than stale_after with
        # no committed rows is taken over — the lease-timeout
        # recovery object-store log stores use; a young token means
        # a live writer: fail loudly, the caller backs off and
        # retries. Takeover revokes the token atomically (one winner,
        # whichever store) instead of deleting it, revoking the old
        # owner record with it.
        age = store.token_age(token)
        if age is None:
            continue  # winner vanished between create and stat: retry
        if attempt == 0 and age > float(stale_after):
            store.revoke_token(token, f".stale-{owner}")
            continue  # won or lost the revoke race: either way re-claim
        raise ConcurrentCommitError(
            f"snapshot {snap} at {manifest_dir} is claimed by an "
            f"in-flight commit (token age {age:.1f}s) — back off and "
            "retry; if the claimant crashed, the token becomes "
            f"stale after {stale_after}s and is taken over"
        )
    raise ConcurrentCommitError(  # pragma: no cover - loop always exits
        f"could not claim snapshot {snap} at {manifest_dir}"
    )


def release_claim(manifest_dir: str, snapshot_id: int, owner: str) -> None:
    """Release a claim at which no rows were committed, so the id
    becomes claimable again — what :class:`Transaction` does when it
    ends without a publish. The token is deleted only while its
    on-disk owner is still ``owner``: a claimant whose token was taken
    over as stale must never delete the new owner's token (the new
    owner would then commit with no token left, and a third writer
    could claim the same id). A published commit's token stays as its
    durable marker until expire prunes the at-or-below-tip tokens."""
    from aws_seismic_data_pipeline_spark.sources.table.logstore import (
        log_store_for,
    )

    store = log_store_for(manifest_dir)
    token = os.path.join(manifest_dir, "_commits", str(int(snapshot_id)))
    if store.read_token_owner(token) == owner:
        store.delete_token(token)


def verify_claim(manifest_dir: str, snapshot_id: int, owner: str) -> None:
    """Re-validate token ownership IMMEDIATELY before committing rows at
    ``snapshot_id`` — the commit-time half of the lease protocol. A slow
    writer whose token was taken over (``claim_commit`` stale recovery)
    finds someone else's uuid — or no token — where its own ``owner``
    used to be, and must raise rather than commit: without this check
    two writers' rows silently interleave under one snapshot id."""
    from aws_seismic_data_pipeline_spark.sources.table.logstore import (
        log_store_for,
    )

    on_disk = log_store_for(manifest_dir).read_token_owner(
        os.path.join(manifest_dir, "_commits", str(int(snapshot_id)))
    )
    if on_disk != owner:
        raise ConcurrentCommitError(
            f"snapshot {snapshot_id} at {manifest_dir}: this writer's "
            "claim was revoked (token taken over as stale while the "
            "commit was in flight) — re-validate against the current "
            "table state and retry with a fresh claim"
        )


class Transaction:
    """One optimistic commit on the manifest at ``manifest_dir`` — the
    Delta Lake transaction shape: read one snapshot, write data files
    under names no other writer can produce, and make only the final
    conditional put of the log record atomic.

    - Building it loads the manifest frame once (``man``;
      :func:`localman.load`, None above the localman gate or before
      the table's first commit). Its tip is ``parent``, so
      ``snapshot_id`` = parent + 1 is known from the start. A
      committing verb plans from ``man`` and reads the manifest no
      other way.
    - :meth:`stage` runs a Spark write and records its hidden stage
      dir (``.<tag>_stage<n>``) and every data file it lands. Staged
      files are named by :meth:`name`: ``<prefix>-<snapshot_id>-<tag>``,
      ``tag`` being this transaction's own uuid prefix.
    - :meth:`publish` (:meth:`commit` for adds, removes and metadata
      rows) claims ``snapshot_id`` (:func:`claim_commit`) under this
      transaction's owner uuid, checks the lease and writes once, so
      the token is held only for the manifest write. A writer that
      committed after ``man`` was loaded makes the claim raise
      :class:`ConcurrentCommitError`: a stale plan never publishes.
    - Leaving the ``with`` block without a publish — on a raise, or
      when the verb committed nothing — deletes everything staged (no
      other writer can own those names) and releases the token only
      if this transaction claimed one that is still its own. After a
      publish the token stays as the commit's marker."""

    def __init__(self, spark: SparkSession, manifest_dir: str):
        import uuid as _uuid

        from aws_seismic_data_pipeline_spark.sources.table import localman
        from aws_seismic_data_pipeline_spark.sources.table.logstore import (
            manifest_data_dir as _mdd,
        )

        self.spark = spark
        self.manifest_dir = manifest_dir
        self.man = None
        if os.path.isdir(_mdd(manifest_dir)):
            self.man = localman.load(manifest_dir)
        self.parent = (
            _next_snapshot(spark, manifest_dir) - 1
            if self.man is None
            else localman.tip(self.man)
        )
        self.snapshot_id = self.parent + 1
        self._owner = _uuid.uuid4().hex
        self.tag = self._owner[:12]
        self._staged: list[str] = []
        self._claimed = False
        self._published = False

    def __enter__(self) -> "Transaction":
        return self

    def __exit__(self, exc_type, exc, tb) -> None:
        if self._published:
            return
        for path in reversed(self._staged):
            if os.path.isdir(path):
                shutil.rmtree(path, ignore_errors=True)
            elif os.path.exists(path):
                os.remove(path)
        if self._claimed:
            release_claim(self.manifest_dir, self.snapshot_id, self._owner)

    def name(self, prefix: str) -> str:
        """``<prefix>-<snapshot_id>-<tag>``: a staged name no other
        writer can produce, ordered by snapshot id first."""
        return f"{prefix}-{self.snapshot_id}-{self.tag}"

    def track(self, path: str) -> str:
        """Record ``path`` for deletion if the transaction ends
        unpublished; returns it."""
        self._staged.append(path)
        return path

    def stage(
        self, write, out_dir: str, name=None, skip_empty: bool = False
    ) -> list[str]:
        """Run ``write(dir)`` — a Spark parquet write — and return the
        data files it landed, in path order, each recorded for deletion
        if the transaction ends unpublished. With ``name`` the write
        goes to a hidden stage dir under ``out_dir`` and the i-th part
        file moves to ``name(i)`` in the same sub-directory of
        ``out_dir`` (the Hive partition dirs of a ``partitionBy``
        write); ``skip_empty`` leaves out part files with no rows.
        Without ``name``, ``out_dir`` itself is the output dir,
        recorded whole, and its part files stay where Spark wrote
        them."""
        import glob as _glob

        from aws_seismic_data_pipeline_spark.sources.table import localman

        tmp = out_dir
        if name is not None:
            tmp = os.path.join(
                out_dir, f".{self.tag}_stage{len(self._staged)}"
            )
        write(self.track(tmp))
        parts = sorted(
            _glob.glob(
                os.path.join(tmp, "**", "part-*.parquet"), recursive=True
            )
        )
        if name is None:
            return parts
        landed = []
        for i, part in enumerate(parts):
            if skip_empty and localman.parquet_num_rows(part) == 0:
                continue
            rel = os.path.relpath(os.path.dirname(part), tmp)
            dst = os.path.normpath(os.path.join(out_dir, rel, name(i)))
            os.makedirs(os.path.dirname(dst), exist_ok=True)
            shutil.move(part, self.track(dst))
            landed.append(dst)
        shutil.rmtree(tmp, ignore_errors=True)
        return landed

    def claim(self) -> None:
        """Claim ``snapshot_id`` on top of ``parent`` and check the
        lease. :meth:`publish` runs it right before its write; a verb
        that must exclude writers without publishing (expire's swap)
        runs it alone, and its exit releases the token."""
        claim_commit(
            self.spark, self.manifest_dir, self.parent, owner=self._owner
        )
        self._claimed = True
        verify_claim(self.manifest_dir, self.snapshot_id, self._owner)

    def publish(self, write) -> int:
        """Claim, then run ``write(snapshot_id)``, the single publish.
        Returns the id."""
        self.claim()
        write(self.snapshot_id)
        self._published = True
        return self.snapshot_id

    def commit(
        self, adds=(), removes=(), extra=(), columns=None, partition_by=()
    ) -> int:
        """Publish ``adds`` (their footer stats over ``columns``),
        ``removes`` tombstones and ``extra`` metadata frames as ONE
        manifest file at ``snapshot_id`` (``manifest.commit_files``).
        Returns the id."""
        from aws_seismic_data_pipeline_spark.sources.table.manifest import (
            _MANIFEST_COLS,
            commit_files,
        )

        return self.publish(
            lambda snap: commit_files(
                self.spark,
                self.manifest_dir,
                snap,
                adds=adds,
                columns=columns or _MANIFEST_COLS,
                removes=removes,
                partition_by=partition_by,
                extra=extra,
            )
        )


def with_conflict_retry(run, max_retries: int = 3):
    """Call ``run()`` — one attempt of a verb in a :class:`Transaction`
    of its own — and return ``(its result, n_retries)``. A lost race
    (ConcurrentCommitError, at the claim or at the lease check) backs
    off ``min(0.05 * 2**attempt, 1.0)`` s and calls ``run`` again: its
    fresh transaction re-plans from the new frame, so the outcome is
    the serial order of the commits. Bounded: the last loss raises."""
    for attempt in range(int(max_retries) + 1):
        try:
            return run(), attempt
        except ConcurrentCommitError:
            if attempt == max_retries:
                raise
            # a lost race against a LIVE writer needs its rows to land
            # before the re-plan can see them
            time.sleep(min(0.05 * (2**attempt), 1.0))
    raise AssertionError("unreachable")  # pragma: no cover
