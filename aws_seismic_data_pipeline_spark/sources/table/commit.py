"""Optimistic-concurrency commit primitives for the manifest-governed
table: snapshot allocation, CAS claim tokens, lease verification.
Split out of ``sources/readers.py`` in round 11.

Seed: the reference's two manual triggers can race with no guard
(``/root/reference/app.py:641-653``); this is the missing protocol.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def _next_snapshot(spark: SparkSession, manifest_dir: str) -> int:
    """Next snapshot id: max(snapshot_id) over the KB-scale manifest,
    0 when the manifest's data directory is absent or holds no parquet
    file yet. Any other failure to read it RAISES: a truncated or
    corrupt manifest file must never make a writer claim an id that
    already has committed rows.

    Read DRIVER-SIDE with pyarrow, not as a Spark job: this runs
    (twice) inside EVERY commit's claim path, and a Spark
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

    Each claim records an owner uuid with its token. A stale takeover
    (token older than ``stale_after`` with no committed rows) revokes
    the token ATOMICALLY — only one takeover-er can win — and claims
    fresh, so the original claimant's ownership is revoked rather than
    silently shared: if that claimant was merely SLOW (a >5-min
    compaction, not a crash), its commit-time :func:`verify_claim`
    check fails loudly instead of interleaving two writers' rows under
    one snapshot id.

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
    owner = _uuid.uuid4().hex
    for attempt in (0, 1):
        if store.try_create_token(token, owner):
            _CLAIM_OWNERS[(os.path.abspath(manifest_dir), snap)] = owner
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


#: this process's live claims: (abs manifest dir, snapshot id) -> owner
#: uuid written into the token dir. verify_claim compares the on-disk
#: owner file against this registry at commit time.
_CLAIM_OWNERS: dict[tuple[str, int], str] = {}


def release_claim(manifest_dir: str, snapshot_id: int) -> None:
    """Release a claim that was taken purely as a MUTUAL-EXCLUSION lease
    (no rows were committed at the id) so the id becomes claimable
    again — ``expire_manifest_history`` guards its manifest swap this
    way. Committing verbs never release: their token is the commit's
    durable marker until expire prunes the at-or-below-tip tokens."""
    from aws_seismic_data_pipeline_spark.sources.table.logstore import (
        log_store_for,
    )

    _CLAIM_OWNERS.pop((os.path.abspath(manifest_dir), int(snapshot_id)), None)
    log_store_for(manifest_dir).delete_token(
        os.path.join(manifest_dir, "_commits", str(int(snapshot_id)))
    )


def verify_claim(manifest_dir: str, snapshot_id: int) -> None:
    """Re-validate token ownership IMMEDIATELY before committing rows at
    ``snapshot_id`` — the commit-time half of the lease protocol. A slow
    writer whose token was taken over (``claim_commit`` stale recovery)
    finds someone else's uuid — or no token — where its own used to be,
    and must raise rather than commit: without this check two writers'
    rows silently interleave under one snapshot id. A snapshot this
    process never claimed (explicit ``snapshot_id=`` passthrough from a
    caller that claimed in another process, or pre-claim-era tests
    stamping id 0 fixtures) is not re-validated — the registry only
    knows this process's leases."""
    from aws_seismic_data_pipeline_spark.sources.table.logstore import (
        log_store_for,
    )

    ours = _CLAIM_OWNERS.get((os.path.abspath(manifest_dir), int(snapshot_id)))
    if ours is None:
        return
    on_disk = log_store_for(manifest_dir).read_token_owner(
        os.path.join(manifest_dir, "_commits", str(int(snapshot_id)))
    )
    if on_disk != ours:
        raise ConcurrentCommitError(
            f"snapshot {snapshot_id} at {manifest_dir}: this writer's "
            "claim was revoked (token taken over as stale while the "
            "commit was in flight) — re-validate against the current "
            "table state and retry with a fresh claim"
        )


def _claimed_next_snapshot(spark: SparkSession, manifest_dir: str) -> int:
    """Allocate AND reserve the next snapshot id: every committing verb
    routes through this instead of a bare max()+1, so two writers can
    never stamp rows with the SAME id — the id-collision half of the
    optimistic-concurrency contract (the other half, re-planning after
    a lost race, is the caller's job: plain verbs fail loudly with
    ConcurrentCommitError; ``merge_with_conflict_retry`` re-plans)."""
    parent = _next_snapshot(spark, manifest_dir) - 1
    return claim_commit(spark, manifest_dir, parent)
