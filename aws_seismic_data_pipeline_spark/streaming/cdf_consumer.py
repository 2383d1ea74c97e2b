"""Streaming CHANGE DATA FEED consumer (round-14 verdict item 4): a
downstream incremental aggregate driven off ``table_changes`` windows,
consumed per tick — the ``readChangeFeed`` deployment shape Delta
documents, built from this engine's derived CDF
(``sources/table/cdf.py``).

The consumer polls the commit log's TIP, the way the Delta Lake
paper's readers list the log versions after the last one they read:
each tick reads the committed tip off the manifest footers
(``_next_snapshot``, driver-side) and, when it moved past the consumed
tip, applies the window ``table_changes(last_consumed, tip]`` from the
committed manifest. An idle tick (``tip <= last_consumed``) is a no-op
that starts no Spark job; several commits between ticks coalesce into
one window. State advances additively per change row (+1 for
``insert``/``update_postimage``, -1 for ``delete``/``update_preimage``),
so the final state is invariant to how commits batch into windows —
which is exactly what makes the batch recompute an oracle.

The consumed tip and the state are persisted TOGETHER in one JSON file
under ``base_dir``, replaced atomically (temp file + ``os.replace``),
so a restarted consumer resumes with the state that matches its tip
and a crash mid-write leaves the previous pair intact.

Scale shape: each tick's cost is ``table_changes``'s — O(bytes
rewritten in the window + delete-candidate files), never O(table); the
consumer state is group-cardinality-scale (collected to the driver here
— at 100 TB the state itself becomes a governed table and the per-tick
delta lands as a MERGE, the ``stream_manifest_merge`` shape; the window
math is identical).

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
from aws_seismic_data_pipeline_spark.sources.table.cdf import table_changes
from aws_seismic_data_pipeline_spark.sources.table.commit import (
    _next_snapshot,
)

_ADDS = ("insert", "update_postimage")


class CdfConsumer:
    """Incremental per-group (count, sum) aggregate over a governed
    table, maintained EXCLUSIVELY from CDF windows — after the first
    window the underlying table is never rescanned.

    ``drain()`` is one trigger (cron tick): it polls the committed tip
    and applies the window ``(last_consumed, tip]``. Starting state is
    empty with ``last_consumed = -1``, so the first window replays the
    initial load as inserts (Delta's ``startingVersion=0`` semantics)
    — bootstrap is just the first window, not a special path. A new
    consumer on an existing ``base_dir`` resumes from its persisted
    tip and state."""

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

    def drain(self) -> int:
        """One tick: poll the committed tip and, if it moved past the
        consumed tip, apply the window ``(last_consumed, tip]``; returns
        the number of non-empty windows this consumer has applied."""
        # committed tip off the manifest footers (driver-side pyarrow
        # inside _next_snapshot — max(snapshot_id))
        tip = _next_snapshot(self.spark, self.manifest_dir) - 1
        last = self._last
        if tip <= last:
            return len(self.windows_applied)
        ch = table_changes(
            self.spark, self.manifest_dir, self.key, last, tip
        )
        delta_rows = (
            ch.withColumn(
                "_w",
                F.when(F.col("_change_type").isin(*_ADDS), F.lit(1))
                .otherwise(F.lit(-1)),
            )
            .groupBy(self.group_col)
            .agg(
                F.sum("_w").cast("long").alias("_dn"),
                F.sum(F.col("_w") * F.col(self.value_col))
                .cast("long")
                .alias("_dv"),
            )
            .collect()
        )
        state = dict(self._state)
        n_changed = 0
        for r in delta_rows:
            g = r[self.group_col]
            n, v = state.get(g, (0, 0))
            n, v = n + int(r._dn or 0), v + int(r._dv or 0)
            n_changed += abs(int(r._dn or 0))
            if n == 0:
                state.pop(g, None)
            else:
                state[g] = (n, v)
        self._save(tip, state)
        self._last, self._state = tip, state
        if delta_rows:
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
