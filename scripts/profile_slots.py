"""Phase-level profiler for the governed-table bench slots (r15
optimization round): decompose each expensive slot's wall time into its
fixture / verb / read phases and count the Spark jobs each phase
submits — the measurement §1 of the optimization guide demands before
touching anything. Overhead-dominated phases (many jobs, tiny data)
point at driver/metadata round trips; few-jobs-long-wall phases point
at real plan cost.

Usage: python scripts/profile_slots.py [slot ...]
"""

from __future__ import annotations

import os
import sys
import time
from contextlib import contextmanager

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


class Phase:
    """Times labelled phases and counts the Spark jobs each submits."""

    def __init__(self, spark):
        from perfbench.harness import StatusCounters

        self.counter = StatusCounters(spark)
        self.rows: list[tuple[str, float, int]] = []

    @contextmanager
    def __call__(self, label):
        self.counter.mark()
        t0 = time.perf_counter()
        yield
        dt = time.perf_counter() - t0
        self.rows.append((label, dt, self.counter.delta()["jobs"]))


def profile_plan_change_data_feed(spark, ph):
    import glob as _glob

    from pyspark.sql import functions as F

    from aws_seismic_data_pipeline_spark.catalog import (
        load_table,
        prepare,
        scratch_cleanup,
        scratch_path,
    )
    from aws_seismic_data_pipeline_spark.sources.table.cdf import table_changes
    from aws_seismic_data_pipeline_spark.sources.table.deletes import (
        equality_delete,
    )
    from aws_seismic_data_pipeline_spark.sources.table.maintenance import (
        merge_through_manifest,
    )
    from aws_seismic_data_pipeline_spark.sources.table.manifest import (
        write_stats_manifest,
    )

    prepare(spark)
    data_dir = scratch_path(spark, SF_DIR, "cdfprof_data")
    mpath = scratch_path(spark, SF_DIR, "cdfprof_manifest")
    with scratch_cleanup(data_dir, mpath):
        docs = load_table(spark, SF_DIR, "documents").select(
            "doc_id", "lang", "n_chars"
        )
        with ph("write data files"):
            docs.repartition(4, "doc_id").write.mode("overwrite").parquet(
                data_dir
            )
        files = sorted(_glob.glob(os.path.join(data_dir, "*.parquet")))
        with ph("write_stats_manifest"):
            write_stats_manifest(spark, files, mpath, ("doc_id",))
        updates = docs.filter(F.col("doc_id") % 7 == 0).withColumn(
            "n_chars", F.col("n_chars") + F.lit(100)
        )
        inserts = docs.filter(F.col("doc_id") % 13 == 0).withColumn(
            "doc_id", F.col("doc_id") + F.lit(1000000)
        )
        with ph("merge_through_manifest"):
            merge_through_manifest(
                spark, mpath, updates.unionByName(inserts), "doc_id",
                ["lang", "n_chars"],
            )
        with ph("collect del keys"):
            del_keys = [
                r.doc_id
                for r in docs.filter(F.col("doc_id") % 11 == 0)
                .select("doc_id").collect()
            ]
        with ph("equality_delete"):
            equality_delete(spark, mpath, "doc_id", del_keys)
        with ph("table_changes build"):
            ch = table_changes(spark, mpath, "doc_id", 0, 2).select(
                "_change_type", "_commit_snapshot", "doc_id", "lang",
                "n_chars",
            )
        with ph("localCheckpoint"):
            ch.localCheckpoint(eager=True)


def profile_sql_write_face(spark, ph):
    from pyspark.sql import functions as F

    from aws_seismic_data_pipeline_spark.catalog import (
        load_table,
        prepare,
        scratch_cleanup,
        scratch_path,
    )
    from aws_seismic_data_pipeline_spark.sources.table.facade import (
        GovernedTable,
    )
    from aws_seismic_data_pipeline_spark.sources.table.sqlface import (
        governed_sql,
        governed_sql_write,
    )

    prepare(spark)
    data_dir = scratch_path(spark, SF_DIR, "swfprof_data")
    mpath = scratch_path(spark, SF_DIR, "swfprof_manifest")
    with scratch_cleanup(data_dir, mpath):
        docs = load_table(spark, SF_DIR, "documents").select(
            "doc_id", "lang", "n_chars"
        )
        with ph("GovernedTable.create"):
            t = GovernedTable.create(
                spark, docs, data_dir, mpath, "doc_id", n_files=4
            )
        with ph("SQL INSERT"):
            governed_sql_write(
                spark, t,
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
        with ph("SQL MERGE"):
            governed_sql_write(
                spark, t,
                """
                MERGE INTO t USING changes_src AS s ON t.doc_id = s.doc_id
                WHEN MATCHED AND s.n_chars > 600 THEN DELETE
                WHEN MATCHED THEN UPDATE SET lang = s.lang,
                                             n_chars = s.n_chars
                WHEN NOT MATCHED THEN INSERT *
                """,
                name="t",
            )
        with ph("SQL DELETE"):
            governed_sql_write(
                spark, t, "DELETE FROM t WHERE doc_id % 11 = 0", name="t"
            )
        with ph("readback governed_sql"):
            out = governed_sql(
                spark, t,
                """
                SELECT lang, COUNT(*) AS n_docs,
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
            )
        with ph("localCheckpoint"):
            out.localCheckpoint(eager=True)


def profile_sql_governed_time_travel(spark, ph):
    import glob as _glob

    from pyspark.sql import functions as F

    from aws_seismic_data_pipeline_spark.catalog import (
        load_table,
        prepare,
        scratch_cleanup,
        scratch_path,
    )
    from aws_seismic_data_pipeline_spark.sources.table.facade import (
        GovernedTable,
    )
    from aws_seismic_data_pipeline_spark.sources.table.sqlface import (
        governed_sql,
    )

    prepare(spark)
    data_dir = scratch_path(spark, SF_DIR, "ttprof_data")
    mpath = scratch_path(spark, SF_DIR, "ttprof_manifest")
    with scratch_cleanup(data_dir, mpath):
        docs = load_table(spark, SF_DIR, "documents").select(
            "doc_id", "lang", "n_chars"
        )
        with ph("GovernedTable.create"):
            t = GovernedTable.create(
                spark, docs, data_dir, mpath, "doc_id", n_files=4
            )
        extra = docs.filter(F.col("doc_id") % 13 == 0).withColumn(
            "doc_id", F.col("doc_id") + F.lit(700000)
        )
        stage = os.path.join(data_dir, ".append_stage")
        with ph("stage append file"):
            extra.coalesce(1).write.mode("overwrite").parquet(stage)
        part = sorted(_glob.glob(os.path.join(stage, "part-*.parquet")))[0]
        new_path = os.path.join(data_dir, "appended-00000.parquet")
        os.replace(part, new_path)
        with ph("append"):
            snap1 = t.append([new_path])
        with ph("collect del keys"):
            del_keys = [
                r.doc_id
                for r in docs.filter(F.col("doc_id") % 11 == 0)
                .select("doc_id").collect()
            ]
        with ph("delete_keys"):
            t.delete_keys(del_keys)
        with ph("history ts lookup"):
            ts1 = (
                t.history()
                .filter(F.col("snapshot_id") == snap1)
                .select("commit_ts").collect()[0][0]
            )
        with ph("governed_sql build"):
            out = governed_sql(
                spark, t,
                """
                SELECT 'v0' AS world, lang, COUNT(*) AS n_docs,
                       CAST(SUM(n_chars) AS BIGINT) AS sum_chars
                FROM t_v0 GROUP BY lang
                HAVING COUNT(*) >= :min_docs
                UNION ALL
                SELECT 'ts1', lang, COUNT(*), CAST(SUM(n_chars) AS BIGINT)
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
            )
        with ph("localCheckpoint"):
            out.localCheckpoint(eager=True)


PROFILES = {
    "plan_change_data_feed": profile_plan_change_data_feed,
    "sql_write_face": profile_sql_write_face,
    "sql_governed_time_travel": profile_sql_governed_time_travel,
}


def main() -> None:
    from aws_seismic_data_pipeline_spark.session import get_spark

    names = sys.argv[1:] or list(PROFILES)
    spark = get_spark(app_name="profile_slots")
    # warm: JIT + page cache, mirrors bench.py
    for t in ("lineitem", "orders", "documents"):
        spark.read.parquet(f"{SF_DIR}/{t}.parquet").count()
    for name in names:
        for trial in (1, 2):  # trial 2 is the steady state the bench min sees
            ph = Phase(spark)
            t0 = time.perf_counter()
            PROFILES[name](spark, ph)
            total = time.perf_counter() - t0
            if trial == 1:
                continue
            print(f"\n=== {name} (trial {trial}, total {total:.2f}s) ===")
            for label, dt, dj in ph.rows:
                print(f"  {label:28s} {dt:7.3f}s  {dj:3d} jobs")


if __name__ == "__main__":
    main()
