"""seismic_daily: the paper's nightly ingest job, one simulated day per op.

Per day: fan the channel catalog out into buffered hourly chunk requests
(plans.ingest) → fetch them over the stub transport with planted dead
letters and zero-byte payloads, landing the results date-partitioned
(sources.http_fetch) → MERGE the landed day into the governed table, the
day's rows as inserts and the previous day's retried dead letters as
updates (sources.table; OPTIMIZE + VACUUM every other day) → drain the
change feed (streaming.cdf_consumer) → copy the day's key range to the
archive, verify it by checksum and delete the landing copy (plans.migrate).

Day 0 (the CREATE) is the warm-up; a run times day 1, a full cycle with
maintenance.
"""

from __future__ import annotations

import datetime as dt
import os
import shutil

import pandas as pd
import pyarrow.parquet as pq

from pyspark.sql import functions as F

from perfbench import gen
from perfbench.workloads import Workload, dir_bytes, list_files

N_STATIONS = 40  # x 3 channels x 24 hours = 2 880 requests a day
N_HOSTS = 12
MAX_DAYS = 64  # fault plans generated up front
WARM_UP_DAYS = 1  # run before timing starts; day 0 creates the table
MAINTAIN_EVERY = 2  # OPTIMIZE + VACUUM on days 1, 3, 5, ...
OPTIMIZE_TARGET_BYTES = 2 * 1024 * 1024
TABLE_COLS = [
    "day",
    "network",
    "station",
    "channel",
    "chunk_start",
    "n_bytes",
    "payload",
    "is_placeholder",
    "error_type",
]


class SeismicDaily(Workload):
    name = "seismic_daily"
    items = "requests"
    n_ops = 1  # day 1: MERGE, OPTIMIZE, VACUUM, change feed, migration

    def generate(self, ctx, work: str) -> None:
        self.work = work
        self.catalog = gen.seismic_catalog(ctx.seed, N_STATIONS, N_HOSTS)
        self.n_channels = len(self.catalog)
        self.plans = [
            gen.fault_plan(ctx.seed, d, self.n_channels) for d in range(MAX_DAYS)
        ]

    def warm_up(self, ctx) -> None:
        from aws_seismic_data_pipeline_spark.streaming.cdf_consumer import (
            CdfConsumer,
        )

        spark = ctx.spark
        work = self.work
        self.catalog_df = spark.createDataFrame(self.catalog).localCheckpoint(
            eager=True
        )
        self.table_dir = os.path.join(work, "table")
        self.data_dir = os.path.join(self.table_dir, "data")
        self.manifest_dir = os.path.join(self.table_dir, "_manifest")
        self.landing = os.path.join(work, "landing")
        self.archive = os.path.join(work, "archive")
        self.table = None
        self.consumer = CdfConsumer(
            spark,
            self.manifest_dir,
            "key",
            "channel",
            "n_bytes",
            base_dir=os.path.join(work, "cdf_state"),
        )
        self.retry: list[tuple] = []
        self.ledger: list[dict] = []
        self.user_bytes = 0  # landed payload rows, as parquet bytes
        self.sink_bytes = 0  # bytes written under the table and archive
        self.day = 0
        for _ in range(WARM_UP_DAYS):
            self.op(ctx)

    # ---------------------------------------------------------------- op
    def op(self, ctx) -> int:
        d = self.day
        self.day += 1
        with ctx.span("op", workload=self.name, index=d):
            n = self._day(ctx, d)
        return n

    def _day(self, ctx, d: int) -> int:
        from aws_seismic_data_pipeline_spark.plans.ingest import chunked_requests
        from aws_seismic_data_pipeline_spark.plans.migrate import (
            run_migration,
            table_checksum,
        )
        from aws_seismic_data_pipeline_spark.sources.http_fetch import fetch_urls
        from aws_seismic_data_pipeline_spark.sources.table.cdf import table_changes
        from aws_seismic_data_pipeline_spark.sources.table.facade import (
            GovernedTable,
        )

        spark = ctx.spark
        rec = {"day": d}
        start = gen.EPOCH + dt.timedelta(days=d)
        plan = self.plans[d]
        rec["planned_dead"] = int((plan.fault != "empty=1").sum())
        rec["planned_empty"] = int((plan.fault == "empty=1").sum())

        with ctx.span("plans.ingest") as s:
            faults = spark.createDataFrame(plan)
            reqs = (
                chunked_requests(
                    self.catalog_df, start, start + dt.timedelta(days=1)
                )
                .withColumn("hour", F.hour("chunk_start"))
                .join(F.broadcast(faults), ["channel_id", "hour"], "left")
                .select(
                    gen.request_key(d, F.col("channel_id"), F.col("hour"))
                    .cast("long")
                    .alias("key"),
                    F.lit(d).alias("day"),
                    "host",
                    F.concat(
                        F.lit("http://"),
                        F.col("host"),
                        F.lit("/data?chan="),
                        F.concat_ws(".", "network", "station", "location", "channel"),
                        F.lit("&from="),
                        F.date_format("query_start", "yyyy-MM-dd'T'HH:mm:ss"),
                        F.lit("&to="),
                        F.date_format("query_end", "yyyy-MM-dd'T'HH:mm:ss"),
                        F.when(
                            F.col("fault").isNotNull(),
                            F.concat(F.lit("&"), F.col("fault")),
                        ).otherwise(F.lit("")),
                    ).alias("url"),
                    "network",
                    "station",
                    "channel",
                    F.col("chunk_start").cast("timestamp").alias("chunk_start"),
                )
            )
            if self.retry:
                retry = pd.DataFrame(self.retry, columns=reqs.columns)
                reqs = reqs.unionByName(spark.createDataFrame(retry, reqs.schema))
            reqs = reqs.localCheckpoint(eager=True)
            s["n_requests"] = rec["requests"] = (
                self.n_channels * 24 + len(self.retry)
            )
            rec["retried"] = len(self.retry)

        with ctx.span("sources.http_fetch") as s:
            fetched = fetch_urls(reqs.select("host", "url")).localCheckpoint(
                eager=True
            )
            rows = fetched.join(reqs, "url").localCheckpoint(eager=True)
            land_dir = os.path.join(self.landing, f"day={d}")
            rows.filter(F.col("is_placeholder") | (F.col("content_len") > 0)).select(
                "key",
                "day",
                "network",
                "station",
                "channel",
                "chunk_start",
                F.coalesce("content_len", F.lit(0)).alias("n_bytes"),
                F.hex("content").alias("payload"),
                "is_placeholder",
                "error_type",
            ).write.mode("overwrite").parquet(land_dir)
            got = rows.select(
                *reqs.columns, "is_placeholder", "content_len"
            ).toPandas()
            is_retry = got["day"] < d
            dead = got[got["is_placeholder"]]
            rec["fetched"] = len(got)
            rec["dead"] = int((~is_retry & got["is_placeholder"]).sum())
            rec["retry_dead"] = int((is_retry & got["is_placeholder"]).sum())
            rec["empty"] = int((got["content_len"] == 0).sum())
            rec["landed"] = rec["fetched"] - rec["empty"]
            s["n_attempts"] = rec["fetched"]
            s["n_ok"] = rec["fetched"] - len(dead) - rec["empty"]
        # tomorrow's retry of each dead letter goes to a healthy sensor
        dead = dead[reqs.columns].assign(
            url=dead["url"].str.replace(
                r"&(status=404|timeout=1)$", "&retry=1", regex=True
            )
        )
        self.retry = list(dead.itertuples(index=False, name=None))
        traced = ctx.tracer.enabled
        if traced:
            self.user_bytes += dir_bytes(land_dir)

        before = set(list_files(self.table_dir)) if traced else None
        with ctx.span("sources.table.commit", verb="create" if d == 0 else "merge") as s:
            delta = spark.read.parquet(land_dir).select("key", *TABLE_COLS)
            s["n_delta_rows"] = rec["landed"]
            if d == 0:
                self.table = GovernedTable.create(
                    spark, delta, self.data_dir, self.manifest_dir, "key", n_files=4
                )
            else:
                self.table.merge(delta, TABLE_COLS)
        if traced:
            self._account_commit(s, before)
        maintain = d % MAINTAIN_EVERY == 1
        if maintain:
            before = set(list_files(self.table_dir)) if traced else None
            with ctx.span("sources.table.commit", verb="optimize") as s:
                self.table.optimize(target_bytes=OPTIMIZE_TARGET_BYTES)
            if traced:
                self._account_commit(s, before)

        n_windows = len(self.consumer.windows_applied)
        with ctx.span("streaming.cdf_consumer") as s:
            self.consumer.drain()
        if traced:  # the rows of the change-feed windows this drain applied
            with ctx.tracer.aside():
                s["n_change_rows"] = sum(
                    table_changes(spark, self.manifest_dir, "key", lo, hi).count()
                    for lo, hi, _ in self.consumer.windows_applied[n_windows:]
                )

        if maintain:
            with ctx.span("sources.table.commit", verb="vacuum"):
                self.table.vacuum(older_than_seconds=0)

        lo, hi = gen.day_key_range(d)
        cols = ["key", *TABLE_COLS]
        with ctx.span("plans.migrate") as s:
            with ctx.span("sources.table.scan") as scan:
                src = self.table.scan(lo, hi)
            if traced:
                scan["n_files_read"] = len(src.inputFiles())
                scan["n_files_visible"] = len(self.table.visible_files())
                before = dir_bytes(self.archive)
            src = src.select(*cols)
            run_migration(spark, src, self.archive, "day")
            if traced:
                s["n_bytes_copied"] = dir_bytes(self.archive) - before
                self.sink_bytes += s["n_bytes_copied"]
            dst = spark.read.parquet(self.archive).filter(F.col("day") == d)
            got = (
                src.agg(F.count(F.lit(1)).alias("n"), table_checksum(cols).alias("c"))
                .crossJoin(
                    dst.agg(
                        F.count(F.lit(1)).alias("dn"),
                        table_checksum(cols).alias("dc"),
                    )
                )
                .collect()[0]
            )
            rec["migrated_ok"] = got.n == got.dn and got.c == got.dc and got.n > 0
            if rec["migrated_ok"]:
                shutil.rmtree(land_dir)  # delete the source only once verified
        self.ledger.append(rec)
        return rec["requests"]

    def _account_commit(self, span: dict, before: set) -> None:
        """Attach the files, bytes and rows a commit wrote to its span."""
        written = [p for p in list_files(self.table_dir) if p not in before]
        n_bytes = sum(os.path.getsize(p) for p in written)
        span["n_files_written"] = sum(1 for p in written if p.endswith(".parquet"))
        span["n_bytes_written"] = n_bytes
        span["n_manifest_bytes"] = sum(
            os.path.getsize(p) for p in written if p.startswith(self.manifest_dir)
        )
        span["n_rows_written"] = sum(
            pq.ParquetFile(p).metadata.num_rows
            for p in written
            if p.endswith(".parquet") and p.startswith(self.data_dir)
        )
        self.sink_bytes += n_bytes

    # ------------------------------------------------------------- check
    def check(self, ctx) -> list[tuple[str, bool]]:
        spark = ctx.spark
        out = []
        batch = {
            r.channel: (r.n, r.v)
            for r in self.table.scan_with_deletes()
            .groupBy("channel")
            .agg(
                F.count(F.lit(1)).alias("n"),
                F.sum("n_bytes").cast("long").alias("v"),
            )
            .collect()
        }
        state = {r[0]: (r[1], r[2]) for r in self.consumer.state().collect()}
        out.append(("cdf_state_equals_batch", batch == state))
        out.append(
            ("migration_checksums", all(r["migrated_ok"] for r in self.ledger))
        )
        out.append(
            (
                "dead_letters_as_planted",
                all(
                    r["dead"] == r["planned_dead"]
                    and r["empty"] == r["planned_empty"]
                    and r["retry_dead"] == 0
                    for r in self.ledger
                ),
            )
        )
        expected_rows = sum(
            self.n_channels * 24 - r["planned_empty"] for r in self.ledger
        )
        n_rows = self.table.row_count()
        out.append(("table_rows", n_rows == expected_rows))
        last = self.ledger[-1]["day"]
        refire = spark.read.parquet(self.archive).filter(F.col("day") == last)
        self.table.merge(refire.select("key", *TABLE_COLS), TABLE_COLS)
        out.append(("refired_day_lands_nothing", self.table.row_count() == n_rows))
        return out

    # ------------------------------------------------------------ layers
    def extra_layer_metrics(self, ctx) -> dict[str, float]:
        live = sum(os.path.getsize(p) for p in self.table.visible_files())
        return {
            "sources.table.write_amp": self.sink_bytes / max(1, self.user_bytes),
            "sources.table.space_amp": dir_bytes(self.table_dir) / max(1, live),
        }
