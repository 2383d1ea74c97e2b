"""governed_query: the read side of the governed table, one query per op.

Setup lands a uniquely keyed projection of a generated ``lineitem`` as a
governed table, then gives it history: two copy-on-write MERGEs
(updates and inserts) and two batches of equality deletes. The timed loop
runs a fixed mix, in a seeded order, of point lookups, 1 % and 20 %
key-range scans with a skew towards hot ranges, ``as_of`` time-travel
scans, delete-aware full scans, and registered relational queries over
the generated TPC-H-like tables. It commits nothing and starts no Python
worker.

Every scan result is summarised (row count and exact integer sums of the
key, quantity and price in cents) and compared after the loop with DuckDB
over the same rows; every relational result is compared with the query's
registered DuckDB oracle.
"""

from __future__ import annotations

import math
import os

import duckdb
import numpy as np
import pyarrow as pa
import pyarrow.compute as pc

from pyspark.sql import functions as F

from perfbench import gen
from perfbench.workloads import Workload, dir_bytes

N_ORDERS = 25_000  # about 100 000 lineitem rows
N_FILES = 16
RELATIONAL = (
    "analytics_shipping_priority",
    "join_inner_equi",
    "agg_groupby_hash",
    "window_rank",
)
#: query kind -> queries of that kind in each block of 20; the loop runs
#: blocks, each in a seeded order, so every seed runs the same mix
MIX = {
    "point": 5,
    "range_1pct": 5,
    "range_20pct": 2,
    "as_of": 3,
    "full_with_deletes": 2,
    "relational": 3,
}
HOT_RANGES = 32  # the key space is cut in this many ranges, drawn Zipf-skewed
COLS = ["l_partkey", "l_quantity", "l_extendedprice", "l_returnflag", "l_shipdate"]


def _summary_cols():
    return [
        F.count(F.lit(1)).alias("n"),
        F.sum("lk").alias("sum_key"),
        F.sum(F.col("l_quantity").cast("long")).alias("sum_qty"),
        F.sum(F.round(F.col("l_extendedprice") * 100).cast("long")).alias("sum_cents"),
    ]


SUMMARY_SQL = (
    "SELECT count(*), sum(lk), sum(CAST(l_quantity AS BIGINT)), "
    "sum(CAST(round(l_extendedprice * 100) AS BIGINT)) FROM t"
)


class GovernedQuery(Workload):
    name = "governed_query"
    items = "queries"
    n_ops = sum(MIX.values())  # one whole block of the mix

    def generate(self, ctx, work: str) -> None:
        self.work = work
        self.sf_dir = os.path.join(work, "sf")
        tables = gen.tpch_tables(ctx.seed, N_ORDERS)
        gen.write_tables(tables, self.sf_dir)
        li = tables["lineitem"]
        base = pa.table(
            {
                "lk": pc.add(
                    pc.multiply(li["l_orderkey"], 8),
                    li["l_linenumber"].cast(pa.int64()),
                ),
                **{c: li[c] for c in COLS},
            }
        )
        self.key_lo = 0
        self.key_hi = int(pc.max(base["lk"]).as_py())
        rng = np.random.default_rng([ctx.seed, 5])
        order = rng.permutation(base.num_rows)
        keys = base["lk"].to_numpy()
        # disjoint key sets: two update batches, two delete batches
        n2, n05 = base.num_rows // 50, base.num_rows // 200
        upd1, upd2 = keys[order[:n2]], keys[order[n2 : 2 * n2]]
        del1 = keys[order[2 * n2 : 2 * n2 + n05]]
        del2 = keys[order[2 * n2 + n05 : 2 * n2 + 2 * n05]]
        # the history: (merge delta, delete keys) per step; the rows the
        # table is given land as parquet inputs next to the TPC-H tables
        self.base, self.history = base, []
        next_key = self.key_hi + 1
        n_new = base.num_rows // 100
        rows = base
        for upd, dels in ((upd1, del1), (upd2, del2)):
            delta = _delta(rows, upd, next_key, rng, n_new)
            rows = _upsert(rows, delta)
            next_key += 8 * n_new
            self.history.append((delta, dels))
        self.key_hi = next_key
        inputs = {"table_base": base}
        inputs.update({f"table_delta{i}": d for i, (d, _) in enumerate(self.history)})
        gen.write_tables(inputs, self.sf_dir)
        self.user_bytes = sum(
            os.path.getsize(os.path.join(self.sf_dir, f"{n}.parquet")) for n in inputs
        )
        self.rng = np.random.default_rng([ctx.seed, 6])

    def warm_up(self, ctx) -> None:
        from aws_seismic_data_pipeline_spark.catalog import prepare
        from aws_seismic_data_pipeline_spark.sources.table.facade import (
            GovernedTable,
        )

        spark = ctx.spark
        base = self.base
        prepare(spark, self.sf_dir)

        self.table_dir = os.path.join(self.work, "table")

        def read(name: str):
            return spark.read.parquet(os.path.join(self.sf_dir, f"{name}.parquet"))

        with ctx.span("sources.table.commit", verb="create"):
            self.table = GovernedTable.create(
                spark,
                read("table_base"),
                os.path.join(self.table_dir, "data"),
                os.path.join(self.table_dir, "_manifest"),
                "lk",
                n_files=N_FILES,
            )
        # truth: per snapshot, the rows a plain scan sees and the live
        # delete keys a delete-aware scan subtracts
        rows, deleted = base, np.array([], dtype=np.int64)
        self.truth = {0: (rows, deleted)}
        for i, (delta, dels) in enumerate(self.history):
            with ctx.span("sources.table.commit", verb="merge"):
                snap, _, _ = self.table.merge(read(f"table_delta{i}"), COLS)
            rows = _upsert(rows, delta)
            self.truth[snap] = (rows, deleted)
            with ctx.span("sources.table.commit", verb="delete"):
                snap = self.table.delete_keys([int(k) for k in dels])
            deleted = np.concatenate([deleted, dels])
            self.truth[snap] = (rows, deleted)
        self.snapshots = sorted(self.truth)
        self.results: list[tuple] = []
        self.n_rel = 0
        self.block: list[str] = []
        for kind in MIX:  # warm-up: one query of each kind
            self._query(ctx, kind)

    # ---------------------------------------------------------------- op
    def op(self, ctx) -> int:
        if not self.block:
            self.block = [k for k, n in MIX.items() for _ in range(n)]
            self.rng.shuffle(self.block)
        self._query(ctx, self.block.pop())
        return 1

    def _hot_range(self, width: int) -> tuple[int, int]:
        """A key range of ``width`` starting in a Zipf-chosen hot range."""
        span = self.key_hi - self.key_lo
        bucket = min(int(self.rng.zipf(1.5)) - 1, HOT_RANGES - 1)
        start = self.key_lo + bucket * span // HOT_RANGES
        start += int(self.rng.integers(0, max(1, span // HOT_RANGES)))
        return start, min(self.key_hi, start + width)

    def _query(self, ctx, kind: str) -> None:
        from aws_seismic_data_pipeline_spark.registry import load_all

        span = self.key_hi - self.key_lo
        with ctx.span("op", workload=self.name, kind=kind):
            if kind == "relational":
                name = RELATIONAL[self.n_rel % len(RELATIONAL)]
                self.n_rel += 1
                with ctx.span("operators", query=name):
                    rows = load_all()[name].builder(ctx.spark, self.sf_dir).collect()
                self.results.append(("relational", name, rows))
                return
            as_of = None
            if kind == "point":
                lo = hi = self._hot_range(0)[0] // 8 * 8 + 1
            elif kind == "range_1pct":
                lo, hi = self._hot_range(span // 100)
            elif kind == "range_20pct":
                lo, hi = self._hot_range(span // 5)
            elif kind == "as_of":
                lo, hi = self._hot_range(span // 100)
                as_of = int(self.rng.choice(self.snapshots[:-1]))
            else:
                lo, hi = -math.inf, math.inf
            with ctx.span("sources.table.scan") as s:
                if kind == "full_with_deletes":
                    df = self.table.scan_with_deletes()
                else:
                    df = self.table.scan(lo, hi, as_of=as_of)
            if ctx.tracer.enabled:
                s["n_files_read"] = len(df.inputFiles())
                s["n_files_visible"] = len(self.table.visible_files(as_of))
            with ctx.span("sources.table.exec"):
                got = tuple(df.agg(*_summary_cols()).collect()[0])
            snap = self.snapshots[-1] if as_of is None else as_of
            self.results.append((kind, (lo, hi, snap), got))

    # ------------------------------------------------------------- check
    def check(self, ctx) -> list[tuple[str, bool]]:
        from aws_seismic_data_pipeline_spark.registry import load_all

        con = duckdb.connect()
        try:
            for name in ("customer", "orders", "lineitem"):
                path = os.path.join(self.sf_dir, f"{name}.parquet")
                con.execute(
                    f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{path}')"
                )
            oracle = {}
            scans_ok = rel_ok = True
            for kind, arg, got in self.results:
                if kind == "relational":
                    if arg not in oracle:
                        oracle[arg] = con.execute(load_all()[arg].oracle).fetchall()
                    rel_ok &= _same_rows([tuple(r) for r in got], oracle[arg])
                    continue
                lo, hi, snap = arg
                rows, deleted = self.truth[snap]
                if kind == "full_with_deletes":
                    t = rows.filter(
                        pa.array(~np.isin(rows["lk"].to_numpy(), deleted))
                    )
                else:
                    keys = rows["lk"].to_numpy()
                    t = rows.filter(pa.array((keys >= lo) & (keys <= hi)))
                con.register("t", t)
                want = con.execute(SUMMARY_SQL).fetchone()
                con.unregister("t")
                want = tuple(int(v) if v is not None else None for v in want)
                got = tuple(int(v) if v is not None else None for v in got)
                scans_ok &= want == got
        finally:
            con.close()
        return [("scans_equal_duckdb", scans_ok), ("relational_equal_oracle", rel_ok)]

    def extra_layer_metrics(self, ctx) -> dict[str, float]:
        written = dir_bytes(self.table_dir)
        live = sum(os.path.getsize(p) for p in self.table.visible_files())
        return {
            "sources.table.write_amp": written / self.user_bytes,
            "sources.table.space_amp": written / max(1, live),
        }


def _delta(rows, upd, next_key, rng, n_new) -> pa.Table:
    """Updated copies of the ``upd`` keys plus ``n_new`` new rows."""
    mask = np.isin(rows["lk"].to_numpy(), upd)
    old = rows.filter(pa.array(mask))
    old = old.set_column(
        old.schema.get_field_index("l_quantity"),
        "l_quantity",
        pc.add(old["l_quantity"], 1.0),
    )
    src = rows.take(pa.array(rng.integers(0, rows.num_rows, n_new)))
    new = src.set_column(
        0, "lk", pa.array(next_key + 8 * np.arange(n_new, dtype=np.int64))
    )
    return pa.concat_tables([old, new])


def _upsert(rows: pa.Table, delta: pa.Table) -> pa.Table:
    keep = ~np.isin(rows["lk"].to_numpy(), delta["lk"].to_numpy())
    return pa.concat_tables([rows.filter(pa.array(keep)), delta])


def _norm(v):
    if isinstance(v, float):
        return round(v, 2)
    if hasattr(v, "isoformat"):
        return v.isoformat(sep=" ")
    return v


def _same_rows(got: list[tuple], want: list[tuple]) -> bool:
    """Equal as multisets, floats compared to the cent."""
    key = lambda row: tuple(str(_norm(v)) for v in row)  # noqa: E731
    return sorted(map(key, got)) == sorted(map(key, want))
