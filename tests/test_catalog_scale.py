"""Scale-gating tests: fixture tuning must be conditional on observed
input size, not baked in (round-1 verdict items 4-5).

- ``spread()`` only shuffles when the scan produced fewer splits than
  cores; a multi-split input passes through untouched (no Exchange).
- ``_split_bytes_for`` picks maxPartitionBytes from the largest file:
  tiny fixtures get small splits, production-size files keep the 128 MB
  default.
- ``dedup_ngram_jaccard`` (registered, capped) agrees with the uncapped
  exact witness wherever the stop-shingle cap doesn't bind.
"""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from aws_seismic_data_pipeline_spark.catalog import (
    _DEFAULT_SPLIT_BYTES,
    _MIN_SPLIT_BYTES,
    _split_bytes_for,
    spread,
)

from aws_seismic_data_pipeline_spark.sources.table.logstore import (
    manifest_data_dir as _mdd,
)
from .conftest import SF_DIR


def test_spread_is_noop_on_multi_split_input(spark):
    cores = spark.sparkContext.defaultParallelism
    many = spark.range(0, 1000, 1, numPartitions=cores * 2)
    out = spread(many, spark)
    assert out is many  # no repartition node added at all
    assert "Exchange" not in out._sc._jvm.PythonSQLUtils.explainString(
        out._jdf.queryExecution(), "simple"
    )


def test_spread_fans_out_single_split_input(spark):
    cores = spark.sparkContext.defaultParallelism
    few = spark.range(0, 1000, 1, numPartitions=1)
    out = spread(few, spark)
    assert out.rdd.getNumPartitions() == cores


def test_split_bytes_small_fixture_gets_small_splits(spark):
    # sf0.001 files are ~1 MB; splits clamp to the 1 MB floor
    assert _split_bytes_for(spark, SF_DIR) == _MIN_SPLIT_BYTES


def test_split_bytes_production_file_keeps_default(spark, tmp_path):
    # sparse 16 GB file: getsize sees the apparent size, no disk used
    big = tmp_path / "lineitem.parquet"
    with open(big, "wb") as fh:
        fh.truncate(16 * 1024**3)
    assert _split_bytes_for(spark, str(tmp_path)) == _DEFAULT_SPLIT_BYTES


def test_split_bytes_missing_dir_keeps_default(spark):
    assert _split_bytes_for(spark, "/nonexistent/sfX") == _DEFAULT_SPLIT_BYTES
    assert _split_bytes_for(spark, "s3a://bucket/prefix") == _DEFAULT_SPLIT_BYTES


def test_capped_jaccard_agrees_with_exact_where_cap_unbound(spark, duck):
    """The registered (capped) Jaccard and the exact witness agree on
    every pair whose shingles all fall under the df cap; capped never
    reports a HIGHER jaccard than exact, and never invents pairs."""
    from aws_seismic_data_pipeline_spark.llm.dedup import (
        NGRAM_JACCARD_EXACT_ORACLE,
        ngram_jaccard_exact,
    )
    from aws_seismic_data_pipeline_spark.registry import load_all

    exact = {
        (r["doc_a"], r["doc_b"]): r["jaccard"]
        for r in ngram_jaccard_exact(spark, SF_DIR).collect()
    }
    capped = {
        (r["doc_a"], r["doc_b"]): r["jaccard"]
        for r in load_all()["dedup_ngram_jaccard"].builder(spark, SF_DIR).collect()
    }
    assert capped, "fixture should contain near-dup pairs"
    for pair, j_capped in capped.items():
        assert pair in exact, f"capped invented pair {pair}"
        assert j_capped <= exact[pair] + 1e-12, pair
    # exact witness itself matches its DuckDB oracle
    from .conftest import assert_frames_match

    assert_frames_match(
        ngram_jaccard_exact(spark, SF_DIR),
        duck.execute(NGRAM_JACCARD_EXACT_ORACLE),
        "ngram_jaccard_exact",
    )


def test_zorder_buckets_are_narrow_in_both_dimensions(spark):
    """The point of the Z-order layout: every file bucket must span a
    narrow range of BOTH scan dimensions. With a 16-bit Morton key and
    file_id = zkey >> 6, each file fixes the top 5 bits of each
    dimension, so min-max span <= 7 (of 256 buckets) in user AND hour —
    a linear sort would span the full range on its secondary key."""
    from aws_seismic_data_pipeline_spark.registry import load_all

    from .conftest import SF_DIR

    rows = load_all()["layout_zorder_cluster"].builder(spark, SF_DIR).collect()
    assert rows
    for r in rows:
        assert r.max_user_bucket - r.min_user_bucket <= 7, r
        assert r.max_hour_bucket - r.min_hour_bucket <= 7, r


@pytest.mark.parametrize(
    "name",
    ["filter_predicate", "analytics_promo_revenue", "analytics_shipping_priority"],
)
def test_scan_filters_are_pushed_down(spark, name):
    """Filters on scan-adjacent columns must reach the parquet reader
    (PushedFilters in the formatted plan) — a refactor that hides a
    predicate behind a non-pushable expression silently turns pruned
    scans into full scans, the kind of regression only the plan shows."""
    import io
    from contextlib import redirect_stdout

    from aws_seismic_data_pipeline_spark.registry import load_all

    from .conftest import SF_DIR

    df = load_all()[name].builder(spark, SF_DIR)
    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain("formatted")
    plan = buf.getvalue()
    pushed = [
        line.split("PushedFilters:", 1)[1].strip()
        for line in plan.splitlines()
        if "PushedFilters:" in line
    ]
    assert any(p and p != "[]" for p in pushed), f"{name}: no pushed filters\n{plan}"


def test_zorder_write_prunes_files_and_loses_no_rows(spark, tmp_path):
    """The production Z-order write must deliver the file-skipping it
    promises: a rectangle covering 4 of the tile grid's cells reads
    strictly fewer files than the table holds (scan-metric numFiles
    after execution), and the pruned scan returns exactly the rows a
    brute-force filter finds. sf0.001 only populates user buckets
    0..14, so the box anchors at user 0."""
    import glob

    from aws_seismic_data_pipeline_spark.operators.window_ops import (
        zorder_pruned_scan,
        zorder_write,
    )
    from aws_seismic_data_pipeline_spark.registry import load_all

    from .conftest import SF_DIR

    path = str(tmp_path / "zorder")
    zorder_write(spark, SF_DIR, path)
    total_files = len(glob.glob(path + "/zfile=*/*.parquet"))

    box = zorder_pruned_scan(spark, path, (0, 31), (32, 63))
    rows = box.collect()
    assert rows

    # actual files read, from the executed scan's metrics (inputFiles()
    # is relation-level and ignores partition pruning)
    jplan = box._jdf.queryExecution().executedPlan()
    if "Adaptive" in jplan.getClass().getName():
        jplan = jplan.executedPlan()
    leaves = jplan.collectLeaves()
    num_files = None
    for i in range(leaves.size()):
        m = leaves.apply(i).metrics()
        it = m.iterator()
        while it.hasNext():
            kv = it.next()
            if kv._1() == "numFiles":
                num_files = kv._2().value()
    assert num_files is not None
    assert 0 < num_files < total_files, (num_files, total_files)

    brute = spark.read.parquet(path).filter(
        F.col("user_bucket").between(0, 31) & F.col("hour_bucket").between(32, 63)
    )
    assert sorted(
        (r.user_bucket, r.hour_bucket, r.value) for r in rows
    ) == sorted((r.user_bucket, r.hour_bucket, r.value) for r in brute.collect())

    # and the registered end-to-end query agrees with itself rerun
    reg = load_all()["layout_zorder_scan"]
    a = sorted(map(tuple, reg.builder(spark, SF_DIR).collect()))
    assert a == sorted(map(tuple, reg.builder(spark, SF_DIR).collect()))


def test_morton_n_high_dimension_stays_in_bigint_range():
    """_morton_n_sql's k-bound contract (round-12 advice): with 8-bit
    buckets, k=8 used to place a bit at position 63 (the bigint sign
    bit) and k>8 emitted shifts >= 64, which the JVM masks mod 64 —
    curve-key bits silently collided and the clustering order was
    scrambled. Now every emitted bit position stays <= 62 for any k,
    resolution degrades by dropping each column's LOW bits (top bits
    kept, so the total order still follows the curve), and k <= 7
    output is byte-identical to the historical text."""
    import re

    import duckdb

    from aws_seismic_data_pipeline_spark.operators.window_ops import (
        _morton_n_sql,
    )

    shift_pat = re.compile(r"<< (\d+)\)")
    for k in (2, 3, 7, 8, 9, 16, 31, 63):
        sql = _morton_n_sql([f"c{j}" for j in range(k)])
        positions = [int(m) for m in shift_pat.findall(sql)]
        assert positions, f"k={k}: no shift terms emitted"
        assert max(positions) <= 62, f"k={k}: bit position {max(positions)}"
        assert len(set(positions)) == len(positions), f"k={k}: collision"
    # k <= 7 keeps all 8 bits (historic behavior); k = 8 drops to 7
    assert "c0 >> 7) & 1) AS BIGINT)) << 48" in _morton_n_sql(
        [f"c{j}" for j in range(8)]
    )
    assert "<< 63" not in _morton_n_sql([f"c{j}" for j in range(8)])
    # ordering property at k = 8: the key is monotone in each column's
    # TOP bits — bucket 128 must sort after bucket 127 in any dimension
    con = duckdb.connect()
    for dim in (0, 7):
        lo_cols = ["0"] * 8
        hi_cols = ["0"] * 8
        lo_cols[dim], hi_cols[dim] = "126", "130"
        lo = con.execute(f"SELECT {_morton_n_sql(lo_cols)}").fetchone()[0]
        hi = con.execute(f"SELECT {_morton_n_sql(hi_cols)}").fetchone()[0]
        assert 0 <= lo < hi, f"dim={dim}: {lo} !< {hi}"
    import pytest as _pytest

    with _pytest.raises(ValueError, match="63 curve-key bits"):
        _morton_n_sql([f"c{j}" for j in range(64)])


def test_morton_tile_identity_property():
    """The invariant zorder_pruned_scan's tile enumeration relies on:
    for ALL (x, y) in the 8-bit grid, the SQL Morton key's high bits
    equal the Python tile morton of the quotient coordinates —
    zkey >> 8 == morton4(x >> 4, y >> 4) — and the SQL and Python
    interleaves agree exactly. Hypothesis drives the grid; DuckDB
    evaluates the same SQL text Spark executes."""
    import duckdb
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from aws_seismic_data_pipeline_spark.operators.window_ops import (
        _morton16_sql,
        _morton_interleave_py,
        _ZORDER_WRITE_SHIFT,
    )

    con = duckdb.connect()

    @settings(max_examples=200, deadline=None)
    @given(st.integers(0, 255), st.integers(0, 255))
    def check(x, y):
        sql_z = con.execute(
            f"SELECT {_morton16_sql(str(x), str(y))}"
        ).fetchone()[0]
        assert sql_z == _morton_interleave_py(x, y, bits=8)
        assert (sql_z >> _ZORDER_WRITE_SHIFT) == _morton_interleave_py(
            x >> 4, y >> 4, bits=4
        )

    check()


def test_rowgroup_stats_prune_files_and_lose_no_rows(spark, tmp_path):
    """Footer-stats pruning must deliver what it promises: for a
    range-clustered multi-file table, the stats-driven scan reads
    strictly fewer files than the table holds (executed-scan numFiles)
    and returns exactly the rows a brute-force filter finds."""
    import glob

    from aws_seismic_data_pipeline_spark.sources.footers import (
        rangekey_write,
    )
    from aws_seismic_data_pipeline_spark.sources.readers import (
        rowgroup_pruned_scan,
    )

    from .conftest import SF_DIR

    path = str(tmp_path / "rangekey")
    rangekey_write(spark, SF_DIR, path)
    total_files = len(glob.glob(path + "/*.parquet"))
    assert total_files > 1  # multi-file table, else pruning is vacuous

    lo, hi = 200, 700
    pruned = rowgroup_pruned_scan(spark, path, lo, hi)
    rows = pruned.collect()
    assert rows

    jplan = pruned._jdf.queryExecution().executedPlan()
    if "Adaptive" in jplan.getClass().getName():
        jplan = jplan.executedPlan()
    leaves = jplan.collectLeaves()
    num_files = None
    for i in range(leaves.size()):
        m = leaves.apply(i).metrics()
        it = m.iterator()
        while it.hasNext():
            kv = it.next()
            if kv._1() == "numFiles":
                num_files = kv._2().value()
    assert num_files is not None
    assert 0 < num_files < total_files, (num_files, total_files)

    brute = spark.read.parquet(path).filter(F.col("o_orderkey").between(lo, hi))
    assert sorted(r.o_orderkey for r in rows) == sorted(
        r.o_orderkey for r in brute.collect()
    )


def test_salted_hot_join_spreads_the_hot_key(spark):
    """The salting escape hatch must actually spread a hot key: with
    ~half the fact table collapsed onto one join key, the UNSALTED
    shuffle concentrates those rows in one reducer partition, while the
    salted join's worst partition holds only ~1/SALT of them. Asserted
    on spark_partition_id() of the executed join output with AQE off
    (AQE's own skew splitting would mask what the salt contributes)."""
    from aws_seismic_data_pipeline_spark.operators.joins import (
        _HOT_SALT,
        salted_hot_join,
    )

    from .conftest import SF_DIR

    def max_share(df):
        dist = (
            df.withColumn("pid", F.spark_partition_id())
            .groupBy("pid")
            .count()
            .collect()
        )
        total = sum(r["count"] for r in dist)
        return max(r["count"] for r in dist) / total

    # Build the frames FIRST: salted_hot_join -> load_table -> prepare()
    # re-pins adaptive.enabled=true at build time, so the conf flips
    # must come after construction (they are read at execution time).
    li = spark.read.parquet(f"{SF_DIR}/lineitem.parquet").withColumn(
        "skew_key",
        F.when(F.col("l_orderkey") % 2 == 0, F.lit(0))
        .otherwise(F.col("l_orderkey"))
        .cast("long"),
    )
    orders = spark.read.parquet(f"{SF_DIR}/orders.parquet")
    # the demo maps even lineitems onto hot key 0; with 1-based TPC-H
    # keys the inner join would silently drop them (parity would still
    # pass — both engines drop) and this skew test would be measuring
    # nothing. Fail loudly instead if the fixture is ever re-keyed.
    assert orders.filter(F.col("o_orderkey") == 0).limit(1).count() == 1, (
        "hot key 0 missing from orders — fixture re-keyed? salted_hot_join's "
        "skew demo is vacuous without it"
    )
    unsalted = li.join(orders, li.skew_key == orders.o_orderkey)
    salted = salted_hot_join(spark, SF_DIR)

    prev = spark.conf.get("spark.sql.adaptive.enabled")
    prev_bc = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    prev_sp = spark.conf.get("spark.sql.shuffle.partitions")
    # AQE off: its own skew splitting / partition coalescing would mask
    # what the salt contributes. Broadcast off: at fixture scale the
    # build side broadcasts, sidestepping the reducer skew entirely
    # (at 100 TB neither side of an orderkey join is broadcastable).
    # 64 shuffle partitions: with only 8, two of the 8 salted hot keys
    # hash-colliding into one reducer is near-certain (birthday bound),
    # which would measure the hash function, not the salting.
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    spark.conf.set("spark.sql.shuffle.partitions", "64")
    try:
        unsalted_share = max_share(unsalted)
        salted_share = max_share(salted)
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", prev)
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev_bc)
        spark.conf.set("spark.sql.shuffle.partitions", prev_sp)

    # hot key holds ~50% of rows: unsalted -> one reducer owns them all;
    # salted -> worst reducer holds ~(50/SALT)% + background, with slack
    # for one residual (hot-salt, partition) hash collision
    assert unsalted_share > 0.4, unsalted_share
    assert salted_share < 2.5 * 0.5 / _HOT_SALT, salted_share
    assert salted_share < unsalted_share / 2


def test_rowgroup_pruning_property_random_ranges(spark, tmp_path):
    """For ANY [lo, hi] — including empty, out-of-range, and
    single-file-wide ranges — the stats-pruned scan must return exactly
    the rows a brute-force filter finds. Hypothesis drives the ranges
    over one shared written table."""
    from hypothesis import HealthCheck, given, settings
    from hypothesis import strategies as st

    from aws_seismic_data_pipeline_spark.sources.footers import (
        rangekey_write,
    )
    from aws_seismic_data_pipeline_spark.sources.readers import (
        rowgroup_pruned_scan,
    )

    from .conftest import SF_DIR

    path = str(tmp_path / "rangekey_prop")
    rangekey_write(spark, SF_DIR, path)
    full = spark.read.parquet(path)

    @settings(
        max_examples=12,
        deadline=None,
        suppress_health_check=[HealthCheck.function_scoped_fixture],
    )
    @given(st.integers(-100, 2000), st.integers(0, 2200))
    def check(lo, span):
        hi = lo + span
        got = sorted(
            r.o_orderkey
            for r in rowgroup_pruned_scan(spark, path, lo, hi).collect()
        )
        want = sorted(
            r.o_orderkey
            for r in full.filter(F.col("o_orderkey").between(lo, hi)).collect()
        )
        assert got == want, (lo, hi)

    check()


def test_asof_join_matches_pandas_merge_asof(spark):
    """Third-implementation cross-check for the custom as-of operator:
    the union+window plan must agree row-for-row with
    pandas.merge_asof(direction='backward') — an independent reference
    implementation on the same fixture data (the SQL oracle being the
    second). Guards the at-or-before tie rule (purchases sorting before
    clicks at identical ts) against window-ordering regressions."""
    import pandas as pd

    from aws_seismic_data_pipeline_spark.registry import load_all

    from .conftest import SF_DIR

    got = {
        r.event_id: r.last_purchase_ts
        for r in load_all()["join_asof_nearest"].builder(spark, SF_DIR).collect()
    }

    from aws_seismic_data_pipeline_spark.catalog import load_table

    ev = load_table(spark, SF_DIR, "events").select(
        "event_id", "user_id", "event_type", "ts"
    )
    pdf = ev.toPandas()
    clicks = (
        pdf[pdf.event_type == "click"]
        .sort_values(["ts", "event_id"])
        .reset_index(drop=True)
    )
    purchases = (
        pdf[pdf.event_type == "purchase"]
        .sort_values(["ts", "event_id"])
        .reset_index(drop=True)
    )
    merged = pd.merge_asof(
        clicks,
        purchases[["user_id", "ts"]].rename(columns={"ts": "last_purchase_ts"}),
        left_on="ts",
        right_on="last_purchase_ts",
        by="user_id",
        direction="backward",
        allow_exact_matches=True,
    )
    want = {
        r.event_id: (None if pd.isna(r.last_purchase_ts) else r.last_purchase_ts)
        for r in merged.itertuples()
    }
    assert len(got) == len(want) and got
    mismatches = {
        k: (got[k], want[k])
        for k in want
        if (got[k] is None) != (want[k] is None)
        or (got[k] is not None and pd.Timestamp(got[k]) != want[k])
    }
    assert not mismatches, list(mismatches.items())[:5]


def _executed_num_files(df):
    """numFiles metric of the executed scan leaves (AQE-unwrapped)."""
    jplan = df._jdf.queryExecution().executedPlan()
    if "Adaptive" in jplan.getClass().getName():
        jplan = jplan.executedPlan()
    leaves = jplan.collectLeaves()
    num_files = None
    for i in range(leaves.size()):
        m = leaves.apply(i).metrics()
        it = m.iterator()
        while it.hasNext():
            kv = it.next()
            if kv._1() == "numFiles":
                num_files = kv._2().value()
    return num_files


def test_manifest_pruned_scan_equals_direct_and_prunes(spark, tmp_path):
    """The persisted-manifest scan path must (a) return exactly what the
    direct-footer-read path returns, (b) open strictly fewer files than
    the table holds (executed-scan numFiles), and (c) an appended
    manifest must equal a from-scratch rebuild row-for-row — the three
    contracts that make the manifest the catalog instead of a cache."""
    import glob

    from aws_seismic_data_pipeline_spark.sources.footers import (
        rangekey_write,
        read_footer_stats_multi,
    )
    from aws_seismic_data_pipeline_spark.sources.readers import (
        rowgroup_pruned_scan,
    )
    from aws_seismic_data_pipeline_spark.sources.table.manifest import (
        append_stats_manifest,
        manifest_pruned_scan,
        write_stats_manifest,
    )

    from .conftest import SF_DIR

    path = str(tmp_path / "rangekey")
    rangekey_write(spark, SF_DIR, path)
    files = sorted(glob.glob(path + "/*.parquet"))
    assert len(files) > 1

    # (c) append == rebuild: manifest over 12 files + appended 4 must
    # carry the identical stats rows as one built over all 16
    m_appended = str(tmp_path / "manifest_app")
    write_stats_manifest(spark, files[:12], m_appended)
    append_stats_manifest(spark, files[12:], m_appended)
    rebuilt = read_footer_stats_multi(spark, files, ("o_orderkey", "o_custkey"))
    key = ["path", "row_group", "column_name"]
    got = (
        spark.read.parquet(m_appended)
        # STATS rows only: every commit also lands a commit_ts
        # wall-clock marker (timestamp time travel, r13)
        .filter(F.col("op") == "add")
        .drop("snapshot_id", "op", "partition_values")
        .orderBy(*key)
        .collect()
    )
    want = rebuilt.orderBy(*key).collect()
    assert [tuple(r) for r in got] == [tuple(r) for r in want]

    # (a) manifest == direct on the demo range, (b) numFiles drop
    lo, hi = 200, 700
    pruned = manifest_pruned_scan(spark, m_appended, "o_orderkey", lo, hi)
    rows = sorted(r.o_orderkey for r in pruned.collect())
    direct = sorted(
        r.o_orderkey for r in rowgroup_pruned_scan(spark, path, lo, hi).collect()
    )
    assert rows == direct and rows
    num_files = _executed_num_files(pruned)
    assert num_files is not None and 0 < num_files < len(files)

    # empty range through the manifest keeps schema and returns no rows
    empty = manifest_pruned_scan(spark, m_appended, "o_orderkey", -50, -10)
    assert empty.count() == 0
    assert "o_orderkey" in empty.columns


def test_manifest_prunes_on_second_column(spark, tmp_path):
    """Multi-column manifests must prune on ANY stats-carrying
    predicate column: cluster the table by o_custkey, prune a custkey
    range THROUGH the same two-column manifest, and the scan must both
    lose no rows and skip files — no re-listing or second footer pass
    for the second column."""
    import glob

    from aws_seismic_data_pipeline_spark.catalog import load_table
    from aws_seismic_data_pipeline_spark.sources.table.manifest import (
        manifest_pruned_scan,
        write_stats_manifest,
    )

    from .conftest import SF_DIR

    path = str(tmp_path / "custkey_clustered")
    load_table(spark, SF_DIR, "orders").repartitionByRange(
        16, "o_custkey"
    ).write.mode("overwrite").parquet(path)
    files = sorted(glob.glob(path + "/*.parquet"))
    assert len(files) > 1
    mpath = str(tmp_path / "manifest2")
    write_stats_manifest(spark, files, mpath)

    lo, hi = 50, 150
    pruned = manifest_pruned_scan(spark, mpath, "o_custkey", lo, hi)
    got = sorted((r.o_custkey, r.o_orderkey) for r in pruned.collect())
    want = sorted(
        (r.o_custkey, r.o_orderkey)
        for r in spark.read.parquet(path)
        .filter(F.col("o_custkey").between(lo, hi))
        .collect()
    )
    assert got == want and got
    num_files = _executed_num_files(pruned)
    assert num_files is not None and 0 < num_files < len(files)


def test_vacuum_report_empty_when_fully_tracked(spark, tmp_path):
    """A manifest covering every file must yield an EMPTY orphan report
    (with the data schema intact), and dropping one file from the
    manifest must surface exactly that file's rows — the two boundary
    cases the registered query's fixed de/en/es split can't pin."""
    import glob

    from aws_seismic_data_pipeline_spark.catalog import load_table
    from aws_seismic_data_pipeline_spark.sources.table.maintenance import (
        vacuum_orphans_report,
    )
    from aws_seismic_data_pipeline_spark.sources.table.manifest import (
        write_stats_manifest,
    )

    from .conftest import SF_DIR

    data_dir = str(tmp_path / "docs")
    load_table(spark, SF_DIR, "documents").repartition("lang").write.partitionBy(
        "lang"
    ).parquet(data_dir)
    files = sorted(
        glob.glob(data_dir + "/lang=*/*.parquet")
    )
    assert len(files) >= 3

    mpath = str(tmp_path / "manifest_all")
    write_stats_manifest(spark, files, mpath, ("doc_id",))
    report = vacuum_orphans_report(spark, data_dir, mpath)
    assert report.count() == 0
    assert "doc_id" in report.columns and "lang" in report.columns

    mpath2 = str(tmp_path / "manifest_partial")
    write_stats_manifest(spark, files[:-1], mpath2, ("doc_id",))
    orphan_rows = vacuum_orphans_report(spark, data_dir, mpath2)
    import pyarrow.parquet as pq

    want = pq.ParquetFile(files[-1]).metadata.num_rows
    assert orphan_rows.count() == want


def test_manifest_pruning_property_random_ranges(spark, tmp_path):
    """For ANY [lo, hi] the manifest-driven scan must return exactly
    what a brute-force filter finds — including empty, out-of-range,
    and all-file ranges — and the manifest table itself must survive
    its own compaction (``compact_parquet_dir``) with pruning results
    unchanged: the manifest is a parquet table like any other, so the
    maintenance op it prescribes for data applies to it."""
    from hypothesis import HealthCheck, given, settings
    from hypothesis import strategies as st

    from aws_seismic_data_pipeline_spark.catalog import compact_parquet_dir
    from aws_seismic_data_pipeline_spark.sources.footers import (
        rangekey_write,
    )
    from aws_seismic_data_pipeline_spark.sources.table.manifest import (
        manifest_pruned_scan,
        write_stats_manifest,
    )

    from .conftest import SF_DIR

    import glob

    path = str(tmp_path / "rangekey_prop")
    rangekey_write(spark, SF_DIR, path)
    files = sorted(glob.glob(path + "/*.parquet"))
    mpath = str(tmp_path / "manifest_prop")
    write_stats_manifest(spark, files, mpath)
    full = spark.read.parquet(path)

    @settings(
        max_examples=8,
        deadline=None,
        suppress_health_check=[HealthCheck.function_scoped_fixture],
    )
    @given(st.integers(-100, 2000), st.integers(0, 2200))
    def check(lo, span):
        hi = lo + span
        got = sorted(
            r.o_orderkey
            for r in manifest_pruned_scan(
                spark, mpath, "o_orderkey", lo, hi
            ).collect()
        )
        want = sorted(
            r.o_orderkey
            for r in full.filter(F.col("o_orderkey").between(lo, hi)).collect()
        )
        assert got == want, (lo, hi)

    check()

    # compact the manifest itself; pruning answers must be unchanged
    before = sorted(
        r.o_orderkey
        for r in manifest_pruned_scan(spark, mpath, "o_orderkey", 200, 700).collect()
    )
    compact_parquet_dir(spark, mpath)
    after = sorted(
        r.o_orderkey
        for r in manifest_pruned_scan(spark, mpath, "o_orderkey", 200, 700).collect()
    )
    assert before == after and before
    import os as _os

    n_files = sum(
        1 for f in _os.listdir(mpath) if f.endswith(".parquet")
    )
    assert n_files == 1


def test_compaction_commit_time_travel_and_vacuum(spark, tmp_path):
    """The three commit-protocol guarantees the registered query's
    aggregate can't isolate: (a) an as-of read pinned BELOW the commit
    still sees the original fragments (history never rewritten), (b)
    the current read sees exactly the compacted world (same rows, new
    file), (c) vacuum reports the tombstoned fragments as reclaimable
    while the compacted file stays tracked."""
    import glob

    from aws_seismic_data_pipeline_spark.catalog import load_table
    from aws_seismic_data_pipeline_spark.sources.table.maintenance import (
        commit_data_compaction,
        vacuum_orphans_report,
    )
    from aws_seismic_data_pipeline_spark.sources.table.manifest import (
        manifest_pruned_scan,
        write_stats_manifest,
    )

    from .conftest import SF_DIR

    data_dir = str(tmp_path / "docs")
    load_table(spark, SF_DIR, "documents").repartition(4).write.partitionBy(
        "lang"
    ).parquet(data_dir)
    files = sorted(glob.glob(data_dir + "/lang=*/*.parquet"))
    mpath = str(tmp_path / "manifest")
    write_stats_manifest(spark, files, mpath, ("doc_id",))
    en_files = [p for p in files if "/lang=en/" in p]
    assert len(en_files) > 1

    def doc_ids(as_of=None):
        return sorted(
            r.doc_id
            for r in manifest_pruned_scan(
                spark, mpath, "doc_id", 0, 2**62, as_of=as_of
            ).collect()
        )

    before = doc_ids()
    new_path, snap = commit_data_compaction(spark, mpath, en_files, ("doc_id",))
    assert snap >= 1

    # (a) pinned below the commit: the pre-compaction world, fragments
    # and all — identical rows
    assert doc_ids(as_of=snap - 1) == before
    # (b) current: same logical rows through the compacted file
    assert doc_ids() == before
    # and the fragments are truly invisible now (no double count)
    assert len(doc_ids()) == len(set(doc_ids()))

    # (c) vacuum: exactly the tombstoned fragments are reclaimable
    orphans = vacuum_orphans_report(spark, data_dir, mpath).withColumn(
        "_f", F.input_file_name()
    )
    orphan_files = {
        r._f.replace("file://", "").replace("file:", "")
        for r in orphans.select("_f").distinct().collect()
    }
    assert orphan_files == set(en_files), (orphan_files, en_files)
    assert new_path not in orphan_files


def test_manifest_scan_pushes_residual_predicate(spark, tmp_path):
    """The manifest prunes FILES; Spark's reader must still get the
    residual range as PushedFilters so row groups inside matching files
    are skipped from the same footer stats — a refactor that wraps the
    predicate in a non-pushable expression would silently read whole
    files."""
    import glob
    import io
    from contextlib import redirect_stdout

    from aws_seismic_data_pipeline_spark.sources.footers import (
        rangekey_write,
    )
    from aws_seismic_data_pipeline_spark.sources.table.manifest import (
        manifest_pruned_scan,
        write_stats_manifest,
    )

    from .conftest import SF_DIR

    path = str(tmp_path / "rk")
    rangekey_write(spark, SF_DIR, path)
    mpath = str(tmp_path / "mf")
    write_stats_manifest(spark, sorted(glob.glob(path + "/*.parquet")), mpath)
    df = manifest_pruned_scan(spark, mpath, "o_orderkey", 200, 700)
    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain("formatted")
    plan = buf.getvalue()
    pushed = [
        line.split("PushedFilters:", 1)[1]
        for line in plan.splitlines()
        if "PushedFilters:" in line
    ]
    assert any("o_orderkey" in p and "GreaterThanOrEqual" in p for p in pushed), plan


def test_bloom_manifest_prunes_and_loses_no_rows(spark, tmp_path):
    """The bloom-manifest point-lookup path must (a) return exactly the
    rows a full-table IN filter returns, (b) open only candidate files —
    far fewer than the table holds, bounded by |keys| plus the ~1%
    false-positive allowance — and (c) an appended bloom manifest must
    equal a from-scratch rebuild row-for-row. The layout is HASH
    clustering, where min/max stats cannot skip anything — the case the
    bloom manifest exists for."""
    import glob

    from aws_seismic_data_pipeline_spark.catalog import load_table
    from aws_seismic_data_pipeline_spark.sources.table.sketches import (
        append_bloom_manifest,
        bloom_pruned_scan,
        build_bloom_manifest,
    )

    from .conftest import SF_DIR

    path = str(tmp_path / "hashlayout")
    load_table(spark, SF_DIR, "orders").repartition(
        16, "o_custkey"
    ).write.mode("overwrite").parquet(path)
    files = sorted(glob.glob(path + "/*.parquet"))
    assert len(files) > 4

    # (c) append == rebuild (bloom words are deterministic functions of
    # each file's key set, so generation must not matter)
    b_app = str(tmp_path / "bloom_app")
    build_bloom_manifest(spark, files[:12], b_app, "o_orderkey")
    append_bloom_manifest(spark, files[12:], b_app, "o_orderkey")
    b_full = str(tmp_path / "bloom_full")
    build_bloom_manifest(spark, files, b_full, "o_orderkey")
    key = ["path", "column_name"]
    got = (
        spark.read.parquet(b_app)
        .drop("snapshot_id")
        .orderBy(*key)
        .collect()
    )
    want = (
        spark.read.parquet(b_full)
        .drop("snapshot_id")
        .orderBy(*key)
        .collect()
    )
    assert [tuple(r) for r in got] == [tuple(r) for r in want]

    # (a) equality to the unpruned IN filter, (b) candidate-file bound
    keys = [3, 777, 1202]
    pruned = bloom_pruned_scan(spark, b_app, "o_orderkey", keys)
    got_rows = sorted(
        (r.o_orderkey, r.o_custkey) for r in pruned.collect()
    )
    want_rows = sorted(
        (r.o_orderkey, r.o_custkey)
        for r in spark.read.parquet(path)
        .filter(F.col("o_orderkey").isin(keys))
        .collect()
    )
    assert got_rows == want_rows and len(got_rows) == 3
    num_files = _executed_num_files(pruned)
    # 3 keys live in <= 3 files; false positives may add a couple more,
    # but a bloom that opens half the table is broken
    assert num_files is not None and 0 < num_files <= 6 < len(files)

    # a key absent from the table: either no candidate files at all or
    # only false-positive files whose residual drops every row
    miss = bloom_pruned_scan(spark, b_app, "o_orderkey", [10**12 + 7])
    assert miss.count() == 0
    assert "o_orderkey" in miss.columns


def test_bloom_manifest_string_keys_and_tombstones(spark, tmp_path):
    """String keys hash through the same CAST-to-STRING normalization,
    and a file tombstoned out of the bloom manifest must be invisible
    to probes even though its filter would match."""
    from aws_seismic_data_pipeline_spark.sources.table.manifest import (
        remove_from_manifest,
    )
    from aws_seismic_data_pipeline_spark.sources.table.sketches import (
        bloom_pruned_scan,
        build_bloom_manifest,
    )

    import glob

    pdf_path = str(tmp_path / "strkeys")
    spark.range(0, 4000).select(
        F.concat(F.lit("user-"), F.col("id").cast("string")).alias("uid"),
        (F.col("id") * 7).alias("score"),
    ).repartition(8, "uid").write.mode("overwrite").parquet(pdf_path)
    files = sorted(glob.glob(pdf_path + "/*.parquet"))
    bdir = str(tmp_path / "bloom_str")
    build_bloom_manifest(spark, files, bdir, "uid")

    hit = bloom_pruned_scan(spark, bdir, "uid", ["user-1234", "user-9"])
    got = sorted((r.uid, r.score) for r in hit.collect())
    assert got == [("user-1234", 1234 * 7), ("user-9", 63)]
    assert _executed_num_files(hit) <= 4

    # tombstone the file holding user-9: the probe must now miss it
    # (metadata-only delete semantics shared with the stats manifest)
    victim = (
        spark.read.parquet(pdf_path)
        .filter(F.col("uid") == "user-9")
        .select(
            F.regexp_replace(
                F.input_file_name(), "^file:/+", "/"
            ).alias("p")
        )
        .collect()[0]
        .p
    )
    # the tombstone leaves m_bits/bloom NULL although Spark's build
    # declared m_bits non-nullable: it still lands as ONE driver-written
    # file that Spark and pyarrow both read back
    import pyarrow.dataset as pads

    def manifest_files():
        return glob.glob(os.path.join(_mdd(bdir), "*.parquet"))

    n_before = spark.read.parquet(bdir).count()
    files_before = len(manifest_files())
    remove_from_manifest(spark, bdir, [victim])
    assert len(manifest_files()) == files_before + 1
    # the tombstone plus its commit_ts marker
    assert spark.read.parquet(bdir).count() == n_before + 2
    tomb = pads.dataset(_mdd(bdir), format="parquet").to_table(
        filter=pads.field("op") == "remove"
    )
    assert tomb.column("path").to_pylist() == [victim]
    assert tomb.column("m_bits").to_pylist() == [None]
    after = bloom_pruned_scan(spark, bdir, "uid", ["user-1234", "user-9"])
    vals = sorted(r.uid for r in after.collect())
    assert "user-9" not in vals


def test_ewma_matches_pandas_ewm(spark):
    """ts_ewma must agree with pandas ``ewm(alpha, adjust=True).mean()``
    — an independent reference implementation. Exact (1e-9) wherever
    the 64-row frame covers the full history (the first 64 rows per
    channel); within the truncated tail's weight bound (~2e-4 of the
    value scale) everywhere else."""
    import numpy as np
    import pandas as pd

    from aws_seismic_data_pipeline_spark.registry import load_all

    from .conftest import SF_DIR

    q = load_all()["ts_ewma"].builder
    got = (
        q(spark, SF_DIR)
        .select("event_type", "event_id", "ts", "value", "ewma")
        .toPandas()
        .sort_values(["event_type", "ts", "event_id"])
        .reset_index(drop=True)
    )
    ref = got[["event_type", "ts", "event_id", "value"]].copy()
    ref["ewma_pd"] = (
        ref.groupby("event_type", sort=False)["value"]
        .transform(lambda s: s.ewm(alpha=0.125, adjust=True).mean())
    )
    merged = got.merge(ref, on=["event_type", "ts", "event_id", "value"])
    assert len(merged) == len(got)
    rank = merged.groupby("event_type").cumcount()
    head = merged[rank < 64]
    assert np.allclose(head["ewma"], head["ewma_pd"], atol=1e-9)
    # truncation bound: |x| <= ~500 in the fixture, tail weight ~2e-4
    assert np.allclose(merged["ewma"], merged["ewma_pd"], atol=0.2)


def test_equality_delete_visibility_directions(spark, tmp_path):
    """Row-level equality deletes must (a) subtract exactly the deleted
    keys from the current view, (b) leave as-of reads below the delete
    snapshot intact (history never rewritten), and (c) never perturb
    stats-based pruning (delete records are not 'add' rows)."""
    import glob

    from aws_seismic_data_pipeline_spark.catalog import load_table
    from aws_seismic_data_pipeline_spark.sources.table.deletes import (
        equality_delete,
        read_with_deletes,
    )
    from aws_seismic_data_pipeline_spark.sources.table.manifest import (
        manifest_pruned_scan,
        write_stats_manifest,
    )

    from .conftest import SF_DIR

    docs = load_table(spark, SF_DIR, "documents")
    data_dir = str(tmp_path / "docs")
    docs.repartition(8, "doc_id").write.mode("overwrite").parquet(data_dir)
    files = sorted(glob.glob(data_dir + "/*.parquet"))
    mpath = str(tmp_path / "manifest")
    write_stats_manifest(spark, files, mpath, ("doc_id",))

    ids = [7, 42, 303]
    snap = equality_delete(spark, mpath, "doc_id", ids)
    assert snap >= 1

    all_ids = {r.doc_id for r in docs.select("doc_id").collect()}
    cur = {
        r.doc_id
        for r in read_with_deletes(spark, mpath, "doc_id")
        .select("doc_id")
        .collect()
    }
    assert cur == all_ids - set(ids)

    # (b) pin below the delete: the rows resurrect
    before = {
        r.doc_id
        for r in read_with_deletes(spark, mpath, "doc_id", as_of=snap - 1)
        .select("doc_id")
        .collect()
    }
    assert before == all_ids

    # (c) stats pruning unaffected: a range scan ignores delete records
    pruned = {
        r.doc_id
        for r in manifest_pruned_scan(spark, mpath, "doc_id", 0, 50)
        .select("doc_id")
        .collect()
    }
    assert pruned == {i for i in all_ids if 0 <= i <= 50}


def test_shuffle_hash_hint_selects_operator(spark):
    """The SHUFFLE_HASH hint must actually flip the physical strategy:
    hinted plan uses ShuffledHashJoin, the same join unhinted (with
    broadcast disabled so neither side auto-broadcasts at fixture
    scale) falls back to SortMergeJoin — and both return identical
    rows."""
    from aws_seismic_data_pipeline_spark.catalog import load_table

    from .conftest import SF_DIR

    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        customer = load_table(spark, SF_DIR, "customer")
        orders = load_table(spark, SF_DIR, "orders")
        cond = orders.o_custkey == customer.c_custkey

        hinted = orders.join(customer.hint("shuffle_hash"), cond)
        plain = orders.join(customer, cond)
        hinted_plan = hinted._jdf.queryExecution().executedPlan().toString()
        plain_plan = plain._jdf.queryExecution().executedPlan().toString()
        assert "ShuffledHashJoin" in hinted_plan
        assert "SortMergeJoin" in plain_plan
        assert "ShuffledHashJoin" not in plain_plan

        a = sorted(
            (r.o_orderkey, r.c_custkey)
            for r in hinted.select("o_orderkey", "c_custkey").collect()
        )
        b = sorted(
            (r.o_orderkey, r.c_custkey)
            for r in plain.select("o_orderkey", "c_custkey").collect()
        )
        assert a == b and a
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)


def test_bloom_property_no_false_negatives(spark, tmp_path):
    """THE bloom invariant, property-tested: for ANY mix of present and
    absent keys, every present key's rows appear in the pruned result —
    a bloom may open extra files (false positives), it may NEVER drop a
    match. Hypothesis drives key sets over one shared build."""
    from hypothesis import HealthCheck, given, settings
    from hypothesis import strategies as st

    from aws_seismic_data_pipeline_spark.catalog import load_table
    from aws_seismic_data_pipeline_spark.sources.table.sketches import (
        bloom_pruned_scan,
        build_bloom_manifest,
    )

    from .conftest import SF_DIR

    import glob

    path = str(tmp_path / "hashlayout_prop")
    orders = load_table(spark, SF_DIR, "orders")
    orders.repartition(16, "o_custkey").write.mode("overwrite").parquet(path)
    files = sorted(glob.glob(path + "/*.parquet"))
    bdir = str(tmp_path / "bloom_prop")
    build_bloom_manifest(spark, files, bdir, "o_orderkey")
    max_key = orders.agg(F.max("o_orderkey")).collect()[0][0]

    @settings(
        max_examples=10,
        deadline=None,
        suppress_health_check=[HealthCheck.function_scoped_fixture],
    )
    @given(
        st.sets(st.integers(0, int(max_key)), min_size=1, max_size=8),
        st.sets(st.integers(10**9, 10**9 + 10**6), max_size=4),
    )
    def check(present, absent):
        keys = sorted(present | absent)
        got = sorted(
            r.o_orderkey
            for r in bloom_pruned_scan(
                spark, bdir, "o_orderkey", keys
            ).collect()
        )
        assert got == sorted(present), (present, absent)

    check()


def test_bloom_scan_pushes_residual_in_filter(spark, tmp_path):
    """The bloom-pruned scan's residual IN-predicate must reach the
    parquet reader (PushedFilters) — row groups within candidate files
    then skip on their own dictionaries/stats, the second pruning level
    below file skipping."""
    import glob
    import re

    from aws_seismic_data_pipeline_spark.catalog import load_table
    from aws_seismic_data_pipeline_spark.sources.table.sketches import (
        bloom_pruned_scan,
        build_bloom_manifest,
    )

    from .conftest import SF_DIR

    path = str(tmp_path / "data")
    load_table(spark, SF_DIR, "orders").repartition(
        8, "o_custkey"
    ).write.parquet(path)
    files = sorted(glob.glob(path + "/*.parquet"))
    bdir = str(tmp_path / "bloom")
    build_bloom_manifest(spark, files, bdir, "o_orderkey")
    df = bloom_pruned_scan(spark, bdir, "o_orderkey", [101, 733])
    plan = df._jdf.queryExecution().executedPlan().toString()
    pushed = re.findall(r"PushedFilters: \[[^\]]*", plan)
    assert any("In(o_orderkey" in p for p in pushed), pushed


def test_keyword_probe_pushes_token_filter(spark, tmp_path):
    """The keyword probe's token IN-predicate must reach the posting
    scan (PushedFilters) on top of the bucket partition pruning the
    numFiles test already pins — dictionary-encoded token columns then
    skip row groups for free."""
    import re

    from aws_seismic_data_pipeline_spark.catalog import load_table
    from aws_seismic_data_pipeline_spark.llm.search import (
        build_inverted_index,
        keyword_search,
    )

    from .conftest import SF_DIR

    docs = load_table(spark, SF_DIR, "documents")
    idx = str(tmp_path / "idx")
    build_inverted_index(spark, docs, idx)
    df = keyword_search(spark, idx, ["vector", "dup"], mode="any")
    plan = df._jdf.queryExecution().executedPlan().toString()
    pushed = re.findall(r"PushedFilters: \[[^\]]*", plan)
    assert any("In(token" in p for p in pushed), pushed


def test_hilbert_layout_prunes_and_beats_morton_runs(spark, tmp_path):
    """The Hilbert layout's three contracts: (a) the pruned rectangle
    scan returns exactly what a full-table filter returns, (b) it
    lists only the intersecting tiles' partitions, and (c) the curve's
    reason to exist — across every 4x4-tile square, the intersecting
    tiles form FEWER contiguous curve runs than under Morton order
    (628 vs 1000, deterministic), i.e. fewer discrete byte ranges per
    query at scale. Bijectivity of the tile lookup is asserted too."""
    from aws_seismic_data_pipeline_spark.operators.window_ops import (
        _HILBERT_LUT,
        _hilbert_xy2d_py,
        _morton_interleave_py,
        hilbert_pruned_scan,
        hilbert_write,
    )

    from .conftest import SF_DIR

    assert sorted(_HILBERT_LUT) == list(range(256))  # bijective

    path = str(tmp_path / "hilbert")
    hilbert_write(spark, SF_DIR, path)

    user_range, hour_range = (0, 63), (96, 159)
    pruned = hilbert_pruned_scan(spark, path, user_range, hour_range)
    got = sorted(
        (r.user_bucket, r.hour_bucket, r.value) for r in pruned.collect()
    )
    want = sorted(
        (r.user_bucket, r.hour_bucket, r.value)
        for r in spark.read.parquet(path)
        .filter(
            F.col("user_bucket").between(*user_range)
            & F.col("hour_bucket").between(*hour_range)
        )
        .collect()
    )
    assert got == want and got

    # (b) partition pruning: 16 of 256 tiles listed
    files = pruned.inputFiles()
    tiles_read = {f.split("hfile=")[1].split("/")[0] for f in files}
    assert len(tiles_read) <= 16

    # (c) the run-locality advantage, exhaustively over 4x4 squares
    def runs(idxs):
        s = sorted(idxs)
        return 1 + sum(1 for a, b in zip(s, s[1:]) if b != a + 1)

    th = tm = 0
    for x0 in range(13):
        for y0 in range(13):
            tiles = [
                (x, y)
                for x in range(x0, x0 + 4)
                for y in range(y0, y0 + 4)
            ]
            th += runs([_hilbert_xy2d_py(4, x, y) for x, y in tiles])
            tm += runs([_morton_interleave_py(x, y) for x, y in tiles])
    assert th == 628 and tm == 1000


def test_shallow_clone_isolates_both_directions(spark, tmp_path):
    """Two catalogs, one set of bytes: after cloning and deleting a
    partition in the CLONE, the source manifest still sees everything;
    after a delete in the SOURCE, the clone is unaffected; and no data
    file was copied (the clone is purely the metadata table)."""
    import glob
    import os

    from aws_seismic_data_pipeline_spark.catalog import load_table
    from aws_seismic_data_pipeline_spark.sources.table.maintenance import (
        clone_manifest,
    )
    from aws_seismic_data_pipeline_spark.sources.table.manifest import (
        manifest_pruned_scan,
        remove_from_manifest,
        write_stats_manifest,
    )

    from .conftest import SF_DIR

    data_dir = str(tmp_path / "docs")
    load_table(spark, SF_DIR, "documents").repartition(
        "lang"
    ).write.partitionBy("lang").mode("overwrite").parquet(data_dir)
    files = sorted(glob.glob(data_dir + "/lang=*/*.parquet"))
    src_m, dst_m = str(tmp_path / "src_m"), str(tmp_path / "dst_m")
    write_stats_manifest(spark, files, src_m, ("doc_id",))
    n_data_files_before = len(files)
    clone_manifest(spark, src_m, dst_m)
    assert len(glob.glob(data_dir + "/lang=*/*.parquet")) == n_data_files_before

    def visible_docs(manifest):
        return {
            r.doc_id
            for r in manifest_pruned_scan(spark, manifest, "doc_id", 0, 2**62)
            .select("doc_id")
            .collect()
        }

    all_ids = visible_docs(src_m)
    assert visible_docs(dst_m) == all_ids  # clone sees shared data

    zh = [p for p in files if "/lang=zh/" in p]
    remove_from_manifest(spark, dst_m, zh)
    dst_after_zh = visible_docs(dst_m)
    assert dst_after_zh < all_ids  # clone's delete took
    assert visible_docs(src_m) == all_ids  # source untouched

    en = [p for p in files if "/lang=en/" in p]
    remove_from_manifest(spark, src_m, en)
    src_after = visible_docs(src_m)
    assert src_after < all_ids and src_after != dst_after_zh
    # the source's en delete is invisible to the clone: its view is
    # exactly what it was after its own zh delete
    assert visible_docs(dst_m) == dst_after_zh


def test_multipass_fuzzy_recovers_what_single_pass_misses(spark):
    """The measured motivation for multi-pass blocking: mid-string
    typos shift lexicographic position so the forward pass alone finds
    almost none of the originals, while forward+reversed finds every
    one. Counts are deterministic on the fixture."""
    from aws_seismic_data_pipeline_spark.registry import load_all

    from .conftest import SF_DIR

    multi = load_all()["join_fuzzy_multipass"].builder(spark, SF_DIR)
    matched_dirty = {
        r.dirty_name for r in multi.select("dirty_name").distinct().collect()
    }
    # every mid-typo'd name must find at least one dist<=1 original
    from aws_seismic_data_pipeline_spark.catalog import load_table

    expected_dirty = {
        r.n
        for r in load_table(spark, SF_DIR, "supplier")
        .filter(F.col("s_suppkey") % 7 == 3)
        .select(
            F.expr(
                "concat(substring(s_name, 1, 11), substring(s_name, 13))"
            ).alias("n")
        )
        .distinct()
        .collect()
    }
    assert matched_dirty == expected_dirty and matched_dirty


def test_cusum_closed_form_equals_recurrence(spark):
    """The two-window closed form S = P - min(0, runmin(P)) must equal
    Page's sequential recurrence S_i = max(0, S_{i-1} + d_i) exactly,
    including reset-to-zero stretches and the alarm threshold."""
    import aws_seismic_data_pipeline_spark.operators.window_ops as WO
    from aws_seismic_data_pipeline_spark.registry import REGISTRY

    import datetime

    vals = [52.0, 80.0, 90.0, 40.0, 30.0, 61.0, 95.0, 95.0, 10.0]
    rows = [
        (i, datetime.datetime(2024, 1, 1, 0, i), 1, "a", v, "{}")
        for i, v in enumerate(vals)
    ]
    ev = spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string,"
        " value double, props string",
    )
    orig = WO.load_table
    try:
        WO.load_table = lambda s, d, t: ev
        out = sorted(
            REGISTRY["ts_cusum_alarm"].builder(spark, "x").collect(),
            key=lambda r: r.event_id,
        )
    finally:
        WO.load_table = orig

    s, expect = 0.0, []
    for v in vals:
        s = max(0.0, s + (v - (WO.CUSUM_TARGET + WO.CUSUM_SLACK)))
        expect.append(s)
    for r, e in zip(out, expect):
        assert abs(r.cusum - round(e, 6)) < 1e-9, (r.event_id, r.cusum, e)
        assert r.alarm == (round(e, 6) > WO.CUSUM_H), r
    # the crafted series both alarms and resets
    assert any(r.alarm for r in out) and any(r.cusum == 0.0 for r in out)


def test_seasonal_adjust_zeroes_pure_seasonality(spark):
    """A series that is EXACTLY a diurnal pattern must deseasonalize to
    all-zero residuals, and each hour's baseline must equal its pattern
    value; a constant offset injected at one hour shifts only that
    hour's baseline."""
    import datetime

    import aws_seismic_data_pipeline_spark.operators.window_ops as WO
    from aws_seismic_data_pipeline_spark.registry import REGISTRY

    pattern = {h: 10.0 + 5.0 * (h % 4) for h in range(24)}
    rows = []
    eid = 0
    for day in range(1, 4):
        for h in range(24):
            rows.append(
                (eid, datetime.datetime(2024, 1, day, h, 0), 1, "a",
                 pattern[h], "{}")
            )
            eid += 1
    ev = spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string,"
        " value double, props string",
    )
    orig = WO.load_table
    try:
        WO.load_table = lambda s, d, t: ev
        out = REGISTRY["ts_seasonal_adjust"].builder(spark, "x").collect()
    finally:
        WO.load_table = orig
    assert len(out) == 72
    for r in out:
        assert r.baseline == pattern[r.hod], r
        assert r.residual == 0.0, r


def test_incremental_scan_skips_compaction_snapshots(spark, tmp_path):
    """The CDC contract under maintenance: base lands at snapshot 0, a
    batch at 1, then a compaction rewrites base+batch at 2. An
    incremental read of (0, 2] must deliver EXACTLY the batch rows —
    not the compacted file (which would replay the base), not nothing.
    And an as-of read at 2 must still see every row exactly once."""
    import glob
    import os

    from pyspark.sql import functions as F

    from aws_seismic_data_pipeline_spark.sources.table.maintenance import (
        commit_data_compaction,
    )
    from aws_seismic_data_pipeline_spark.sources.table.manifest import (
        append_stats_manifest,
        manifest_incremental_scan,
        manifest_pruned_scan,
        write_stats_manifest,
    )

    data = str(tmp_path / "data")
    m = str(tmp_path / "manifest")
    base = spark.range(0, 100).select(F.col("id").alias("doc_id"))
    batch = spark.range(100, 130).select(F.col("id").alias("doc_id"))
    base.coalesce(1).write.parquet(data)
    batch.coalesce(1).write.mode("append").parquet(data)
    files = sorted(glob.glob(os.path.join(data, "part-*.parquet")))
    import pyarrow.parquet as pq

    base_f = [f for f in files
              if pq.ParquetFile(f).metadata.num_rows == 100]
    batch_f = [f for f in files if f not in base_f]
    write_stats_manifest(spark, base_f, m, ("doc_id",))
    append_stats_manifest(spark, batch_f, m, ("doc_id",))
    commit_data_compaction(spark, m, base_f + batch_f, ("doc_id",))

    delta = manifest_incremental_scan(spark, m, 0, 2)
    got = sorted(r.doc_id for r in delta.collect())
    assert got == list(range(100, 130)), (len(got), got[:5])

    world = manifest_pruned_scan(spark, m, "doc_id", 0, 2**62, as_of=2)
    assert sorted(r.doc_id for r in world.collect()) == list(range(130))


def test_rollback_preserves_history_and_guards_resurrection(spark, tmp_path):
    """Rollback contract: after rolling current back to snapshot 0, an
    as-of-1 read still sees the rolled-back batch (history preserved),
    the current read equals the snapshot-0 world, and a rollback that
    would need to resurrect compaction-removed files raises."""
    import glob
    import os

    import pytest as _pytest
    from pyspark.sql import functions as F

    from aws_seismic_data_pipeline_spark.sources.table.maintenance import (
        commit_data_compaction,
        rollback_manifest,
    )
    from aws_seismic_data_pipeline_spark.sources.table.manifest import (
        append_stats_manifest,
        manifest_pruned_scan,
        write_stats_manifest,
    )

    data = str(tmp_path / "data")
    m = str(tmp_path / "manifest")
    spark.range(0, 50).select(F.col("id").alias("doc_id")).coalesce(1).write.parquet(data)
    spark.range(50, 80).select(F.col("id").alias("doc_id")).coalesce(1).write.mode("append").parquet(data)
    files = sorted(glob.glob(os.path.join(data, "part-*.parquet")))
    import pyarrow.parquet as pq

    base_f = [f for f in files if pq.ParquetFile(f).metadata.num_rows == 50]
    batch_f = [f for f in files if f not in base_f]
    write_stats_manifest(spark, base_f, m, ("doc_id",))
    append_stats_manifest(spark, batch_f, m, ("doc_id",))

    rollback_manifest(spark, m, 0)
    cur = sorted(r.doc_id for r in
                 manifest_pruned_scan(spark, m, "doc_id", 0, 2**62).collect())
    assert cur == list(range(50))
    pinned = sorted(r.doc_id for r in
                    manifest_pruned_scan(spark, m, "doc_id", 0, 2**62, as_of=1).collect())
    assert pinned == list(range(80))  # pre-rollback pin reproduces

    # resurrection guard: compact what's visible, then try to roll back
    # BELOW the compaction -> the inputs are tombstoned, must raise
    commit_data_compaction(spark, m, base_f, ("doc_id",))
    with _pytest.raises(ValueError, match="resurrect"):
        rollback_manifest(spark, m, 0)


def test_gzip_text_is_file_granular_and_compressed(spark, tmp_path):
    """The unsplittable-codec contract: reading N .gz archives yields
    exactly N input partitions regardless of maxPartitionBytes (each
    archive is one task), the files really are gzip (magic bytes,
    smaller than the raw text), and the content round-trips."""
    import glob
    import gzip
    import os

    from pyspark.sql import functions as F

    sink = str(tmp_path / "gz")
    docs = spark.range(0, 2000).select(
        F.concat_ws("\t", F.col("id").cast("string"),
                    F.lit("en"), F.repeat(F.lit("token "), 50)).alias("value")
    )
    docs.repartition(4).write.option("compression", "gzip").text(sink)
    files = sorted(glob.glob(os.path.join(sink, "part-*.gz")))
    assert len(files) == 4
    raw_len = 0
    for f in files:
        with open(f, "rb") as fh:
            assert fh.read(2) == b"\x1f\x8b"  # gzip magic
        with gzip.open(f, "rt") as fh:
            raw_len += len(fh.read())
    assert sum(os.path.getsize(f) for f in files) < raw_len / 5
    back = spark.read.text(sink)
    assert back.rdd.getNumPartitions() == len(files)
    assert back.count() == 2000


def test_manifest_merge_cow_rewrites_only_intersecting_and_time_travels(
    spark, tmp_path
):
    """The copy-on-write MERGE contract: (a) only files whose stats
    range intersects the delta keys are rewritten (rewritten ≤
    intersecting < total), (b) the current read equals a relational
    MERGE of the same delta, (c) an as-of read below the merge snapshot
    returns the pre-merge table byte-for-byte, (d) an insert-only delta
    (keys beyond every file's range) rewrites NOTHING and lands one
    insert file, and (e) an as-of pinned between the two merges sees
    the first but not the second."""
    import glob

    from aws_seismic_data_pipeline_spark.sources.table.maintenance import (
        merge_through_manifest,
    )
    from aws_seismic_data_pipeline_spark.sources.table.manifest import (
        manifest_pruned_scan,
        write_stats_manifest,
    )

    from .conftest import SF_DIR

    orders = spark.read.parquet(f"{SF_DIR}/orders.parquet").select(
        "o_orderkey", "o_orderstatus", "o_totalprice"
    )
    data_dir = str(tmp_path / "cow_orders")
    orders.repartitionByRange(16, "o_orderkey").write.parquet(data_dir)
    files = sorted(glob.glob(data_dir + "/*.parquet"))
    mpath = str(tmp_path / "cow_manifest")
    write_stats_manifest(spark, files, mpath, ("o_orderkey",))

    lo, hi = 200, 700
    upd = orders.filter(F.col("o_orderkey").between(lo, hi)).select(
        "o_orderkey",
        F.lit("X").alias("o_orderstatus"),
        (F.col("o_totalprice") + F.lit(500.0)).alias("o_totalprice"),
    )
    ins = orders.filter(F.col("o_orderkey") % 503 == 1).select(
        (F.col("o_orderkey") + F.lit(10_000_000)).alias("o_orderkey"),
        F.lit("N").alias("o_orderstatus"),
        "o_totalprice",
    )
    assert upd.count() > 0 and ins.count() > 0
    snap, n_int, n_rw = merge_through_manifest(
        spark, mpath, upd.unionByName(ins), "o_orderkey",
        ["o_orderstatus", "o_totalprice"],
    )
    # (a) partial rewrite: the band covers some but not all files
    assert 0 < n_int < len(files), (n_int, len(files))
    assert n_rw <= n_int

    def _rows(df):
        return sorted(map(tuple, df.collect()))

    full = lambda as_of=None: manifest_pruned_scan(
        spark, mpath, "o_orderkey", -1, 2**62, as_of=as_of
    )
    # (b) current == relational MERGE (update applied, inserts appended)
    expected = _rows(
        orders.withColumn(
            "o_orderstatus",
            F.when(F.col("o_orderkey").between(lo, hi), "X").otherwise(
                F.col("o_orderstatus")
            ),
        )
        .withColumn(
            "o_totalprice",
            F.when(
                F.col("o_orderkey").between(lo, hi),
                F.col("o_totalprice") + F.lit(500.0),
            ).otherwise(F.col("o_totalprice")),
        )
        .unionByName(ins)
    )
    assert _rows(full()) == expected
    # (c) time travel below the merge: pre-merge table, unperturbed
    assert _rows(full(as_of=snap - 1)) == _rows(orders)

    # (d) insert-only second merge: nothing intersects, nothing rewritten
    ins2 = orders.filter(F.col("o_orderkey") % 503 == 2).select(
        (F.col("o_orderkey") + F.lit(20_000_000)).alias("o_orderkey"),
        F.lit("Z").alias("o_orderstatus"),
        "o_totalprice",
    )
    assert ins2.count() > 0
    snap2, n_int2, n_rw2 = merge_through_manifest(
        spark, mpath, ins2, "o_orderkey", ["o_orderstatus", "o_totalprice"]
    )
    assert snap2 > snap and n_int2 == 0 and n_rw2 == 0
    # (e) pinned between the merges: first delta visible, second not
    assert _rows(full(as_of=snap)) == expected
    assert _rows(full()) == sorted(expected + _rows(ins2))


def test_bloom_fp_rate_matches_sizing_math_at_sf01(spark, tmp_path):
    """The 100 TB sizing argument, MEASURED instead of asserted: build
    the per-file bloom manifest at sf0.1 (the bench fixture — ~9.4k
    rows/file under the k=5, bits_per_key=10, pow2-rounded sizing),
    probe thousands of keys PROVABLY ABSENT from the table, and compare
    the observed per-(file, probe) false-positive rate against the
    analytic rate p = (1 - e^{-k*n/m})^k computed from each file's own
    footer row count and persisted m_bits. Pinned two-sided: measured
    within [0.25x, 2x] of analytic — the upper bound catches a hash
    family gone clumpy (FP economics break and scans stop pruning),
    the lower bound catches a filter that silently stopped setting bits
    (which would also show as false negatives, pinned to ZERO below on
    sampled present keys: absent bits can only prune, never lose
    rows)."""
    import glob
    import math
    from functools import reduce
    from operator import and_ as AND

    from aws_seismic_data_pipeline_spark.sources.footers import (
        read_footer_stats_multi,
    )
    from aws_seismic_data_pipeline_spark.sources.table.sketches import (
        _BLOOM_A,
        _bloom_pos_sql,
        build_bloom_manifest,
    )

    sf_dir = "/root/testdata/sf0.1"
    data_dir = str(tmp_path / "bloom_fp_orders")
    spark.read.parquet(f"{sf_dir}/orders.parquet").repartition(
        16, "o_custkey"
    ).write.parquet(data_dir)
    files = sorted(glob.glob(data_dir + "/*.parquet"))
    bpath = str(tmp_path / "bloom_fp_manifest")
    build_bloom_manifest(spark, files, bpath, "o_orderkey")
    man = spark.read.parquet(bpath)

    # absent by construction: dense 0-based o_orderkey < n_rows << 10^9
    n_probes = 4000
    probes = spark.range(n_probes).select(
        (F.lit(1_000_000_000) + F.col("id") * 7919).alias("probe_k")
    )
    hit = reduce(
        AND,
        (
            F.expr(
                f"(bloom[CAST({pos} DIV 64 AS INT)]"
                f" & shiftleft(CAST(1 AS BIGINT), CAST({pos} % 64 AS INT)))"
                " <> 0"
            )
            for pos in _bloom_pos_sql("probe_k", "m_bits")
        ),
    )
    measured = man.crossJoin(probes).filter(hit).count()

    k = len(_BLOOM_A)
    per_file = {
        r.path: r.n
        for r in read_footer_stats_multi(spark, files, ("o_orderkey",))
        .groupBy("path")
        .agg(F.sum("n_rows").alias("n"))
        .collect()
    }
    m_by_path = {r.path: r.m_bits for r in man.select("path", "m_bits").collect()}
    expected = n_probes * sum(
        (1.0 - math.exp(-k * n / m_by_path[p])) ** k
        for p, n in per_file.items()
    )
    assert expected > 20, f"fixture too small to resolve FP rate: {expected}"
    assert 0.25 * expected <= measured <= 2.0 * expected, (measured, expected)

    # zero false negatives on sampled PRESENT keys: the bloom of the
    # file that physically holds a key must always hit for that key
    truth = (
        spark.read.parquet(*files)
        .select(
            F.regexp_replace(F.input_file_name(), "^file:/+", "/").alias(
                "path"
            ),
            F.col("o_orderkey").alias("probe_k"),
        )
        .filter(F.col("probe_k") % 1009 == 0)  # ~150 scattered keys
    )
    misses = truth.join(man, "path").filter(~hit).count()
    assert misses == 0, f"{misses} false negatives — bloom lost rows"


def test_delete_compaction_retires_records_and_preserves_history(
    spark, tmp_path
):
    """The delete-compaction contract across all four time-travel
    windows: (w0) below the delete snapshot every row is visible; (w1)
    between delete and compaction the records subtract at read time;
    (w2/w3) at and after the compaction the rows are PHYSICALLY gone
    (plain pruned scan agrees, no subtraction), the live-delete set is
    empty (reads stop paying for history), candidates were a strict
    subset of files, and rewriting lost no surviving row."""
    import glob

    from aws_seismic_data_pipeline_spark.sources.table import localman
    from aws_seismic_data_pipeline_spark.sources.table.deletes import (
        compact_equality_deletes,
        equality_delete,
        read_with_deletes,
    )
    from aws_seismic_data_pipeline_spark.sources.table.manifest import (
        manifest_pruned_scan,
        write_stats_manifest,
    )

    from .conftest import SF_DIR

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    data_dir = str(tmp_path / "docs")
    docs.repartition(8, "doc_id").write.parquet(data_dir)
    files = sorted(glob.glob(data_dir + "/*.parquet"))
    mpath = str(tmp_path / "manifest")
    write_stats_manifest(spark, files, mpath, ("doc_id",))

    dead = [3, 100, 203]
    del_snap = equality_delete(spark, mpath, "doc_id", dead)

    def ids(df):
        return sorted(r.doc_id for r in df.select("doc_id").collect())

    all_ids = ids(docs)
    live_ids = sorted(set(all_ids) - set(dead))

    snap, n_cand, n_rw, n_retired = compact_equality_deletes(
        spark, mpath, "doc_id"
    )
    assert n_retired == len(dead)  # one record per erased key
    assert 0 < n_cand <= len(files) and n_rw <= n_cand

    # w0: below the delete — everything visible, no subtraction applies
    assert ids(read_with_deletes(spark, mpath, "doc_id", as_of=del_snap - 1)) == all_ids
    # w1: between delete and compaction — records subtract at read time
    assert ids(read_with_deletes(spark, mpath, "doc_id", as_of=del_snap)) == live_ids
    # w2/w3: at/after compaction — physically gone, plain scan agrees
    assert ids(manifest_pruned_scan(spark, mpath, "doc_id", -1, 2**62)) == live_ids
    assert ids(read_with_deletes(spark, mpath, "doc_id")) == live_ids
    # the live-delete set is EMPTY after retirement, and the records
    # still subtract for a pin between the delete and the compaction
    assert localman.live_delete_keys(mpath, "doc_id", None) == []
    assert localman.live_delete_keys(mpath, "doc_id", del_snap) == [
        3.0,
        100.0,
        203.0,
    ]
    # and the dead keys are absent from the rewritten bytes themselves
    current_files = sorted(
        set(
            r.path
            for r in manifest_pruned_scan(spark, mpath, "doc_id", -1, 2**62)
            .select(
                F.regexp_replace(
                    F.input_file_name(), "^file:/+", "/"
                ).alias("path")
            )
            .distinct()
            .collect()
        )
    )
    raw = spark.read.parquet(*current_files)
    assert raw.filter(F.col("doc_id").isin(dead)).count() == 0


def test_expire_manifest_history_preserves_floor_and_raises_below(
    spark, tmp_path
):
    """Expiry contract: reads at/above the floor are bit-identical to
    pre-expire, the manifest strictly shrinks (the dropped add+remove
    pairs and retired delete records are gone), retired-delete
    interplay holds, as-of below the floor raises, and expiring the
    current state is refused."""
    import glob

    import pytest as _pytest

    from aws_seismic_data_pipeline_spark.sources.table.deletes import (
        compact_equality_deletes,
        equality_delete,
        read_with_deletes,
    )
    from aws_seismic_data_pipeline_spark.sources.table.maintenance import (
        commit_data_compaction,
        expire_manifest_history,
    )
    from aws_seismic_data_pipeline_spark.sources.table.manifest import (
        manifest_pruned_scan,
        write_stats_manifest,
    )

    from .conftest import SF_DIR

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    data_dir = str(tmp_path / "docs")
    docs.repartition(6, "doc_id").write.parquet(data_dir)
    files = sorted(glob.glob(data_dir + "/*.parquet"))
    mpath = str(tmp_path / "manifest")
    write_stats_manifest(spark, files, mpath, ("doc_id",))

    # mutate history: eq-delete (snap 1), materialize it (snap 2),
    # compact two surviving files (snap 3)
    dead = [3, 100]
    equality_delete(spark, mpath, "doc_id", dead)
    snap_dc, _, _, _ = compact_equality_deletes(spark, mpath, "doc_id")
    vis = sorted(
        set(
            r.path
            for r in manifest_pruned_scan(spark, mpath, "doc_id", -1, 2**62)
            .select(
                F.regexp_replace(F.input_file_name(), "^file:/+", "/").alias(
                    "path"
                )
            )
            .distinct()
            .collect()
        )
    )
    _, snap_c = commit_data_compaction(spark, mpath, vis[:2], ("doc_id",))

    def rows(as_of=None):
        return sorted(
            map(
                tuple,
                manifest_pruned_scan(
                    spark, mpath, "doc_id", -1, 2**62, as_of=as_of
                ).collect(),
            )
        )

    pre_current = rows()
    pre_at_floor = rows(as_of=snap_c)
    n_rows_pre = spark.read.parquet(_mdd(mpath)).count()

    with _pytest.raises(ValueError, match="refusing"):
        expire_manifest_history(spark, mpath, snap_c + 1)

    # floor ABOVE the tombstones/retirement: their add+remove pairs and
    # the retired delete records are all droppable
    before, after = expire_manifest_history(spark, mpath, snap_c)
    assert before == n_rows_pre and after < before

    # at the floor (== current here): bit-identical
    assert rows() == pre_current
    assert rows(as_of=snap_c) == pre_at_floor
    # retired delete records below the floor are gone entirely
    man = spark.read.parquet(_mdd(mpath))
    assert man.filter(F.col("op") == "delete_eq").count() == 0
    # post-expire reads still subtract nothing and agree
    assert sorted(
        map(tuple, read_with_deletes(spark, mpath, "doc_id").collect())
    ) == pre_current
    # below the floor: loud failure, never partial history
    with _pytest.raises(ValueError, match="expire floor"):
        rows(as_of=snap_dc)


def test_manifest_count_is_metadata_dominated(spark, tmp_path):
    """The metadata-only count contract: (a) both the unbounded and
    band counts equal the exact twins; (b) the unbounded count touches
    ZERO data files; (c) the band count scans strictly fewer files
    than the table holds and derives >0 rows from metadata alone; (d)
    an empty range scans nothing and returns 0."""
    import glob

    from aws_seismic_data_pipeline_spark.sources.footers import (
        rangekey_write,
    )
    from aws_seismic_data_pipeline_spark.sources.table.manifest import (
        manifest_count_range,
        write_stats_manifest,
    )

    from .conftest import SF_DIR

    path = str(tmp_path / "rangekey")
    rangekey_write(spark, SF_DIR, path)
    files = sorted(glob.glob(path + "/*.parquet"))
    mpath = str(tmp_path / "manifest")
    write_stats_manifest(spark, files, mpath, ("o_orderkey",))
    orders = spark.read.parquet(*files)

    total, meta, scanned = manifest_count_range(
        spark, mpath, "o_orderkey", float("-inf"), float("inf")
    )
    assert total == orders.count()
    assert scanned == 0 and meta == total  # zero data pages

    lo, hi = 200, 700
    band, meta_b, scanned_b = manifest_count_range(
        spark, mpath, "o_orderkey", lo, hi
    )
    assert band == orders.filter(F.col("o_orderkey").between(lo, hi)).count()
    assert meta_b > 0, "no row group wholly inside the band"
    assert 0 < scanned_b < len(files)

    empty, meta_e, scanned_e = manifest_count_range(
        spark, mpath, "o_orderkey", -50, -10
    )
    assert (empty, meta_e, scanned_e) == (0, 0, 0)


def test_expire_scopes_retire_ceilings_per_column(spark, tmp_path):
    """Round-9 advice (medium): a retire marker for column A must never
    expire column B's still-live equality-delete records. History:
    delete on n_chars (snap 1), delete on doc_id (snap 2), compact
    doc_id (snap 3 — retires doc_id through ceiling 2), a later benign
    commit (snap 4), expire below 4. The old global ceiling (2) dropped
    the n_chars delete at snap 1; post-expire reads then silently
    resurrected its rows."""
    import glob

    from aws_seismic_data_pipeline_spark.sources.table.deletes import (
        compact_equality_deletes,
        equality_delete,
        read_with_deletes,
    )
    from aws_seismic_data_pipeline_spark.sources.table.maintenance import (
        expire_manifest_history,
    )
    from aws_seismic_data_pipeline_spark.sources.table.manifest import (
        write_stats_manifest,
    )

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    data_dir = str(tmp_path / "docs")
    docs.repartition(6, "doc_id").write.parquet(data_dir)
    files = sorted(glob.glob(data_dir + "/*.parquet"))
    mpath = str(tmp_path / "manifest")
    write_stats_manifest(spark, files, mpath, ("doc_id", "n_chars"))

    v = docs.agg(F.min("n_chars")).collect()[0][0]
    equality_delete(spark, mpath, "n_chars", [int(v)])  # snap 1
    equality_delete(spark, mpath, "doc_id", [3, 100])  # snap 2
    snap_c, _, n_rw, _ = compact_equality_deletes(spark, mpath, "doc_id")
    # the rewrite keeps BOTH tracked stats columns (a key-only append
    # would hide the rewrites from n_chars scans entirely)
    man = spark.read.parquet(_mdd(mpath))
    rewrit = man.filter(
        (F.col("op") == "add") & (F.col("snapshot_id") == snap_c)
    )
    assert n_rw > 0
    assert sorted(
        r.column_name
        for r in rewrit.select("column_name").distinct().collect()
    ) == ["doc_id", "n_chars"]

    floor = equality_delete(spark, mpath, "doc_id", [10**9])  # snap 4

    def by_chars():
        return sorted(
            r.doc_id
            for r in read_with_deletes(spark, mpath, "n_chars")
            .select("doc_id")
            .collect()
        )

    # the doc_id compaction physically removed 3 and 100 from the
    # rewritten files, so every current read excludes them too
    expect = sorted(
        r.doc_id
        for r in docs.filter(
            (F.col("n_chars") != v) & ~F.col("doc_id").isin(3, 100)
        ).collect()
    )
    assert by_chars() == expect  # pre-expire baseline
    expire_manifest_history(spark, mpath, floor)
    # the n_chars delete record (snap 1, never retired) must survive
    assert by_chars() == expect
    kept = spark.read.parquet(_mdd(mpath)).filter(F.col("op") == "delete_eq")
    assert (
        kept.filter(F.col("column_name") == "n_chars").count() == 1
    ), "expiry dropped a live delete record scoped to another column"


def test_merge_rejects_duplicate_delta_keys(spark, tmp_path):
    """MERGE must fail fast on a non-unique delta key (Delta/Iceberg
    raise; silently multiplying matched base rows corrupts the table)."""
    import glob

    import pytest as _pytest

    from aws_seismic_data_pipeline_spark.sources.table.maintenance import (
        merge_through_manifest,
    )
    from aws_seismic_data_pipeline_spark.sources.table.manifest import (
        write_stats_manifest,
    )

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    data_dir = str(tmp_path / "docs")
    docs.select("doc_id", "lang").repartition(4, "doc_id").write.parquet(
        data_dir
    )
    files = sorted(glob.glob(data_dir + "/*.parquet"))
    mpath = str(tmp_path / "manifest")
    write_stats_manifest(spark, files, mpath, ("doc_id",))

    dup = spark.createDataFrame(
        [(3, "xx"), (3, "yy"), (4, "zz")], "doc_id long, lang string"
    )
    with _pytest.raises(ValueError, match="duplicate"):
        merge_through_manifest(spark, mpath, dup, "doc_id", ["lang"])


def test_manifest_paths_survive_special_char_dirs(spark, tmp_path):
    """input_file_name() returns a percent-encoded URI; a data directory
    with a space must still resolve against plain manifest paths in the
    metadata-only count AND yield one (dense, merged) bloom row per file
    rather than forked encoded/decoded groups."""
    import glob

    from aws_seismic_data_pipeline_spark.sources.table.manifest import (
        manifest_count_range,
        write_stats_manifest,
    )
    from aws_seismic_data_pipeline_spark.sources.table.sketches import (
        bloom_pruned_scan,
        build_bloom_manifest,
    )

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    data_dir = str(tmp_path / "docs with space+plus")
    docs.repartition(4, "doc_id").write.parquet(data_dir)
    files = sorted(glob.glob(data_dir + "/*.parquet"))
    mpath = str(tmp_path / "manifest")
    write_stats_manifest(spark, files, mpath, ("doc_id",))

    lo, hi = 10, 250
    total, meta, scanned = manifest_count_range(
        spark, mpath, "doc_id", lo, hi
    )
    assert total == docs.filter(F.col("doc_id").between(lo, hi)).count()

    bdir = str(tmp_path / "bloom")
    build_bloom_manifest(spark, files, bdir, "doc_id")
    bl = spark.read.parquet(bdir)
    # one row per file, path matching the plain filesystem path
    assert sorted(r.path for r in bl.select("path").collect()) == files
    got = sorted(
        r.doc_id
        for r in bloom_pruned_scan(spark, bdir, "doc_id", [3, 100])
        .select("doc_id")
        .collect()
    )
    assert got == [3, 100]


def test_partition_plus_stats_pruning_compound(spark, tmp_path):
    """scan_manifest_partitioned's contract: the combined lang+key-band
    scan opens strictly fewer files than EITHER axis alone, each axis
    alone opens strictly fewer than the table holds, and the surviving
    rows equal the raw twin. Files without a recorded partition entry
    are kept conservatively."""
    import glob

    from aws_seismic_data_pipeline_spark.sources.table.manifest import (
        manifest_pruned_scan,
        write_stats_manifest,
    )

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    data_dir = str(tmp_path / "docs")
    (
        docs.repartitionByRange(6, "doc_id")
        .write.partitionBy("lang")
        .parquet(data_dir)
    )
    files = sorted(
        glob.glob(os.path.join(data_dir, "**", "*.parquet"), recursive=True)
    )
    mpath = str(tmp_path / "manifest")
    write_stats_manifest(spark, files, mpath, ("doc_id",), ("lang",))

    INF = float("inf")
    lo, hi = 50, 199

    def nfiles(df):
        return len(df.inputFiles())

    full = manifest_pruned_scan(spark, mpath, "doc_id", -INF, INF)
    stats_only = manifest_pruned_scan(spark, mpath, "doc_id", lo, hi)
    part_only = manifest_pruned_scan(
        spark, mpath, "doc_id", -INF, INF, partition_filter={"lang": "en"}
    )
    combined = manifest_pruned_scan(
        spark, mpath, "doc_id", lo, hi, partition_filter={"lang": "en"}
    )
    assert nfiles(combined) < nfiles(stats_only) < nfiles(full)
    assert nfiles(combined) < nfiles(part_only) < nfiles(full)
    # value parity with the raw table (leaf files drop lang; the
    # partition filter guarantees every surviving row is en)
    want = sorted(
        r.doc_id
        for r in docs.filter(
            (F.col("lang") == "en") & F.col("doc_id").between(lo, hi)
        ).collect()
    )
    got = sorted(r.doc_id for r in combined.select("doc_id").collect())
    assert got == want

    # conservative inclusion: a manifest with NO partition entries keeps
    # every file under any partition filter
    flat_dir = str(tmp_path / "flat")
    docs.repartition(4, "doc_id").write.parquet(flat_dir)
    flat_files = sorted(glob.glob(flat_dir + "/*.parquet"))
    fpath = str(tmp_path / "flat_manifest")
    write_stats_manifest(spark, flat_files, fpath, ("doc_id",))
    kept = manifest_pruned_scan(
        spark, fpath, "doc_id", -INF, INF, partition_filter={"lang": "en"}
    )
    kept_paths = sorted(
        "/" + f.split(":", 1)[1].lstrip("/") for f in kept.inputFiles()
    )
    assert kept_paths == flat_files


def test_concurrent_merge_conflict_retry_serializes(spark, tmp_path):
    """Optimistic concurrency (round-9 verdict item 5): two writers
    planning against the same parent snapshot must not both win. Writer
    A claims and commits; writer B's claim of the same snapshot raises
    ConcurrentCommitError, and the retry wrapper re-plans against A's
    committed state — exactly one retry, and the final table equals the
    SERIAL application A-then-B."""
    import glob

    from aws_seismic_data_pipeline_spark.sources.table.commit import (
        ConcurrentCommitError,
        claim_commit,
    )
    from aws_seismic_data_pipeline_spark.sources.table.deletes import (
        read_with_deletes,
    )
    from aws_seismic_data_pipeline_spark.sources.table.maintenance import (
        merge_with_conflict_retry,
    )
    from aws_seismic_data_pipeline_spark.sources.table.manifest import (
        write_stats_manifest,
    )

    import pytest as _pytest

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet").select(
        "doc_id", "lang"
    )
    data_dir = str(tmp_path / "docs")
    docs.repartition(4, "doc_id").write.parquet(data_dir)
    files = sorted(glob.glob(data_dir + "/*.parquet"))
    mpath = str(tmp_path / "manifest")
    write_stats_manifest(spark, files, mpath, ("doc_id",))

    # both writers plan against parent snapshot 0
    delta_a = spark.createDataFrame([(3, "aa")], "doc_id long, lang string")
    delta_b = spark.createDataFrame([(3, "bb"), (10**7, "nb")],
                                    "doc_id long, lang string")

    # writer A: wins the race for snapshot 1 (simulated by committing
    # first through the same CAS'd path)
    snap_a, _, _, retries_a = merge_with_conflict_retry(
        spark, mpath, delta_a, "doc_id", ["lang"]
    )
    assert (snap_a, retries_a) == (1, 0)

    # writer B planned against parent 0 too: its claim of snapshot 1
    # must LOSE (the token exists), and the raw claim raises
    with _pytest.raises(ConcurrentCommitError):
        claim_commit(spark, mpath, 0)

    # the retry wrapper re-plans against A's state and commits at 2
    snap_b, _, _, retries_b = merge_with_conflict_retry(
        spark, mpath, delta_b, "doc_id", ["lang"]
    )
    assert snap_b == snap_a + 1 and retries_b == 0

    # serializable outcome: A-then-B — B's update to doc 3 wins, B's
    # insert landed, nothing lost or duplicated
    final = {
        r.doc_id: r.lang
        for r in read_with_deletes(spark, mpath, "doc_id").collect()
    }
    assert final[3] == "bb" and final[10**7] == "nb"
    assert len(final) == docs.count() + 1


def test_schema_evolution_time_travels(spark, tmp_path):
    """ADD COLUMN is a commit: reads pinned below it see the OLD
    schema; current reads see the new column NULL-backfilled on
    pre-commit rows and populated on post-commit rows; re-declaring
    raises."""
    import glob

    import pytest as _pytest

    from aws_seismic_data_pipeline_spark.sources.table.evolution import (
        evolve_schema_add,
        read_evolved,
    )
    from aws_seismic_data_pipeline_spark.sources.table.manifest import (
        append_stats_manifest,
        write_stats_manifest,
    )

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet").select(
        "doc_id", "lang", "n_chars"
    )
    data_dir = str(tmp_path / "docs")
    docs.repartition(3, "doc_id").write.parquet(data_dir)
    files = sorted(glob.glob(data_dir + "/*.parquet"))
    mpath = str(tmp_path / "manifest")
    write_stats_manifest(spark, files, mpath, ("doc_id",))

    snap_add = evolve_schema_add(spark, mpath, "quality", "double")
    late = docs.filter(F.col("doc_id") % 7 == 0).withColumn(
        "quality", F.col("n_chars") / F.lit(1000.0)
    )
    late_dir = str(tmp_path / "late")
    late.coalesce(1).write.parquet(late_dir)
    late_path = sorted(glob.glob(late_dir + "/*.parquet"))[0]
    append_stats_manifest(spark, [late_path], mpath, ("doc_id",))

    old = read_evolved(spark, mpath, "doc_id", as_of=snap_add - 1)
    assert "quality" not in old.columns
    cur = read_evolved(spark, mpath, "doc_id")
    assert "quality" in cur.columns
    n_docs = docs.count()
    n_late = docs.filter(F.col("doc_id") % 7 == 0).count()
    assert cur.count() == n_docs + n_late
    assert cur.filter(F.col("quality").isNotNull()).count() == n_late
    # pinned AT the add but before the late file: new schema, all NULL
    at_add = read_evolved(spark, mpath, "doc_id", as_of=snap_add)
    assert "quality" in at_add.columns
    assert at_add.filter(F.col("quality").isNotNull()).count() == 0
    with _pytest.raises(ValueError, match="already declared"):
        evolve_schema_add(spark, mpath, "quality", "double")

    # the committed schema survives history expiry (round-10 review
    # finding: expire dropped 'schema_add' rows below the floor,
    # silently un-declaring the column)
    from aws_seismic_data_pipeline_spark.sources.table.deletes import (
        equality_delete,
    )
    from aws_seismic_data_pipeline_spark.sources.table.maintenance import (
        expire_manifest_history,
    )

    floor = equality_delete(spark, mpath, "doc_id", [10**9])
    expire_manifest_history(spark, mpath, floor)
    cur2 = read_evolved(spark, mpath, "doc_id")
    assert "quality" in cur2.columns
    assert cur2.filter(F.col("quality").isNotNull()).count() == n_late
    with _pytest.raises(ValueError, match="already declared"):
        evolve_schema_add(spark, mpath, "quality", "double")


def test_schema_rename_drop_time_travels_without_rewrite(spark, tmp_path):
    """RENAME/DROP COLUMN (round-12 verdict item 4): both are METADATA
    commits — pinned by unchanged data-file mtimes; the current read
    coalesces pre-rename (old physical name) and post-rename (new
    name) files into one logical column and excludes dropped columns;
    as-of reads below the rename see the OLD name and below the drop
    still see the column; renaming a missing column, renaming onto an
    existing name, dropping a missing column, and re-adding a dropped
    name all raise; the schema chain survives history expiry."""
    import glob

    import pytest as _pytest

    from aws_seismic_data_pipeline_spark.sources.table.evolution import (
        evolve_schema_add,
        evolve_schema_drop,
        evolve_schema_rename,
        read_evolved,
    )
    from aws_seismic_data_pipeline_spark.sources.table.manifest import (
        append_stats_manifest,
        write_stats_manifest,
    )

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet").select(
        "doc_id", "lang", "n_chars"
    )
    data_dir = str(tmp_path / "docs")
    docs.repartition(3, "doc_id").write.parquet(data_dir)
    files = sorted(glob.glob(data_dir + "/*.parquet"))
    mpath = str(tmp_path / "manifest")
    write_stats_manifest(spark, files, mpath, ("doc_id",))

    mtimes_before = {f: os.stat(f).st_mtime_ns for f in files}
    snap_ren = evolve_schema_rename(spark, mpath, "n_chars", "char_count")
    # validation raises loudly AND releases the claim (the next commit
    # must not be blocked for stale_after)
    with _pytest.raises(ValueError, match="does not exist"):
        evolve_schema_rename(spark, mpath, "nope", "x")
    with _pytest.raises(ValueError, match="already exists"):
        evolve_schema_rename(spark, mpath, "lang", "char_count")

    late = docs.filter(F.col("doc_id") % 5 == 0).withColumnRenamed(
        "n_chars", "char_count"
    )
    late_dir = str(tmp_path / "late")
    late.coalesce(1).write.parquet(late_dir)
    late_path = sorted(glob.glob(late_dir + "/*.parquet"))[0]
    append_stats_manifest(spark, [late_path], mpath, ("doc_id",))
    snap_drop = evolve_schema_drop(spark, mpath, "lang")
    with _pytest.raises(ValueError, match="does not exist"):
        evolve_schema_drop(spark, mpath, "lang")
    with _pytest.raises(ValueError, match="already declared"):
        evolve_schema_add(spark, mpath, "lang", "string")

    # zero data files rewritten by either metadata commit
    assert {f: os.stat(f).st_mtime_ns for f in files} == mtimes_before

    n_docs, n_late = docs.count(), docs.filter(F.col("doc_id") % 5 == 0).count()
    cur = read_evolved(spark, mpath, "doc_id")
    assert set(cur.columns) == {"doc_id", "char_count"}
    assert cur.count() == n_docs + n_late
    # coalesce exactness: every row carries its char count (old files
    # through the re-map, late file natively)
    assert cur.filter(F.col("char_count").isNull()).count() == 0
    raw_sum = docs.agg(F.sum("n_chars")).collect()[0][0] + late.agg(
        F.sum("char_count")
    ).collect()[0][0]
    assert cur.agg(F.sum("char_count")).collect()[0][0] == raw_sum

    # time travel: below the rename -> old name; between rename and
    # drop -> new name with lang still present
    old = read_evolved(spark, mpath, "doc_id", as_of=snap_ren - 1)
    assert "n_chars" in old.columns and "char_count" not in old.columns
    mid = read_evolved(spark, mpath, "doc_id", as_of=snap_drop - 1)
    assert "char_count" in mid.columns and "lang" in mid.columns

    # the rename/drop chain survives history expiry like schema_add
    from aws_seismic_data_pipeline_spark.sources.table.deletes import (
        equality_delete,
    )
    from aws_seismic_data_pipeline_spark.sources.table.maintenance import (
        expire_manifest_history,
    )

    floor = equality_delete(spark, mpath, "doc_id", [10**9])
    expire_manifest_history(spark, mpath, floor)
    cur2 = read_evolved(spark, mpath, "doc_id")
    assert set(cur2.columns) == {"doc_id", "char_count"}
    assert cur2.agg(F.sum("char_count")).collect()[0][0] == raw_sum


def test_vacuum_executes_with_retention(spark, tmp_path):
    """VACUUM execution semantics: nothing younger than the retention
    window is deleted; with retention 0 the tombstoned fragments and
    untracked leftovers are unlinked and their bytes reported; the
    CURRENT read is bit-identical before and after; an as-of read below
    the tombstone now fails (the documented Delta trade), while the
    manifest-side expire keeps failing loudly at metadata."""
    import glob

    from aws_seismic_data_pipeline_spark.sources.table.maintenance import (
        commit_data_compaction,
        vacuum_orphans,
    )
    from aws_seismic_data_pipeline_spark.sources.table.manifest import (
        manifest_pruned_scan,
        write_stats_manifest,
    )

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    data_dir = str(tmp_path / "docs")
    docs.repartition(5, "doc_id").write.parquet(data_dir)
    files = sorted(glob.glob(data_dir + "/*.parquet"))
    mpath = str(tmp_path / "manifest")
    write_stats_manifest(spark, files, mpath, ("doc_id",))
    _, snap_c = commit_data_compaction(spark, mpath, files[:3], ("doc_id",))

    def current():
        return sorted(
            r.doc_id
            for r in manifest_pruned_scan(spark, mpath, "doc_id", -1, 2**62)
            .select("doc_id")
            .collect()
        )

    before = current()
    # default retention: tombstoned fragments survive (too young)
    n, b = vacuum_orphans(spark, data_dir, mpath)
    assert (n, b) == (0, 0)
    assert sorted(glob.glob(data_dir + "/*.parquet")) != []
    # retention 0: the 3 compacted fragments are reclaimed
    n, b = vacuum_orphans(spark, data_dir, mpath, older_than_seconds=0)
    assert n == 3 and b > 0
    for p in files[:3]:
        assert not os.path.exists(p)
    assert current() == before  # current read untouched
    # pinned read below the tombstone now fails at the missing files
    import pytest as _pytest

    with _pytest.raises(Exception):
        manifest_pruned_scan(
            spark, mpath, "doc_id", -1, 2**62, as_of=snap_c - 1
        ).count()


def test_partition_evolution_prunes_only_new_generation(spark, tmp_path):
    """Partition-spec evolution contract: under a partition filter the
    OLD flat generation is included conservatively in full, the NEW
    partitioned generation opens only its matching dirs, and the union
    is exact."""
    import glob

    from aws_seismic_data_pipeline_spark.sources.table.manifest import (
        append_stats_manifest,
        manifest_pruned_scan,
        write_stats_manifest,
    )

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    old_dir, new_dir = str(tmp_path / "old"), str(tmp_path / "new")
    docs.filter(F.col("doc_id") % 2 == 0).repartition(3, "doc_id").write.parquet(old_dir)
    (
        docs.filter(F.col("doc_id") % 2 == 1)
        .repartition(2, "doc_id")
        .write.partitionBy("lang")
        .parquet(new_dir)
    )
    old_files = sorted(glob.glob(old_dir + "/*.parquet"))
    new_files = sorted(glob.glob(new_dir + "/**/*.parquet", recursive=True))
    new_en = [p for p in new_files if "/lang=en/" in p]
    mpath = str(tmp_path / "manifest")
    write_stats_manifest(spark, old_files, mpath, ("doc_id",))
    append_stats_manifest(spark, new_files, mpath, ("doc_id",), partition_by=("lang",))

    scanned = manifest_pruned_scan(
        spark, mpath, "doc_id", -1, 2**62,
        partition_filter={"lang": "en"}, merge_schema=True,
    )
    opened = sorted(
        "/" + f.split(":", 1)[1].lstrip("/") for f in scanned.inputFiles()
    )
    assert opened == sorted(old_files + new_en)
    # exactness of the mixed-generation en count
    lang = F.coalesce(
        F.col("lang"),
        F.regexp_extract(F.input_file_name(), "lang=([^/]+)/", 1),
    )
    got = scanned.withColumn("_l", lang).filter(F.col("_l") == "en").count()
    assert got == docs.filter(F.col("lang") == "en").count()


def test_sketch_manifest_band_merge_equals_direct(spark, tmp_path):
    """The k-min subset property that makes per-file NDV sketches
    USEFUL: merging a pruned file subset's sketches equals the sketch a
    direct pass over exactly those files' rows would build — so a
    band-scoped approximate NDV costs zero data pages. Also: the
    whole-table merge equals the direct whole-table sketch."""
    import glob

    from pyspark.sql import Window as W

    from aws_seismic_data_pipeline_spark.sources.footers import (
        rangekey_write,
    )
    from aws_seismic_data_pipeline_spark.sources.table.manifest import (
        manifest_pruned_scan,
        write_stats_manifest,
    )
    from aws_seismic_data_pipeline_spark.sources.table.sketches import (
        _SKETCH_K,
        _SKETCH_SCALE,
        sketch_merged_ndv,
        write_kmv_sketch_manifest,
    )

    path = str(tmp_path / "rangekey")
    rangekey_write(spark, SF_DIR, path)
    files = sorted(glob.glob(path + "/*.parquet"))
    mpath = str(tmp_path / "stats")
    sdir = str(tmp_path / "sketch")
    write_stats_manifest(spark, files, mpath, ("o_orderkey",))
    write_kmv_sketch_manifest(spark, files, sdir, "o_custkey")

    def direct(df):
        hashed = (
            df.select(F.col("o_custkey").cast("long").alias("key"))
            .distinct()
            .withColumn(
                "u",
                F.expr(
                    "cast(conv(substring(md5(cast(key as string)), 1, 15),"
                    " 16, 10) as bigint)"
                )
                / F.lit(_SKETCH_SCALE),
            )
        )
        top = hashed.orderBy("u", "key").limit(_SKETCH_K)
        r = top.agg(
            F.count(F.lit(1)).alias("n"), F.max("u").alias("u_k")
        ).collect()[0]
        return (r.n, r.u_k)

    # band-scoped: the stats-pruned file subset, sketch-merged, equals
    # the direct sketch over those files' rows
    lo, hi = 200, 700
    band_scan = manifest_pruned_scan(spark, mpath, "o_orderkey", lo, hi)
    band_files = sorted(
        "/" + f.split(":", 1)[1].lstrip("/") for f in band_scan.inputFiles()
    )
    assert 0 < len(band_files) < len(files)
    merged = sketch_merged_ndv(spark, sdir, paths=band_files).collect()[0]
    # direct twin over the same files' FULL rows (the sketch covers the
    # files, not the residual band — that is the metadata contract)
    n_d, u_d = direct(spark.read.parquet(*band_files))
    assert merged.sketch_size == n_d
    if n_d >= _SKETCH_K:
        assert merged.kmv_estimate == (_SKETCH_K - 1.0) / u_d
    else:
        assert merged.kmv_estimate == float(n_d)

    # whole-table merge == direct whole-table sketch
    all_merged = sketch_merged_ndv(spark, sdir).collect()[0]
    n_a, u_a = direct(spark.read.parquet(*files))
    assert all_merged.sketch_size == n_a
    assert all_merged.kmv_estimate == (_SKETCH_K - 1.0) / u_a


def test_claim_commit_stale_token_takeover(spark, tmp_path):
    """claim_commit's liveness contract: a token with COMMITTED rows at
    its id raises the re-validate error; a claimed-but-uncommitted
    token from a live writer raises the in-flight error (no takeover);
    a STALE abandoned token (older than the lease) is taken over so a
    crashed claimant cannot wedge the table forever."""
    import glob
    import time

    import pytest as _pytest

    from aws_seismic_data_pipeline_spark.sources.table.commit import (
        ConcurrentCommitError,
        claim_commit,
    )
    from aws_seismic_data_pipeline_spark.sources.table.manifest import (
        write_stats_manifest,
    )

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    data_dir = str(tmp_path / "docs")
    docs.repartition(2, "doc_id").write.parquet(data_dir)
    files = sorted(glob.glob(data_dir + "/*.parquet"))
    mpath = str(tmp_path / "manifest")
    write_stats_manifest(spark, files, mpath, ("doc_id",))

    # normal claim succeeds and reserves id 1
    assert claim_commit(spark, mpath, 0) == 1
    # a second claimant of the same parent: id 1 is claimed but has no
    # committed rows -> the IN-FLIGHT error, token NOT taken over
    with _pytest.raises(ConcurrentCommitError, match="in-flight"):
        claim_commit(spark, mpath, 0, stale_after=3600.0)
    token = os.path.join(mpath, "_commits", "1")
    assert os.path.isdir(token)
    # age the token past the lease: the claim TAKES OVER
    old = time.time() - 1000
    os.utime(token, (old, old))
    assert claim_commit(spark, mpath, 0, stale_after=300.0) == 1
    # committed ids raise the re-validate error, never takeover
    with _pytest.raises(ConcurrentCommitError, match="committed"):
        claim_commit(spark, mpath, -1)  # snapshot 0 has committed rows


def test_vacuum_retention_measured_from_tombstone_time(spark, tmp_path):
    """Delta VACUUM semantics: retention runs from when a file became
    UNREFERENCED (its tombstone), not from its creation mtime. A file
    created long ago but tombstoned seconds ago still serves as-of
    reads inside the window and must survive; with retention 0 it is
    reclaimed."""
    import glob
    import time

    from aws_seismic_data_pipeline_spark.sources.table.maintenance import (
        vacuum_orphans,
    )
    from aws_seismic_data_pipeline_spark.sources.table.manifest import (
        remove_from_manifest,
        write_stats_manifest,
    )

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    data_dir = str(tmp_path / "docs")
    docs.repartition(3, "doc_id").write.parquet(data_dir)
    files = sorted(glob.glob(data_dir + "/*.parquet"))
    mpath = str(tmp_path / "manifest")
    write_stats_manifest(spark, files, mpath, ("doc_id",))
    victim = files[0]
    # the file is OLD on disk...
    old = time.time() - 30 * 24 * 3600
    os.utime(victim, (old, old))
    # ...but tombstoned NOW
    remove_from_manifest(spark, mpath, [victim])
    n, _ = vacuum_orphans(spark, data_dir, mpath, older_than_seconds=3600)
    assert n == 0 and os.path.exists(victim), (
        "tombstoned-inside-the-window file must survive vacuum even "
        "though its mtime is ancient"
    )
    n, b = vacuum_orphans(spark, data_dir, mpath, older_than_seconds=0)
    assert n == 1 and b > 0 and not os.path.exists(victim)


def test_partition_values_decode_hive_escapes(spark, tmp_path):
    """Spark percent-escapes reserved chars in partition dir names
    (lang=a=b:c -> lang=a%3Db%3Ac on disk); the manifest must record
    the LOGICAL value so partition_filter compares logical-to-logical."""
    import glob

    from aws_seismic_data_pipeline_spark.sources.table.manifest import (
        manifest_pruned_scan,
        write_stats_manifest,
    )

    tricky = "a=b:c d%e"
    df = spark.range(100).select(
        F.col("id").alias("doc_id"),
        F.when(F.col("id") < 40, F.lit(tricky)).otherwise("plain").alias("lang"),
    )
    data_dir = str(tmp_path / "docs")
    df.repartition(1).write.partitionBy("lang").parquet(data_dir)
    files = sorted(
        glob.glob(os.path.join(data_dir, "**", "*.parquet"), recursive=True)
    )
    # the escaped form really is on disk — the precondition of the bug
    assert any("%3D" in p for p in files), files
    mpath = str(tmp_path / "manifest")
    write_stats_manifest(
        spark, files, mpath, ("doc_id",), partition_by=("lang",)
    )
    recorded = {
        r.v
        for r in spark.read.parquet(_mdd(mpath))
        .select(F.col("partition_values").getItem("lang").alias("v"))
        .distinct()
        .collect()
    }
    assert tricky in recorded and "plain" in recorded, recorded
    got = manifest_pruned_scan(
        spark, mpath, "doc_id", 0, 1000, partition_filter={"lang": tricky}
    )
    assert got.count() == 40
    assert (
        len(got.inputFiles()) < len(files)
    ), "logical-value filter must actually prune the other partition"


def test_revoked_claim_refuses_to_commit(spark, tmp_path, monkeypatch):
    """Lease revocation: a SLOW writer (not crashed) whose token was
    taken over as stale must fail loudly at commit time instead of
    interleaving its rows with the takeover-er's under one snapshot id."""
    import glob
    import time

    import pytest as _pytest

    from aws_seismic_data_pipeline_spark.sources.table import commit
    from aws_seismic_data_pipeline_spark.sources.table.commit import (
        ConcurrentCommitError,
    )
    from aws_seismic_data_pipeline_spark.sources.table.manifest import (
        append_stats_manifest,
        write_stats_manifest,
    )

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    data_dir = str(tmp_path / "docs")
    docs.repartition(2, "doc_id").write.parquet(data_dir)
    files = sorted(glob.glob(data_dir + "/*.parquet"))
    mpath = str(tmp_path / "manifest")
    write_stats_manifest(spark, files[:1], mpath, ("doc_id",))
    token = os.path.join(mpath, "_commits", "1")
    real = commit.claim_commit

    def stalled(*args, **kwargs):
        # writer A claims snapshot 1 in its publish and stalls before
        # the lease check; writer B (another process in production;
        # simulated here) takes over the stale token and holds it
        snap = real(*args, **kwargs)
        old = time.time() - 1000
        os.utime(token, (old, old))
        assert real(spark, mpath, 0, stale_after=300.0) == 1
        return snap

    monkeypatch.setattr(commit, "claim_commit", stalled)
    with _pytest.raises(ConcurrentCommitError, match="revoked"):
        append_stats_manifest(spark, files[1:], mpath, ("doc_id",))
    # A's abort left B's token in place
    assert os.path.isdir(token)
    # the aside dir left by the takeover is prunable metadata, not a claim
    asides = [
        n
        for n in os.listdir(os.path.join(mpath, "_commits"))
        if ".stale-" in n
    ]
    assert asides, "takeover must rename the old token aside, not rmdir it"


def test_expire_preserves_inflight_tokens_prunes_committed(spark, tmp_path):
    """expire_manifest_history's directory swap must carry live commit
    tokens across: an in-flight writer above the committed tip keeps
    its lease (else a second writer could re-claim the same id), while
    committed-id tokens and stale asides are pruned so the token tree
    stays bounded. Expire itself now claims tip+1 as its swap guard —
    so the surviving in-flight token is one ABOVE the guard, and an
    in-flight claim AT tip+1 makes expire refuse (tested separately)."""
    import glob

    import pytest as _pytest

    from aws_seismic_data_pipeline_spark.sources.table.commit import (
        ConcurrentCommitError,
        claim_commit,
    )
    from aws_seismic_data_pipeline_spark.sources.table.maintenance import (
        expire_manifest_history,
    )
    from aws_seismic_data_pipeline_spark.sources.table.manifest import (
        append_stats_manifest,
        write_stats_manifest,
    )

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    data_dir = str(tmp_path / "docs")
    docs.repartition(4, "doc_id").write.parquet(data_dir)
    files = sorted(glob.glob(data_dir + "/*.parquet"))
    mpath = str(tmp_path / "manifest")
    write_stats_manifest(spark, files[:2], mpath, ("doc_id",))
    append_stats_manifest(spark, files[2:3], mpath, ("doc_id",))  # snap 1
    append_stats_manifest(spark, files[3:4], mpath, ("doc_id",))  # snap 2
    # an in-flight claim ABOVE the expire guard (parent 3 -> claims 4;
    # expire's own guard takes 3)
    assert claim_commit(spark, mpath, 3) == 4
    expire_manifest_history(spark, mpath, expire_below=2)
    commits = os.path.join(mpath, "_commits")
    assert os.path.isdir(os.path.join(commits, "4")), (
        "in-flight token must survive the expire swap"
    )
    assert not os.path.isdir(os.path.join(commits, "3")), (
        "expire must release its own swap-guard lease"
    )
    assert not os.path.isdir(os.path.join(commits, "1")), (
        "committed-id tokens must be pruned at expiry"
    )
    assert not os.path.isdir(os.path.join(commits, "2"))
    # the surviving lease still guards id 4 against a second claimant
    with _pytest.raises(ConcurrentCommitError, match="in-flight"):
        claim_commit(spark, mpath, 3, stale_after=3600.0)
    # the released guard id is claimable again (writers resume)
    assert claim_commit(spark, mpath, 2) == 3


def test_expire_refuses_under_inflight_writer_and_recovers_crash(
    spark, tmp_path
):
    """The expire swap's concurrency contract: (a) an in-flight writer
    lease at tip+1 makes expire raise ConcurrentCommitError instead of
    silently dropping whatever that writer is about to commit; (b)
    claim_commit during the swap window (manifest dir absent) raises
    retryable instead of RECREATING the dir — the makedirs-resurrection
    used to nest the new manifest inside it, bricking the table; (c) a
    crash between the two renames (manifest stranded under
    .expired_old) is healed by recover_interrupted_expire and by the
    next expire run."""
    import glob

    import pytest as _pytest

    from aws_seismic_data_pipeline_spark.sources.table.commit import (
        ConcurrentCommitError,
        claim_commit,
        release_claim,
    )
    from aws_seismic_data_pipeline_spark.sources.table.maintenance import (
        expire_manifest_history,
        recover_interrupted_expire,
    )
    from aws_seismic_data_pipeline_spark.sources.table.manifest import (
        append_stats_manifest,
        write_stats_manifest,
    )

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    data_dir = str(tmp_path / "docs")
    docs.repartition(4, "doc_id").write.parquet(data_dir)
    files = sorted(glob.glob(data_dir + "/*.parquet"))
    mpath = str(tmp_path / "manifest")
    write_stats_manifest(spark, files[:2], mpath, ("doc_id",))
    append_stats_manifest(spark, files[2:3], mpath, ("doc_id",))  # snap 1
    append_stats_manifest(spark, files[3:4], mpath, ("doc_id",))  # snap 2

    # (a) in-flight writer at tip+1 blocks expire
    assert claim_commit(spark, mpath, 2, owner="inflight") == 3
    with _pytest.raises(ConcurrentCommitError, match="in-flight"):
        expire_manifest_history(spark, mpath, expire_below=2)
    release_claim(mpath, 3, "inflight")

    # (b) swap window: manifest dir absent -> retryable error, no mkdir
    aside = mpath + ".expired_old"
    os.rename(mpath, aside)
    with _pytest.raises(ConcurrentCommitError, match="does not exist"):
        claim_commit(spark, mpath, 2)
    assert not os.path.isdir(mpath), (
        "claim_commit must not resurrect the manifest dir mid-swap"
    )

    # (c) crash recovery restores the stranded manifest, expire works
    assert recover_interrupted_expire(mpath) is True
    assert os.path.isdir(mpath) and not os.path.isdir(aside)
    n_before = spark.read.parquet(_mdd(mpath)).count()
    before, after = expire_manifest_history(spark, mpath, expire_below=2)
    assert before == n_before and after <= before + 1  # +1 expire marker
    # idempotent no-op when the table is healthy
    assert recover_interrupted_expire(mpath) is False


def test_compound_commit_is_one_write_job(spark, tmp_path):
    """commit_data_compaction's add(new)+remove(fragments) rows must
    land through ONE Spark write (one FileOutputCommitter commit):
    every manifest file the commit adds shares a single write-job uuid.
    Two separate appends would leave a window where a concurrent
    re-planner sees the compacted file AND the untombstoned fragments,
    double-counting their rows."""
    import glob
    import re

    from aws_seismic_data_pipeline_spark.sources.table.maintenance import (
        commit_data_compaction,
    )
    from aws_seismic_data_pipeline_spark.sources.table.manifest import (
        write_stats_manifest,
    )

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    data_dir = str(tmp_path / "docs")
    docs.repartition(4, "doc_id").write.parquet(data_dir)
    files = sorted(glob.glob(data_dir + "/*.parquet"))
    mpath = str(tmp_path / "manifest")
    write_stats_manifest(spark, files, mpath, ("doc_id",))
    before = set(glob.glob(os.path.join(mpath, "*.parquet")))
    new_path, snap = commit_data_compaction(spark, mpath, files[:3])
    added = sorted(set(glob.glob(os.path.join(mpath, "*.parquet"))) - before)
    assert added, "the commit must append manifest files"
    # atomicity holds in either landing form: the driver-side localman
    # path writes exactly ONE file; the Spark fallback writes part-*
    # files that must all share a single write-job uuid
    if all(os.path.basename(p).startswith("local-") for p in added):
        assert len(added) == 1, (
            f"local commit must be one file, got: {added}"
        )
    else:
        job_ids = {
            re.match(
                r"part-\d+-([0-9a-f-]{36})", os.path.basename(p)
            ).group(1)
            for p in added
        }
        assert len(job_ids) == 1, (
            f"adds and removes landed via {len(job_ids)} write jobs — "
            f"the commit is not atomic: {added}"
        )
    # and the committed snapshot carries BOTH row kinds
    snap_rows = (
        spark.read.parquet(_mdd(mpath))
        .filter(F.col("snapshot_id") == snap)
        .groupBy("op")
        .count()
        .collect()
    )
    ops = {r.op: r["count"] for r in snap_rows}
    assert ops.get("remove") == 3 and ops.get("add", 0) >= 1, ops


def test_multi_column_pruning_beats_either_axis(spark, tmp_path):
    """scan_manifest_pruned_multi's contract: on a Z-ordered layout the
    two-column conjunction opens strictly fewer files than either
    single-column band, and metadata elimination loses no rows vs the
    direct filter."""
    import glob

    from pyspark.sql import functions as F

    from aws_seismic_data_pipeline_spark.catalog import load_table
    from aws_seismic_data_pipeline_spark.operators.window_ops import (
        _morton16_sql,
    )
    from aws_seismic_data_pipeline_spark.sources.table.manifest import (
        manifest_pruned_scan,
        manifest_pruned_scan_multi,
        write_stats_manifest,
    )

    keyed = load_table(spark, SF_DIR, "orders").select(
        (F.col("o_orderkey") % 256).alias("key_bucket"),
        (F.col("o_custkey") % 128).alias("cust_bucket"),
        "o_totalprice",
    ).withColumn("zkey", F.expr(_morton16_sql("key_bucket", "cust_bucket")))
    data_dir = str(tmp_path / "zdata")
    keyed.repartitionByRange(16, "zkey").drop("zkey").write.parquet(data_dir)
    files = sorted(glob.glob(data_dir + "/*.parquet"))
    mpath = str(tmp_path / "zmanifest")
    write_stats_manifest(spark, files, mpath, ("key_bucket", "cust_bucket"))

    xb, yb = (32, 95), (16, 47)
    both = manifest_pruned_scan_multi(
        spark, mpath, {"key_bucket": xb, "cust_bucket": yb}
    )
    x_only = manifest_pruned_scan(spark, mpath, "key_bucket", *xb)
    y_only = manifest_pruned_scan(spark, mpath, "cust_bucket", *yb)
    n_both = len(both.inputFiles())
    n_x = len(x_only.inputFiles())
    n_y = len(y_only.inputFiles())
    assert 0 < n_both < min(n_x, n_y), (n_both, n_x, n_y)
    assert n_both < len(files)

    direct = keyed.filter(
        F.col("key_bucket").between(*xb) & F.col("cust_bucket").between(*yb)
    )
    n_direct = direct.count()
    assert n_direct > 0 and both.count() == n_direct
    # either single-axis scan restricted to the other band must agree —
    # the conjunction dropped only provably-disjoint files
    assert (
        x_only.filter(F.col("cust_bucket").between(*yb)).count() == n_direct
    )


def test_multi_pruning_edges_and_asof(spark, tmp_path):
    """manifest_pruned_scan_multi edges: empty predicate map raises; a
    disjoint rectangle returns an empty frame with the data schema; a
    predicate on an untracked column is conservative (keeps files);
    as_of composes (pre-append pin excludes late files)."""
    import glob

    import pytest as _pytest
    from pyspark.sql import functions as F

    from aws_seismic_data_pipeline_spark.catalog import load_table
    from aws_seismic_data_pipeline_spark.sources.table.manifest import (
        append_stats_manifest,
        manifest_pruned_scan_multi,
        manifest_row_count,
        write_stats_manifest,
    )

    docs = load_table(spark, SF_DIR, "documents").select("doc_id", "n_chars")
    data_dir = str(tmp_path / "docs")
    docs.repartitionByRange(4, "doc_id").write.parquet(data_dir)
    files = sorted(glob.glob(data_dir + "/*.parquet"))
    mpath = str(tmp_path / "m")
    write_stats_manifest(spark, files[:3], mpath, ("doc_id",))

    with _pytest.raises(ValueError, match="empty predicate"):
        manifest_pruned_scan_multi(spark, mpath, {})

    empty = manifest_pruned_scan_multi(
        spark, mpath, {"doc_id": (10**9, 2 * 10**9)}
    )
    assert empty.count() == 0 and set(empty.columns) == {"doc_id", "n_chars"}

    # n_chars is NOT tracked: its predicate must not eliminate files
    # (conservative), only the residual row filter applies
    cons = manifest_pruned_scan_multi(
        spark, mpath, {"doc_id": (0, 10**9), "n_chars": (0, 10**9)}
    )
    tracked_rows = manifest_pruned_scan_multi(
        spark, mpath, {"doc_id": (0, 10**9)}
    ).count()
    assert cons.count() == tracked_rows > 0

    n0 = manifest_row_count(spark, mpath)
    append_stats_manifest(spark, files[3:], mpath, ("doc_id",))  # snap 1
    assert manifest_row_count(spark, mpath) == docs.count()
    assert manifest_row_count(spark, mpath, as_of=0) == n0
    pinned = manifest_pruned_scan_multi(
        spark, mpath, {"doc_id": (0, 10**9)}, as_of=0
    )
    assert pinned.count() == n0


def test_optimize_zorder_collapses_files_and_preserves_history(spark, tmp_path):
    """optimize_zorder's contract: pre-optimize (hash-scattered) a 2-D
    rectangle opens EVERY file; post-optimize it opens a strict
    fraction; the row set is unchanged; and an as-of read below the
    optimize still sees the scattered layout (time travel)."""
    import glob

    from pyspark.sql import functions as F

    from aws_seismic_data_pipeline_spark.catalog import load_table
    from aws_seismic_data_pipeline_spark.sources.table.maintenance import (
        optimize_zorder,
    )
    from aws_seismic_data_pipeline_spark.sources.table.manifest import (
        manifest_pruned_scan_multi,
        manifest_row_count,
        write_stats_manifest,
    )

    orders = load_table(spark, SF_DIR, "orders").select(
        "o_orderkey", "o_custkey", "o_totalprice"
    )
    data_dir = str(tmp_path / "data")
    orders.repartition(16).write.parquet(data_dir)
    files = sorted(glob.glob(data_dir + "/*.parquet"))
    mpath = str(tmp_path / "m")
    write_stats_manifest(spark, files, mpath, ("o_orderkey", "o_custkey"))

    mx = orders.agg(
        F.max("o_orderkey").alias("mk"), F.max("o_custkey").alias("mc")
    ).collect()[0]
    box = {
        "o_orderkey": (mx.mk // 4, mx.mk // 2),
        "o_custkey": (mx.mc // 4, mx.mc // 2),
    }
    pre = manifest_pruned_scan_multi(spark, mpath, box)
    n_pre_files = len(pre.inputFiles())
    n_box_rows = pre.count()
    assert n_pre_files == len(files), "hash layout must defeat pruning"

    n0 = manifest_row_count(spark, mpath)
    snap, n_old, n_new = optimize_zorder(
        spark, mpath, "o_orderkey", "o_custkey", n_files=16
    )
    assert n_old == len(files) and n_new >= 1

    post = manifest_pruned_scan_multi(spark, mpath, box)
    assert len(post.inputFiles()) < n_pre_files // 2, (
        len(post.inputFiles()),
        n_pre_files,
    )
    assert post.count() == n_box_rows
    # pure layout rewrite: total rows unchanged, history intact
    assert manifest_row_count(spark, mpath) == n0
    assert manifest_row_count(spark, mpath, as_of=snap - 1) == n0
    pinned = manifest_pruned_scan_multi(spark, mpath, box, as_of=snap - 1)
    assert len(pinned.inputFiles()) == n_pre_files
    assert pinned.count() == n_box_rows


def test_incremental_zorder_touches_only_the_scattered_tail(spark, tmp_path):
    """optimize_zorder_incremental's liquid-clustering contract: after a
    scattered append degrades pruning, the incremental pass rewrites
    ONLY the scattered files — the clustered bulk's files keep their
    on-disk mtimes and stay visible — pruning recovers, rows are
    conserved, and as-of below the pass sees the degraded layout."""
    import glob
    import os as _os

    from pyspark.sql import functions as F

    from aws_seismic_data_pipeline_spark.catalog import load_table
    from aws_seismic_data_pipeline_spark.sources.table.maintenance import (
        optimize_zorder,
        optimize_zorder_incremental,
    )
    from aws_seismic_data_pipeline_spark.sources.table.manifest import (
        append_stats_manifest,
        manifest_pruned_scan_multi,
        manifest_row_count,
        write_stats_manifest,
    )
    from aws_seismic_data_pipeline_spark.sources.table.commit import (
        ConcurrentCommitError,
    )
    import pytest as _pytest

    orders = load_table(spark, SF_DIR, "orders").select(
        "o_orderkey", "o_custkey", "o_totalprice"
    )
    bulk = orders.filter(F.col("o_orderkey") % 5 != 0)
    late = orders.filter(F.col("o_orderkey") % 5 == 0)
    data_dir = str(tmp_path / "data")
    bulk.repartition(12).write.parquet(data_dir)
    files = sorted(glob.glob(data_dir + "/*.parquet"))
    mpath = str(tmp_path / "m")
    write_stats_manifest(spark, files, mpath, ("o_orderkey", "o_custkey"))
    optimize_zorder(spark, mpath, "o_orderkey", "o_custkey", n_files=12)

    # fully-clustered table: the incremental pass must refuse (visible
    # no-op, not an empty commit)
    with _pytest.raises(ValueError, match="already"):
        optimize_zorder_incremental(spark, mpath, "o_orderkey", "o_custkey")

    late_dir = _os.path.join(data_dir, "late")
    late.repartition(4).write.parquet(late_dir)
    late_files = sorted(glob.glob(late_dir + "/*.parquet"))
    append_stats_manifest(spark, late_files, mpath, ("o_orderkey", "o_custkey"))

    mx = orders.agg(
        F.max("o_orderkey").alias("mk"), F.max("o_custkey").alias("mc")
    ).collect()[0]
    box = {
        "o_orderkey": (mx.mk // 8, mx.mk // 4),
        "o_custkey": (mx.mc // 8, mx.mc // 4),
    }
    pre = manifest_pruned_scan_multi(spark, mpath, box)
    n_pre_files, n_box = len(pre.inputFiles()), pre.count()
    assert n_box > 0
    # every scattered file spans the whole space: all of them are opened
    assert n_pre_files > len(late_files)
    n_total = manifest_row_count(spark, mpath)
    bulk_tiles = sorted(
        glob.glob(data_dir + "/zorder-*/part-*.parquet")
    )
    mtimes = {p: _os.stat(p).st_mtime_ns for p in bulk_tiles}

    snap, n_scat, n_new, n_kept = optimize_zorder_incremental(
        spark, mpath, "o_orderkey", "o_custkey", n_files=4
    )
    assert n_scat == len(late_files) and n_kept == len(bulk_tiles)
    # the clustered bulk was never rewritten
    assert {p: _os.stat(p).st_mtime_ns for p in bulk_tiles} == mtimes
    post = manifest_pruned_scan_multi(spark, mpath, box)
    assert len(post.inputFiles()) < n_pre_files
    assert post.count() == n_box
    assert manifest_row_count(spark, mpath) == n_total
    pinned = manifest_pruned_scan_multi(spark, mpath, box, as_of=snap - 1)
    assert len(pinned.inputFiles()) == n_pre_files and pinned.count() == n_box


def test_zorder_preserves_partition_identity(spark, tmp_path):
    """optimize_zorder on a Hive-partitioned governed table must
    cluster WITHIN each partition dir — a cross-dir rewrite would merge
    rows whose partition value lives only in the path. Pins: new files
    land inside their own lang= dirs, partition-filtered scans return
    exactly the pre-optimize per-partition rows, and the 2-D pruning
    still improves inside a partition."""
    import glob
    import os as _os

    from pyspark.sql import functions as F

    from aws_seismic_data_pipeline_spark.catalog import load_table
    from aws_seismic_data_pipeline_spark.sources.table.maintenance import (
        optimize_zorder,
    )
    from aws_seismic_data_pipeline_spark.sources.table.manifest import (
        manifest_pruned_scan,
        manifest_row_count,
        write_stats_manifest,
    )

    docs = load_table(spark, SF_DIR, "documents").select(
        "doc_id", "n_chars", "lang"
    )
    data_dir = str(tmp_path / "docs")
    # scattered within each lang partition (the anti-layout)
    docs.repartition(4).write.partitionBy("lang").parquet(data_dir)
    files = sorted(
        glob.glob(_os.path.join(data_dir, "**", "*.parquet"), recursive=True)
    )
    mpath = str(tmp_path / "m")
    write_stats_manifest(
        spark, files, mpath, ("doc_id", "n_chars"), partition_by=("lang",)
    )
    per_lang_before = {
        r.lang: r.n
        for r in manifest_pruned_scan(
            spark, mpath, "doc_id", 0, 10**9
        )
        .withColumn("lang", F.regexp_extract(F.input_file_name(), "lang=([^/]+)/", 1))
        .groupBy("lang")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    n0 = manifest_row_count(spark, mpath)

    snap, n_old, n_new = optimize_zorder(
        spark, mpath, "doc_id", "n_chars", n_files=8, partition_by=("lang",)
    )
    assert n_old == len(files)
    new_files = sorted(
        glob.glob(
            _os.path.join(data_dir, "**", "zorder-*", "part-*.parquet"),
            recursive=True,
        )
    )
    assert len(new_files) == n_new
    # every rewritten file lives inside a lang= dir (identity preserved)
    assert all("lang=" in p for p in new_files), new_files
    assert manifest_row_count(spark, mpath) == n0

    # partition-filtered scans agree with the pre-optimize per-lang rows
    for lang, n_before in per_lang_before.items():
        got = manifest_pruned_scan(
            spark, mpath, "doc_id", 0, 10**9, partition_filter={"lang": lang}
        )
        assert got.count() == n_before, lang
        assert all("lang=" + lang in f for f in got.inputFiles())


def test_zcluster_rewrite_mixed_dir_and_subdir_loses_no_rows(spark, tmp_path):
    """Regression: a directory holding files whose names straddle a
    subdirectory's name (root 'aaa-*.parquet' + 'zzz-*.parquet' with a
    'late/' ingest subdir between them in path order) used to make
    itertools.groupby over path-sorted input emit the root dirname in
    two non-contiguous runs — the dict comprehension kept only the
    second, the first run's files were never rewritten, and the caller
    tombstoned every input path: silent data loss. Pins: every input
    row survives the rewrite, and each new file lands in its source
    file's own directory — also for inputs inside a previous
    OPTIMIZE's curve subdir, tagged (``zorder-<snap>-<tag>``) or not
    (``zorder-<snap>``), which must never nest a new curve dir."""
    import glob
    import os as _os

    from pyspark.sql import functions as F

    from aws_seismic_data_pipeline_spark.sources.table.commit import (
        Transaction,
    )
    from aws_seismic_data_pipeline_spark.sources.table.maintenance import (
        _zcluster_rewrite,
    )

    root = str(tmp_path / "data")
    late = _os.path.join(root, "late")
    base = spark.range(0, 300).select(
        F.col("id").alias("k"), (F.col("id") * 7 % 100).alias("v")
    )
    import shutil as _shutil

    def _one(lo: int, dst: str) -> str:
        src = str(tmp_path / f"s{lo}")
        rows = base.filter(f"k >= {lo} and k < {lo + 60}")
        rows.coalesce(1).write.parquet(src)
        _os.makedirs(_os.path.dirname(dst), exist_ok=True)
        part = glob.glob(_os.path.join(src, "part-*.parquet"))[0]
        _shutil.move(part, dst)
        return dst

    # names chosen so sorted(full paths) interleaves: root/aaa-… <
    # root/late/… < root/zorder-5/… < root/zzz-…
    paths = [
        _one(0, _os.path.join(root, "aaa-0.parquet")),
        _one(60, _os.path.join(root, "zorder-5", "old-0.parquet")),
        _one(120, _os.path.join(late, "mid-0.parquet")),
        _one(180, _os.path.join(late, "zorder-6-0a1b2c3d4e5f", "old.parquet")),
        _one(240, _os.path.join(root, "zzz-0.parquet")),
    ]
    # the rewrite stages into a transaction (its exit, unpublished,
    # deletes the staged dirs)
    with Transaction(spark, str(tmp_path / "m")) as txn:
        new_paths = _zcluster_rewrite(
            spark,
            paths,
            "CAST(k % 256 AS INT)",
            n_files=3,
            txn=txn,
            prefix="zorder",
        )
        # no rows lost, no rows duplicated
        got = spark.read.parquet(*new_paths)
        assert got.count() == 300
        assert got.select(F.sum("k")).first()[0] == sum(range(300))
        # partition identity: root rows stayed under root, late rows
        # under late/ — the rewrite lands in a per-snapshot curve subdir
        # of its OWN partition dir (driver-light staging, r13)
        by_dir = {_os.path.dirname(p) for p in new_paths}
        assert by_dir == {
            _os.path.join(root, txn.name("zorder")),
            _os.path.join(late, txn.name("zorder")),
        }
        late_rows = spark.read.parquet(
            *[p for p in new_paths if p.startswith(late + _os.sep)]
        )
        assert late_rows.count() == 120
        assert late_rows.agg(F.min("k"), F.max("k")).first() == (120, 239)


def test_maintenance_rewrites_preserve_evolved_columns(spark, tmp_path):
    """Regression for schema-inference loss in maintenance rewrites:
    after evolve_schema_add, a compaction (or merge/z-order) over a
    MIXED file set — some files physically carrying the evolved column,
    some pre-evolution — must read with mergeSchema, or Spark can infer
    the schema from a pre-evolution file and silently drop the evolved
    column from the rewritten output (reads would then mask the loss as
    NULLs). Pins: the compacted file physically carries the evolved
    column and its values survive bit-exactly."""
    import glob

    from pyspark.sql import functions as F

    from aws_seismic_data_pipeline_spark.sources.table.evolution import (
        evolve_schema_add,
        read_evolved,
    )
    from aws_seismic_data_pipeline_spark.sources.table.maintenance import (
        commit_data_compaction,
    )
    from aws_seismic_data_pipeline_spark.sources.table.manifest import (
        append_stats_manifest,
        write_stats_manifest,
    )

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet").select(
        "doc_id", "n_chars"
    )
    data_dir = str(tmp_path / "data")
    # two pre-evolution fragments (names sort FIRST so schema inference
    # without mergeSchema picks a pre-evolution file)
    docs.filter("doc_id % 2 = 0").coalesce(1).write.parquet(
        str(tmp_path / "s0")
    )
    docs.filter("doc_id % 2 = 1").coalesce(1).write.parquet(
        str(tmp_path / "s1")
    )
    import os as _os
    import shutil as _shutil

    _os.makedirs(data_dir)
    paths = []
    for i, src in enumerate(("s0", "s1")):
        part = glob.glob(str(tmp_path / src / "part-*.parquet"))[0]
        dst = _os.path.join(data_dir, f"aa-{i}.parquet")
        _shutil.move(part, dst)
        paths.append(dst)
    mpath = str(tmp_path / "manifest")
    write_stats_manifest(spark, paths, mpath, ("doc_id",))
    evolve_schema_add(spark, mpath, "score", "double")
    # one evolved fragment that PHYSICALLY carries score
    evolved = spark.range(8_000_000, 8_000_050).select(
        F.col("id").alias("doc_id"),
        F.lit(7).cast("long").alias("n_chars"),
        (F.col("id") % 10).cast("double").alias("score"),
    )
    evolved.coalesce(1).write.parquet(str(tmp_path / "s2"))
    part = glob.glob(str(tmp_path / "s2" / "part-*.parquet"))[0]
    ev_path = _os.path.join(data_dir, "zz-evolved.parquet")
    _shutil.move(part, ev_path)
    append_stats_manifest(spark, [ev_path], mpath, ("doc_id",))
    want_score_sum = evolved.agg(F.sum("score")).first()[0]

    # compact the mixed set: evolved column must survive physically
    new_path, _snap = commit_data_compaction(
        spark, mpath, paths + [ev_path], ("doc_id",)
    )
    compacted = spark.read.parquet(new_path)
    assert "score" in compacted.columns, (
        "compaction dropped the evolved column (schema inferred from a "
        "pre-evolution file)"
    )
    assert compacted.agg(F.sum("score")).first()[0] == want_score_sum
    # the evolved read still sees every row and the surviving values
    got = read_evolved(spark, mpath, "doc_id")
    assert got.count() == docs.count() + 50
    assert got.agg(F.sum("score")).first()[0] == want_score_sum


def test_merge_schema_evolution_one_snapshot_time_travels(spark, tmp_path):
    """merge_evolve_through_manifest pins: (a) the column declaration
    and the merge land at ONE snapshot (history shows a single commit
    carrying schema_add + adds + removes); (b) an as-of read BELOW the
    snapshot sees the OLD schema and the OLD rows; (c) at/above sees
    the new column — values on delta rows, NULL elsewhere; (d) a
    re-merge with the same column does NOT re-declare it."""
    import glob

    from pyspark.sql import functions as F

    from aws_seismic_data_pipeline_spark.sources.table.evolution import (
        read_evolved,
    )
    from aws_seismic_data_pipeline_spark.sources.table.maintenance import (
        merge_evolve_through_manifest,
    )
    from aws_seismic_data_pipeline_spark.sources.table.manifest import (
        write_stats_manifest,
    )

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet").select(
        "doc_id", "lang"
    )
    data_dir = str(tmp_path / "docs")
    docs.repartition(4, "doc_id").write.parquet(data_dir)
    files = sorted(glob.glob(data_dir + "/*.parquet"))
    mpath = str(tmp_path / "manifest")
    write_stats_manifest(spark, files, mpath, ("doc_id",))
    n0 = docs.count()

    delta = spark.createDataFrame(
        [(3, "aa", 0.5), (10**7, "nb", 0.9)],
        "doc_id long, lang string, score double",
    )
    snap, n_int, n_rw, evolved = merge_evolve_through_manifest(
        spark, mpath, delta, "doc_id", ["lang", "score"]
    )
    assert evolved == ["score"] and n_int > 0

    # (a) one snapshot: schema_add + adds + removes all at `snap`,
    # and nothing landed at any other new snapshot
    man = spark.read.parquet(_mdd(mpath))
    ops_at = {
        r.op
        for r in man.filter(F.col("snapshot_id") == snap)
        .select("op").distinct().collect()
    }
    assert {"schema_add", "add", "remove"} <= ops_at
    assert man.agg(F.max("snapshot_id")).first()[0] == snap

    # (b) below: old schema, old rows
    before = read_evolved(spark, mpath, "doc_id", as_of=snap - 1)
    assert "score" not in before.columns
    assert before.count() == n0
    assert before.filter(F.col("doc_id") == 3).first().lang != "aa"

    # (c) at: evolved schema, merged rows, NULL elsewhere
    after = read_evolved(spark, mpath, "doc_id", as_of=snap)
    assert "score" in after.columns
    assert after.count() == n0 + 1
    got = {r.doc_id: (r.lang, r.score) for r in after.filter(
        F.col("doc_id").isin(3, 10**7)).collect()}
    assert got[3] == ("aa", 0.5) and got[10**7] == ("nb", 0.9)
    assert (
        after.filter(F.col("score").isNotNull()).count() == 2
    ), "score must be NULL on every untouched row"

    # (d) idempotent declaration: second merge reuses the declared col
    delta2 = spark.createDataFrame(
        [(5, "cc", 0.1)], "doc_id long, lang string, score double"
    )
    snap2, _, _, evolved2 = merge_evolve_through_manifest(
        spark, mpath, delta2, "doc_id", ["lang", "score"]
    )
    assert evolved2 == [] and snap2 == snap + 1
    final = read_evolved(spark, mpath, "doc_id")
    assert final.filter(F.col("score").isNotNull()).count() == 3


def test_rowgroup_pruning_beats_file_pruning_on_concat_layout(spark, tmp_path):
    """Row-group-granular conjunction (r11 verdict item 4) pins on the
    binpack-concat layout (each file = two disjoint sorted runs): the
    band inside one run survives file-level pruning in EVERY file (all
    bounding ranges cover it) but owns exactly one matching row group —
    files_rowgroup_level << files_file_level, the executed scan opens
    only that file, and the two scans return identical rows."""
    import glob
    import os as _os

    from pyspark.sql import functions as F

    from aws_seismic_data_pipeline_spark.sources.table.manifest import (
        manifest_pruned_scan_multi,
        manifest_pruned_scan_multi_rowgroup,
        rowgroup_prune_report,
        write_fragment_concat_layout,
        write_stats_manifest,
    )
    from aws_seismic_data_pipeline_spark.sources.table.manifest import (
        _run_width,
    )

    path = str(tmp_path / "concat")
    mpath = str(tmp_path / "manifest")
    write_fragment_concat_layout(spark, SF_DIR, path)
    files = sorted(
        glob.glob(_os.path.join(path, "**", "*.parquet"), recursive=True)
    )
    assert len(files) == 8
    write_stats_manifest(spark, files, mpath, ("o_orderkey",))
    w = _run_width(spark, SF_DIR)
    lo, hi = 8 * w + w // 4, 8 * w + w // 2
    preds = {"o_orderkey": (float(lo), float(hi))}

    rep = rowgroup_prune_report(spark, mpath, preds)
    assert rep["files_file_level"] == 8, rep  # file stats defeated
    assert rep["files_rowgroup_level"] < rep["files_file_level"], rep
    assert rep["rowgroups_matching"] < rep["rowgroups_total"], rep

    a = manifest_pruned_scan_multi(spark, mpath, preds)
    b = manifest_pruned_scan_multi_rowgroup(spark, mpath, preds)
    assert b.count() == a.count() > 0
    assert (
        b.agg(F.sum("o_orderkey")).first()[0]
        == a.agg(F.sum("o_orderkey")).first()[0]
    )
    # the executed row-group-level scan opens strictly fewer files
    assert len(b.inputFiles()) == rep["files_rowgroup_level"]
    assert len(a.inputFiles()) == rep["files_file_level"]

    # conservative contract: a predicate on an untracked column keeps
    # every file on that axis (no silent elimination)
    both = manifest_pruned_scan_multi_rowgroup(
        spark,
        mpath,
        {"o_orderkey": (float(lo), float(hi)), "o_custkey": (0.0, 1e18)},
    )
    assert both.count() == a.count()


def test_optimize_hilbert_prunes_time_travels_matches_morton(spark, tmp_path):
    """optimize_hilbert pins: (a) the 2-D rectangle opens a fraction of
    the files post-optimize (pre-optimize hash layout opened all); (b)
    an as-of read below the optimize snapshot still sees the scattered
    layout (time travel — pure layout rewrite); (c) pruning power
    equals the Morton layout on the same table and box (a rectangle
    intersects the same tiles under any space-filling curve), while
    the curve differs (hilbert-* files on disk, not zorder-*)."""
    import glob
    import os as _os

    from pyspark.sql import functions as F

    from aws_seismic_data_pipeline_spark.sources.table.maintenance import (
        optimize_hilbert,
        optimize_zorder,
    )
    from aws_seismic_data_pipeline_spark.sources.table.manifest import (
        manifest_pruned_scan_multi,
        write_stats_manifest,
    )

    orders = spark.read.parquet(f"{SF_DIR}/orders.parquet").select(
        "o_orderkey", "o_custkey", "o_totalprice"
    )
    mx = orders.agg(
        F.max("o_orderkey").alias("mk"), F.max("o_custkey").alias("mc")
    ).collect()[0]
    box = {
        "o_orderkey": (mx.mk // 8, (3 * mx.mk) // 8),
        "o_custkey": (mx.mc // 2, (3 * mx.mc) // 4),
    }

    def build(curve_fn, tag):
        data_dir = str(tmp_path / f"{tag}_data")
        mpath = str(tmp_path / f"{tag}_m")
        orders.repartition(16).write.parquet(data_dir)
        files = sorted(glob.glob(_os.path.join(data_dir, "*.parquet")))
        write_stats_manifest(
            spark, files, mpath, ("o_orderkey", "o_custkey")
        )
        snap, n_old, n_new = curve_fn(
            spark, mpath, "o_orderkey", "o_custkey", n_files=16
        )
        return data_dir, mpath, snap, len(files)

    hd, hm, hsnap, n_before = build(optimize_hilbert, "h")
    zd, zm, _zsnap, _ = build(optimize_zorder, "z")

    want = orders.filter(
        F.col("o_orderkey").between(*box["o_orderkey"])
        & F.col("o_custkey").between(*box["o_custkey"])
    )
    n_want, sum_want = want.count(), want.agg(F.sum("o_orderkey")).first()[0]

    got_h = manifest_pruned_scan_multi(spark, hm, box)
    assert got_h.count() == n_want
    assert got_h.agg(F.sum("o_orderkey")).first()[0] == sum_want
    # (a) pruning collapse + the files are hilbert runs
    h_files = got_h.inputFiles()
    assert 0 < len(h_files) < n_before
    assert all("hilbert-" in f for f in h_files), h_files[:3]
    # (c) same number of files opened as the Morton layout
    got_z = manifest_pruned_scan_multi(spark, zm, box)
    assert got_z.count() == n_want
    assert len(h_files) == len(got_z.inputFiles())
    # (b) time travel: below the optimize snapshot the scattered layout
    # answers identically (row set unchanged by a layout rewrite)
    pre = manifest_pruned_scan_multi(spark, hm, box, as_of=hsnap - 1)
    assert pre.count() == n_want
    assert all("hilbert-" not in f for f in pre.inputFiles())
    assert len(pre.inputFiles()) == n_before  # hash layout: no skipping


def test_incremental_hilbert_touches_only_the_scattered_tail(spark, tmp_path):
    """optimize_hilbert_incremental pins (mirror of the zorder
    incremental contract): the Hilbert-clustered bulk's files are never
    rewritten (mtimes unchanged), only the hash-scattered appends are
    (hinc-* files), the committed row set is exact, and a fully
    clustered table raises instead of an empty commit."""
    import glob
    import os as _os

    from pyspark.sql import functions as F

    from aws_seismic_data_pipeline_spark.sources.table.maintenance import (
        optimize_hilbert,
        optimize_hilbert_incremental,
    )
    from aws_seismic_data_pipeline_spark.sources.table.manifest import (
        append_stats_manifest,
        manifest_pruned_scan,
        write_stats_manifest,
    )

    orders = spark.read.parquet(f"{SF_DIR}/orders.parquet").select(
        "o_orderkey", "o_custkey", "o_totalprice"
    )
    bulk = orders.filter(F.col("o_orderkey") % 5 != 0)
    late = orders.filter(F.col("o_orderkey") % 5 == 0)
    data_dir = str(tmp_path / "data")
    bulk.repartition(8).write.parquet(data_dir)
    files = sorted(glob.glob(_os.path.join(data_dir, "*.parquet")))
    mpath = str(tmp_path / "m")
    write_stats_manifest(spark, files, mpath, ("o_orderkey", "o_custkey"))
    optimize_hilbert(spark, mpath, "o_orderkey", "o_custkey", n_files=8)
    clustered = sorted(
        glob.glob(_os.path.join(data_dir, "hilbert-*", "part-*.parquet"))
    )
    mtimes = {p: _os.stat(p).st_mtime_ns for p in clustered}

    late_dir = _os.path.join(data_dir, "late")
    late.repartition(3).write.parquet(late_dir)
    late_files = sorted(glob.glob(_os.path.join(late_dir, "*.parquet")))
    append_stats_manifest(spark, late_files, mpath, ("o_orderkey", "o_custkey"))

    # n_files=8: a Hilbert run of ~32 tiles has a ~6x6-tile bounding
    # box (~0.37 span) — safely below the 0.5 scattered threshold; 3
    # files would give ~85-tile runs whose ~0.57-span boxes re-classify
    # as scattered on the next pass
    snap, n_scat, n_new, n_untouched = optimize_hilbert_incremental(
        spark, mpath, "o_orderkey", "o_custkey", n_files=8
    )
    assert n_scat == len(late_files) and n_untouched == len(clustered)
    assert all(
        _os.stat(p).st_mtime_ns == mtimes[p] for p in clustered
    ), "the clustered bulk must never be rewritten"
    new = glob.glob(
        _os.path.join(data_dir, "**", "hinc-*", "part-*.parquet"),
        recursive=True,
    )
    assert len(new) == n_new > 0
    got = manifest_pruned_scan(spark, mpath, "o_orderkey", 0, 2**62)
    assert got.count() == orders.count()
    assert (
        got.agg(F.sum("o_orderkey")).first()[0]
        == orders.agg(F.sum("o_orderkey")).first()[0]
    )
    # fully clustered now: the no-op is loud
    import pytest as _pytest

    with _pytest.raises(ValueError, match="already"):
        optimize_hilbert_incremental(
            spark, mpath, "o_orderkey", "o_custkey", n_files=8
        )


def test_optimize_zorder_3d_prunes_all_axes_and_time_travels(spark, tmp_path):
    """optimize_zorder_n (3 columns) pins: the 3-predicate box opens a
    fraction of the files post-optimize; EACH of the three axes
    contributes (dropping any one predicate opens at least as many
    files); as-of below the optimize sees the scattered layout (all
    files, no skipping); exact row parity with the raw table."""
    import glob
    import os as _os

    from pyspark.sql import functions as F

    from aws_seismic_data_pipeline_spark.sources.table.maintenance import (
        optimize_zorder_n,
    )
    from aws_seismic_data_pipeline_spark.sources.table.manifest import (
        manifest_pruned_scan_multi,
        write_stats_manifest,
    )

    orders = spark.read.parquet(f"{SF_DIR}/orders.parquet").select(
        "o_orderkey", "o_custkey", "o_totalprice"
    )
    data_dir = str(tmp_path / "data")
    orders.repartition(16).write.parquet(data_dir)
    files = sorted(glob.glob(_os.path.join(data_dir, "*.parquet")))
    mpath = str(tmp_path / "m")
    write_stats_manifest(
        spark, files, mpath, ("o_orderkey", "o_custkey", "o_totalprice")
    )
    snap, n_old, n_new = optimize_zorder_n(
        spark,
        mpath,
        ["o_orderkey", "o_custkey", "o_totalprice"],
        n_files=16,
    )
    assert n_old == len(files)

    mx = orders.agg(
        F.max("o_orderkey").alias("mk"),
        F.max("o_custkey").alias("mc"),
        F.max("o_totalprice").alias("mp"),
    ).collect()[0]
    box = {
        "o_orderkey": (mx.mk // 4, mx.mk // 2),
        "o_custkey": (mx.mc // 4, mx.mc // 2),
        "o_totalprice": (mx.mp / 8, mx.mp / 4),
    }
    want = orders.filter(
        F.col("o_orderkey").between(*box["o_orderkey"])
        & F.col("o_custkey").between(*box["o_custkey"])
        & F.col("o_totalprice").between(*box["o_totalprice"])
    )
    got = manifest_pruned_scan_multi(spark, mpath, box)
    assert got.count() == want.count()
    n3 = len(got.inputFiles())
    assert 0 < n3 < len(files)
    # every axis contributes: any 2-predicate sub-box opens >= files
    for drop in box:
        sub = {k: v for k, v in box.items() if k != drop}
        n2 = len(manifest_pruned_scan_multi(spark, mpath, sub).inputFiles())
        assert n2 >= n3, (drop, n2, n3)
    assert any(
        len(manifest_pruned_scan_multi(
            spark, mpath, {k: v for k, v in box.items() if k != drop}
        ).inputFiles()) > n3
        for drop in box
    ), "at least one axis must strictly improve the 3-D conjunction"
    # time travel: pre-optimize layout opens everything
    pre = manifest_pruned_scan_multi(spark, mpath, box, as_of=snap - 1)
    assert pre.count() == want.count()
    assert len(pre.inputFiles()) == len(files)
