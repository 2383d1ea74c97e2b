"""End-to-end scenario over the GovernedTable facade: one object, the
whole lifecycle — create, scan, merge, delete, compact, clone,
rollback-safety, expire, schema evolution, concurrent merge, vacuum —
with state checks after every verb. The individual verbs carry their
own driver oracles and pins; this guards the BINDING (right function,
right argument order, right key)."""

from __future__ import annotations

from pyspark.sql import functions as F

from aws_seismic_data_pipeline_spark.sources.table import GovernedTable

from .conftest import SF_DIR


def test_governed_table_lifecycle(spark, tmp_path):
    orders = spark.read.parquet(f"{SF_DIR}/orders.parquet").select(
        "o_orderkey", "o_orderstatus", "o_totalprice"
    )
    t = GovernedTable.create(
        spark,
        orders,
        str(tmp_path / "data"),
        str(tmp_path / "manifest"),
        "o_orderkey",
    )
    n0 = orders.count()
    assert t.scan().count() == n0
    assert len(t.visible_files()) == 16

    # pruned scan opens fewer files than the table holds
    band = t.scan(100, 300)
    assert band.count() == orders.filter(
        F.col("o_orderkey").between(100, 300)
    ).count()

    # CoW merge: reprice a band, insert far keys
    delta = orders.filter(F.col("o_orderkey").between(100, 300)).select(
        "o_orderkey",
        F.lit("X").alias("o_orderstatus"),
        (F.col("o_totalprice") + F.lit(10.0)).alias("o_totalprice"),
    ).unionByName(
        orders.filter(F.col("o_orderkey") % 400 == 1).select(
            (F.col("o_orderkey") + F.lit(10_000_000)).alias("o_orderkey"),
            F.lit("N").alias("o_orderstatus"),
            "o_totalprice",
        )
    )
    n_ins = orders.filter(F.col("o_orderkey") % 400 == 1).count()
    snap_m, n_int, n_rw = t.merge(delta, ["o_orderstatus", "o_totalprice"])
    assert 0 < n_int < 16 and n_rw <= n_int
    assert t.scan().count() == n0 + n_ins
    assert t.scan(as_of=snap_m - 1).count() == n0  # time travel intact

    # snapshot log reads straight off the manifest
    h = {r.snapshot_id: r for r in t.history().collect()}
    assert h[0].n_files_added == 16 and h[0].n_files_removed == 0
    assert h[snap_m].n_files_removed == n_int
    assert h[snap_m].n_files_added == n_rw + 1  # rewrites + insert file

    # row-level delete then physical compaction
    t.delete_keys([5, 7])
    assert t.scan_with_deletes().count() == n0 + n_ins - 2
    snap_dc, _, _, _ = t.compact_deletes()
    assert t.scan().count() == n0 + n_ins - 2  # plain scan agrees now

    # clone diverges independently
    c = t.clone(str(tmp_path / "clone_manifest"))
    c.delete_keys([11])
    assert c.scan_with_deletes().count() == t.scan().count() - 1
    assert t.scan_with_deletes().count() == n0 + n_ins - 2  # source untouched

    # vacuum sees the merge/compaction leftovers as reclaimable
    orphans = t.vacuum_report()
    assert orphans.count() > 0

    # expire below the delete compaction, then pinned-below raises
    import pytest as _pytest

    before, after = t.expire(snap_dc)
    assert after < before
    assert t.scan().count() == n0 + n_ins - 2
    with _pytest.raises(ValueError, match="expire floor"):
        t.scan(as_of=snap_dc - 1).count()

    # r10 verbs through the same facade: schema evolution commits as
    # metadata, concurrent merge CAS-claims its snapshot, vacuum
    # reclaims the expired fragments with retention 0
    snap_sch = t.add_column("discount", "double")
    evolved = t.scan_evolved()
    assert "discount" in evolved.columns
    assert evolved.filter(F.col("discount").isNotNull()).count() == 0
    snap_cc, _, _, retries = t.merge_concurrent(
        spark.createDataFrame(
            [(20_000_001, "C", 1.0)],
            "o_orderkey long, o_orderstatus string, o_totalprice double",
        ),
        ["o_orderstatus", "o_totalprice"],
    )
    assert snap_cc == snap_sch + 1 and retries == 0
    assert t.scan().count() == n0 + n_ins - 2 + 1
    n_vac, bytes_vac = t.vacuum(older_than_seconds=0)
    assert n_vac > 0 and bytes_vac > 0
    assert t.scan().count() == n0 + n_ins - 2 + 1  # current read intact


def test_governed_table_partitioned(spark, tmp_path):
    """Partition-aware binding: create(partition_by=) lands Hive dirs
    whose values the manifest records; scan(partition_filter=) combines
    partition pruning with stats pruning; appends through the facade
    keep recording partition values."""
    import glob

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    t = GovernedTable.create(
        spark,
        docs.filter(F.col("lang") != "zh"),
        str(tmp_path / "data"),
        str(tmp_path / "manifest"),
        "doc_id",
        n_files=4,
        partition_by=("lang",),
    )
    want = docs.filter(F.col("lang") == "en").count()
    en = t.scan(partition_filter={"lang": "en"})
    assert en.count() == want
    assert len(en.inputFiles()) < len(t.visible_files())

    # append a late partition through the facade: values recorded
    (
        docs.filter(F.col("lang") == "zh")
        .repartition(1)
        .write.mode("overwrite")
        .partitionBy("lang")
        .parquet(str(tmp_path / "late"))
    )
    late_files = sorted(
        glob.glob(str(tmp_path / "late") + "/**/*.parquet", recursive=True)
    )
    t.append(late_files)
    zh = t.scan(partition_filter={"lang": "zh"})
    assert zh.count() == docs.filter(F.col("lang") == "zh").count()
    assert len(zh.inputFiles()) == len(late_files)

    # OPTIMIZE on a partitioned table must bin WITHIN partition dirs
    # (round-10 review finding: a cross-partition bin would merge rows
    # whose partition value lives only in the path) and keep
    # partition-filtered scans exact afterwards
    want_en = t.scan(partition_filter={"lang": "en"}).count()
    n_bins, n_before, n_after = t.optimize(target_bytes=10**12)
    assert n_after < n_before
    en2 = t.scan(partition_filter={"lang": "en"})
    assert en2.count() == want_en
    # every opened file still lives under the en partition dir
    assert all("/lang=en/" in f for f in en2.inputFiles())


def test_governed_table_optimize(spark, tmp_path):
    """OPTIMIZE contract: fragment count drops to the bin count,
    current reads are bit-identical before and after, pinned reads
    below the optimize still see the fragments, and a second optimize
    at the same target is a no-op (already packed)."""
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet").select(
        "doc_id", "lang", "n_chars"
    )
    t = GovernedTable.create(
        spark,
        docs,
        str(tmp_path / "data"),
        str(tmp_path / "manifest"),
        "doc_id",
        n_files=12,
    )
    before_rows = sorted(map(tuple, t.scan().collect()))
    n0 = len(t.visible_files())
    assert n0 == 12
    # huge target -> everything packs into one bin
    n_bins, n_before, n_after = t.optimize(target_bytes=10**12)
    assert (n_bins, n_before) == (1, 12) and n_after == 1
    assert len(t.visible_files()) == 1
    assert sorted(map(tuple, t.scan().collect())) == before_rows
    # history intact: pinned read below the optimize sees 12 files
    assert len(t.visible_files(as_of=0)) == 12
    # idempotent: a single file has nothing to pack
    n_bins2, nb2, na2 = t.optimize(target_bytes=10**12)
    assert (n_bins2, nb2, na2) == (0, 1, 1)


def test_governed_table_metadata_stats(spark, tmp_path):
    """The metadata-statistics bindings: count_range answers from
    footer counts (zero scans on an unbounded range) and the NDV
    sketch estimates distincts without touching data pages."""
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet").select(
        "doc_id", "lang", "n_chars"
    )
    t = GovernedTable.create(
        spark,
        docs,
        str(tmp_path / "data"),
        str(tmp_path / "manifest"),
        "doc_id",
        n_files=6,
    )
    total, meta, scanned = t.count_range(float("-inf"), float("inf"))
    assert total == docs.count() and scanned == 0 and meta == total
    sdir = str(tmp_path / "ndv")
    t.build_ndv_sketch(sdir, "doc_id")
    est = t.ndv_estimate(sdir).collect()[0]
    n = docs.count()
    # doc_id is unique, so NDV == n; KMV at K=64 is within ~25% here
    assert est.sketch_size == 64
    assert abs(est.kmv_estimate - n) < 0.35 * n


def test_rank_over_governed_scan_sizes_from_metadata(
    spark, tmp_path, monkeypatch
):
    """VERDICT r10 top-next: the distributed global-order primitives'
    partition sizing must come from the stats manifest when the input
    is a governed scan — ZERO extra pass over the fact table (the old
    _auto_partitions ran df.count() per call). Pins (a) row_count()
    answers from metadata and equals the real count, (b) a ranked
    governed scan with the hint never invokes DataFrame.count on any
    frame, (c) the ranks are still exact."""
    from pyspark.sql import DataFrame

    from aws_seismic_data_pipeline_spark.operators.window_ops import (
        distributed_rank,
    )

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet").select(
        "doc_id", "n_chars"
    )
    t = GovernedTable.create(
        spark,
        docs,
        str(tmp_path / "data"),
        str(tmp_path / "manifest"),
        "doc_id",
        n_files=4,
    )
    n_real = docs.count()
    assert t.row_count() == n_real

    counted = []
    orig_count = DataFrame.count
    monkeypatch.setattr(
        DataFrame,
        "count",
        lambda self: (counted.append(1), orig_count(self))[1],
    )
    hint = t.row_count()  # metadata agg: collect, not count
    ranked = distributed_rank(
        t.scan(), [F.col("doc_id")], "r", n_rows=hint
    ).collect()
    assert not counted, (
        "manifest-fed sizing must not re-scan the fact table via count()"
    )
    got = sorted((r.doc_id, r.r) for r in ranked)
    assert [r for _, r in got] == list(range(1, n_real + 1))
    assert [d for d, _ in got] == sorted(d for d, _ in got)


def test_facade_three_axis_scan_and_zorder(spark, tmp_path):
    """The facade's three-axis skipping (two stats bands + partition
    filter) and OPTIMIZE ZORDER binding: a partitioned governed table
    answers a (key band, second column band, partition value) query
    correctly before and after t.optimize_zorder, and the partitioned
    rewrite keeps partition identity (delegation-level pin; the verb
    internals are pinned in tests/test_catalog_scale.py)."""
    docs = (
        spark.read.parquet(f"{SF_DIR}/documents.parquet")
        .select("doc_id", "n_chars", "lang")
    )
    t = GovernedTable.create(
        spark,
        docs,
        str(tmp_path / "data"),
        str(tmp_path / "manifest"),
        "doc_id",
        n_files=8,
        partition_by=("lang",),
    )
    # track the second column too: rebuild stats with both columns
    from aws_seismic_data_pipeline_spark.sources.table.manifest import (
        write_stats_manifest,
    )

    write_stats_manifest(
        spark,
        t.visible_files(),
        t.manifest_dir,
        ("doc_id", "n_chars"),
        partition_by=("lang",),
    )
    preds = {"doc_id": (50, 300), "n_chars": (0, 10**6)}
    expect = docs.filter(
        (F.col("doc_id").between(50, 300)) & (F.col("lang") == "en")
    ).count()
    got = t.scan_multi(preds, partition_filter={"lang": "en"})
    assert got.count() == expect > 0
    assert all("lang=en" in f for f in got.inputFiles())

    snap, n_old, n_new = t.optimize_zorder(
        "doc_id", "n_chars", n_files=8
    )
    # facade binding currently drops partition values on the rewrite's
    # stats rows unless partition_by is threaded — it must thread the
    # table's own partition_by automatically
    got2 = t.scan_multi(preds, partition_filter={"lang": "en"})
    assert got2.count() == expect
    assert all("lang=en" in f for f in got2.inputFiles())


def test_facade_compact_files_keeps_partition_values(spark, tmp_path):
    """compact_files on a partitioned table: the compacted file's stats
    rows must re-record the partition value, or every later partition
    filter treats the file conservatively (scans it for all values)."""
    import glob
    import os as _os

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet").select(
        "doc_id", "lang"
    )
    t = GovernedTable.create(
        spark,
        docs,
        str(tmp_path / "data"),
        str(tmp_path / "manifest"),
        "doc_id",
        n_files=4,
        partition_by=("lang",),
    )
    en_dir = _os.path.join(t.data_dir, "lang=en")
    frags = sorted(glob.glob(en_dir + "/*.parquet"))
    assert len(frags) > 1
    n_en = t.scan(partition_filter={"lang": "en"}).count()
    new_path, _snap = t.compact_files(frags)
    got = t.scan(partition_filter={"lang": "en"})
    assert got.count() == n_en
    assert new_path in [f.replace("file://", "") for f in got.inputFiles()]
    # the de-filtered scan must NOT open the compacted en file
    de = t.scan(partition_filter={"lang": "de"})
    assert all("lang=en" not in f for f in de.inputFiles())


def test_facade_merge_partitioned_keeps_partition_identity(spark, tmp_path):
    """merge/merge_concurrent on a Hive-partitioned table: the facade
    threads partition_by, so (a) rewrites stay inside their own lang=
    dirs, (b) unmatched delta rows land Hive-partitioned by their OWN
    partition value, (c) committed stats rows re-record partition
    values — partition-filtered scans remain exact and never open
    another partition's files."""
    import glob
    import os as _os

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet").select(
        "doc_id", "n_chars", "lang"
    )
    t = GovernedTable.create(
        spark,
        docs,
        str(tmp_path / "data"),
        str(tmp_path / "manifest"),
        "doc_id",
        n_files=8,
        partition_by=("lang",),
    )
    per_lang = {
        r.lang: r.n
        for r in docs.groupBy("lang").agg(F.count(F.lit(1)).alias("n")).collect()
    }
    # delta: bump n_chars for a band (updates) + insert new fr docs
    upd = docs.filter(F.col("doc_id").between(10, 40)).select(
        "doc_id", (F.col("n_chars") + F.lit(1)).alias("n_chars"), "lang"
    )
    ins = spark.createDataFrame(
        [(9_000_001, 11, "fr"), (9_000_002, 22, "de")],
        "doc_id long, n_chars int, lang string",
    )
    delta = upd.unionByName(ins)
    snap, n_int, n_rw = t.merge(delta, ["n_chars"])
    assert n_int > 0 and n_rw <= n_int
    # rewrites + inserts all live inside lang= dirs
    merged_files = glob.glob(
        _os.path.join(t.data_dir, "**", f"merged-{snap}-*.parquet"),
        recursive=True,
    )
    assert merged_files and all("lang=" in f for f in merged_files)
    # per-partition row counts: updates don't move rows, inserts land
    # in their own partition
    for lang, n in per_lang.items():
        expect = n + (1 if lang in ("fr", "de") else 0)
        got = t.scan(partition_filter={"lang": lang})
        assert got.count() == expect, lang
        assert all(f"lang={lang}" in f for f in got.inputFiles()), lang
    # updated values visible, partition-filtered
    en_docs = docs.filter(F.col("lang") == "en")
    want = en_docs.withColumn(
        "n_chars",
        F.when(
            F.col("doc_id").between(10, 40), F.col("n_chars") + 1
        ).otherwise(F.col("n_chars")),
    ).agg(F.sum("n_chars")).first()[0]
    got_sum = (
        t.scan(partition_filter={"lang": "en"}).agg(F.sum("n_chars")).first()[0]
    )
    assert got_sum == want
    # merge_concurrent threads partition_by the same way
    ins2 = spark.createDataFrame(
        [(9_000_003, 33, "en")], "doc_id long, n_chars int, lang string"
    )
    snap2, _, _, retries = t.merge_concurrent(ins2, ["n_chars"])
    assert retries == 0
    got_en = t.scan(partition_filter={"lang": "en"})
    assert got_en.count() == per_lang["en"] + 1
    assert all("lang=en" in f for f in got_en.inputFiles())
    # a partitioned merge refuses a delta missing the partition column
    import pytest as _pytest

    with _pytest.raises(ValueError, match="partition column"):
        t.merge(ins2.drop("lang"), ["n_chars"])


def test_facade_clone_propagates_partition_by(spark, tmp_path):
    """clone() must carry partition_by: maintenance verbs on the clone
    keep recording partition values (a bare clone would silently turn
    every later partition filter conservative after its first verb)."""
    import glob
    import os as _os

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet").select(
        "doc_id", "lang"
    )
    t = GovernedTable.create(
        spark,
        docs,
        str(tmp_path / "data"),
        str(tmp_path / "manifest"),
        "doc_id",
        n_files=4,
        partition_by=("lang",),
    )
    c = t.clone(str(tmp_path / "clone_manifest"))
    assert c.partition_by == ("lang",)
    # a maintenance verb on the clone records partition values
    en_dir = _os.path.join(t.data_dir, "lang=en")
    frags = sorted(glob.glob(en_dir + "/*.parquet"))
    assert len(frags) > 1
    n_en = c.scan(partition_filter={"lang": "en"}).count()
    c.compact_files(frags)
    got = c.scan(partition_filter={"lang": "en"})
    assert got.count() == n_en
    de = c.scan(partition_filter={"lang": "de"})
    assert all("lang=en" not in f for f in de.inputFiles())


def test_facade_r12_verbs_bind(spark, tmp_path):
    """Binding pins for the r12 facade verbs: optimize_hilbert clusters
    (partition_by threaded — partition filters stay exact), merge_evolve
    declares + merges atomically, scan_multi_rowgroup answers the same
    band as scan_multi."""
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet").select(
        "doc_id", "n_chars", "lang"
    )
    t = GovernedTable.create(
        spark,
        docs,
        str(tmp_path / "data"),
        str(tmp_path / "manifest"),
        "doc_id",
        n_files=8,
        partition_by=("lang",),
    )
    from aws_seismic_data_pipeline_spark.sources.table.manifest import (
        write_stats_manifest,
    )

    write_stats_manifest(
        spark,
        t.visible_files(),
        t.manifest_dir,
        ("doc_id", "n_chars"),
        partition_by=("lang",),
    )
    n_en = t.scan(partition_filter={"lang": "en"}).count()
    snap, n_old, n_new = t.optimize_hilbert("doc_id", "n_chars", n_files=8)
    assert n_old > 0 and n_new > 0
    got = t.scan(partition_filter={"lang": "en"})
    assert got.count() == n_en
    assert all("lang=en" in f for f in got.inputFiles())

    preds = {"doc_id": (50.0, 300.0)}
    a = t.scan_multi(preds)
    b = t.scan_multi_rowgroup(preds)
    assert a.count() == b.count() > 0

    delta = spark.createDataFrame(
        [(50, 10, "en", 0.7)],
        "doc_id long, n_chars long, lang string, quality double",
    )
    snap2, _, _, evolved = t.merge_evolve(delta, ["n_chars", "quality"])
    assert evolved == ["quality"]
    ev = t.scan_evolved()
    assert "quality" in ev.columns
    assert ev.filter(F.col("quality").isNotNull()).count() == 1


def test_facade_optimize_zorder_by_multi_column(spark, tmp_path):
    """Binding pin for the k-dimensional facade verb: a 3-column
    optimize through the facade keeps the row set exact and the
    3-predicate scan_multi opens fewer files than the table holds."""
    orders = spark.read.parquet(f"{SF_DIR}/orders.parquet").select(
        "o_orderkey", "o_custkey", "o_totalprice"
    )
    t = GovernedTable.create(
        spark,
        orders,
        str(tmp_path / "data"),
        str(tmp_path / "manifest"),
        "o_orderkey",
        n_files=12,
    )
    from aws_seismic_data_pipeline_spark.sources.table.manifest import (
        write_stats_manifest,
    )

    write_stats_manifest(
        spark,
        t.visible_files(),
        t.manifest_dir,
        ("o_orderkey", "o_custkey", "o_totalprice"),
    )
    snap, n_old, n_new = t.optimize_zorder_by(
        ["o_orderkey", "o_custkey", "o_totalprice"], n_files=12
    )
    assert n_old == 12 and n_new > 0
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
    got = t.scan_multi(box)
    want = orders.filter(
        F.col("o_orderkey").between(*box["o_orderkey"])
        & F.col("o_custkey").between(*box["o_custkey"])
        & F.col("o_totalprice").between(*box["o_totalprice"])
    )
    assert got.count() == want.count()
    assert 0 < len(got.inputFiles()) < n_new


def test_write_time_constraints_gate_and_leak_nothing(spark, tmp_path):
    """Write-time CHECK/NOT NULL enforcement (round-12 verdict item 5):
    a violating append OR merge raises ConstraintViolationError and
    leaves NO snapshot, NO manifest rows, and NO leaked claim (the
    next good commit proceeds at the immediately-next id — memory-rule
    leak trap); add_constraint validates the EXISTING table (declaring
    a constraint current data violates raises and also leaks nothing);
    drop_constraint retires the gate; constraints survive history
    expiry."""
    import glob as _glob

    import pytest as _pytest
    from pyspark.sql import functions as F

    from aws_seismic_data_pipeline_spark.sources.table.constraints import (
        ConstraintViolationError,
    )
    from aws_seismic_data_pipeline_spark.sources.table.facade import (
        GovernedTable,
    )

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet").select(
        "doc_id", "lang", "n_chars"
    )
    t = GovernedTable.create(
        spark,
        docs,
        str(tmp_path / "data"),
        str(tmp_path / "manifest"),
        "doc_id",
        n_files=4,
    )
    base_count = t.scan_with_deletes().count()

    # declaring a constraint the CURRENT table violates: rejected, and
    # the claim it briefly held is released (next declare succeeds at
    # the very next id)
    with _pytest.raises(ConstraintViolationError, match="impossible"):
        t.add_constraint("impossible", "n_chars > 1000000000")
    snap_c1 = t.add_constraint("chars_positive", "n_chars > 0")
    snap_c2 = t.add_not_null("lang")
    assert snap_c2 == snap_c1 + 1, "failed declare must not burn/block ids"
    assert [c[0] for c in t.constraints()] == [
        "chars_positive",
        "lang_not_null",
    ]

    def _land(df, name):
        stage = str(tmp_path / f"stage_{name}")
        df.coalesce(1).write.parquet(stage)
        return sorted(_glob.glob(stage + "/*.parquet"))[0]

    bad_append = _land(
        docs.limit(10).select(
            (F.col("doc_id") + 500000).alias("doc_id"),
            F.lit(None).cast("string").alias("lang"),
            F.col("n_chars"),
        ),
        "bad",
    )
    with _pytest.raises(ConstraintViolationError, match="lang_not_null"):
        t.append([bad_append])
    # nothing landed, nothing leaked
    assert t.scan_with_deletes().count() == base_count

    bad_delta = spark.createDataFrame(
        [(1, "xx", -5)], "doc_id long, lang string, n_chars long"
    )
    with _pytest.raises(ConstraintViolationError, match="chars_positive"):
        t.merge(bad_delta, ["lang", "n_chars"])
    with _pytest.raises(ConstraintViolationError, match="chars_positive"):
        t.merge_concurrent(bad_delta, ["lang", "n_chars"])
    assert t.scan_with_deletes().count() == base_count

    # a good commit proceeds at the IMMEDIATELY next snapshot — the
    # rejected writes held no id
    good = _land(
        docs.limit(5).select(
            (F.col("doc_id") + 600000).alias("doc_id"), "lang", "n_chars"
        ),
        "good",
    )
    snap_good = t.append([good])
    assert snap_good == snap_c2 + 1, "rejected writes must not burn ids"
    assert t.scan_with_deletes().count() == base_count + 5

    # constraints survive expiry; drop retires the gate
    t.expire(snap_good)
    assert len(t.constraints()) == 2
    with _pytest.raises(ConstraintViolationError):
        t.merge(bad_delta, ["lang", "n_chars"])
    t.drop_constraint("chars_positive")
    t.drop_constraint("lang_not_null")
    with _pytest.raises(ValueError, match="does not exist"):
        t.drop_constraint("chars_positive")
    snap_m, _, _ = t.merge(bad_delta, ["lang", "n_chars"])
    assert snap_m > snap_good, "dropped constraints stop gating"


def test_timestamp_time_travel_boundaries(spark, tmp_path):
    """AS OF TIMESTAMP resolution (round-12 verdict item 6): between-
    commit timestamps resolve to the OLDER snapshot (the state a
    reader at that instant saw); a pre-first-commit timestamp raises;
    after expiry a timestamp below the surviving floor raises exactly
    like a pre-floor snapshot pin; every commit kind (create, append,
    constraint declare, schema rename) stamps a clock."""
    import glob as _glob

    import pytest as _pytest
    from pyspark.sql import functions as F

    from aws_seismic_data_pipeline_spark.sources.table.facade import (
        GovernedTable,
    )
    from aws_seismic_data_pipeline_spark.sources.table.logstore import (
        manifest_data_dir,
    )

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet").select(
        "doc_id", "lang", "n_chars"
    )
    t = GovernedTable.create(
        spark,
        docs,
        str(tmp_path / "data"),
        str(tmp_path / "manifest"),
        "doc_id",
        n_files=4,
    )
    extra = docs.limit(7).select(
        (F.col("doc_id") + 700000).alias("doc_id"), "lang", "n_chars"
    )
    stage = str(tmp_path / "stage")
    extra.coalesce(1).write.parquet(stage)
    snap1 = t.append([sorted(_glob.glob(stage + "/*.parquet"))[0]])
    t.add_constraint("pos", "n_chars >= 0")
    t.rename_column("n_chars", "char_count")

    clocks = {
        int(r.snapshot_id): r.min_val
        for r in spark.read.parquet(manifest_data_dir(t.manifest_dir))
        .filter(F.col("op") == "commit_ts")
        .select("snapshot_id", "min_val")
        .collect()
    }
    # every commit kind stamped: create(0), append(1), constraint(2),
    # rename(3)
    assert set(clocks) == {0, 1, 2, 3}
    assert list(clocks[k] for k in sorted(clocks)) == sorted(
        clocks[k] for k in sorted(clocks)
    ), "clocks must be monotone with snapshot order"

    n0 = docs.count()
    # between snapshot 0 and 1 resolves to 0
    mid = (clocks[0] + clocks[1]) / 2
    assert t.snapshot_at(mid) == 0
    assert t.scan_at_timestamp(mid).count() == n0
    # exactly at a commit clock resolves to that commit
    assert t.snapshot_at(clocks[1]) == snap1
    assert t.scan_at_timestamp(clocks[1]).count() == n0 + 7
    # future timestamp resolves to the current tip
    assert t.snapshot_at(clocks[3] + 10**6) == 3
    # pre-first-commit raises
    with _pytest.raises(ValueError, match="precedes the earliest"):
        t.snapshot_at(clocks[0] - 1.0)

    # post-expiry: a timestamp below the surviving floor raises loudly
    t.expire(snap1)
    with _pytest.raises(ValueError, match="precedes the earliest"):
        t.snapshot_at(clocks[0])
    assert t.snapshot_at(clocks[1]) == snap1, (
        "surviving snapshots stay timestamp-resolvable after expiry"
    )


def test_writes_after_expire_land_in_live_generation(spark, tmp_path):
    """After the first expire the manifest's live parquet moves to
    <manifest>/gen-N (generation pointer, r13): every later commit —
    equality delete, append, constraint declare — must write through
    the resolver or its rows land invisibly in the manifest ROOT
    (the equality_delete bug this test pins): the delete would
    silently stop subtracting."""
    import glob as _glob

    from pyspark.sql import functions as F

    from aws_seismic_data_pipeline_spark.sources.table.facade import (
        GovernedTable,
    )
    from aws_seismic_data_pipeline_spark.sources.table.logstore import (
        manifest_data_dir,
    )

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet").select(
        "doc_id", "lang"
    )
    t = GovernedTable.create(
        spark,
        docs,
        str(tmp_path / "d"),
        str(tmp_path / "m"),
        "doc_id",
        n_files=3,
    )
    extra = docs.limit(4).select(
        (F.col("doc_id") + 900000).alias("doc_id"), "lang"
    )
    stage = str(tmp_path / "s")
    extra.coalesce(1).write.parquet(stage)
    snap1 = t.append([sorted(_glob.glob(stage + "/*.parquet"))[0]])
    t.expire(snap1)  # live manifest now at gen-00000001
    assert manifest_data_dir(t.manifest_dir) != t.manifest_dir
    n = t.scan_with_deletes().count()

    keys = [r.doc_id for r in docs.limit(3).collect()]
    t.delete_keys(keys)
    assert t.scan_with_deletes().count() == n - 3, (
        "post-expire delete records must land in the live generation"
    )
    # and the delete's commit clock is resolvable
    assert t.history().filter(
        (F.col("ops") == "delete_eq") & F.col("commit_ts").isNotNull()
    ).count() == 1


def test_rename_remaps_live_constraints_drop_rejects(spark, tmp_path):
    """Schema evolution x live constraints (round-13 verdict item 3):
    RENAME rewrites every live CHECK expr referencing the column in
    the SAME commit (Iceberg remaps; a stale expr would wedge every
    gated write on AnalysisException), DROP of a referenced column is
    REJECTED outright (Delta blocks), and in both directions the
    table is never left unwritable."""
    import glob as _glob

    import pytest as _pytest
    from pyspark.sql import functions as F

    from aws_seismic_data_pipeline_spark.sources.table.constraints import (
        ConstraintViolationError,
    )
    from aws_seismic_data_pipeline_spark.sources.table.facade import (
        GovernedTable,
    )

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet").select(
        "doc_id", "lang", "n_chars"
    )
    t = GovernedTable.create(
        spark,
        docs,
        str(tmp_path / "data"),
        str(tmp_path / "manifest"),
        "doc_id",
        n_files=4,
    )
    t.add_constraint("chars_positive", "n_chars > 0")
    t.add_not_null("lang")
    snap_ren = t.rename_column("n_chars", "char_count")

    # the referencing constraint was remapped IN the rename commit
    # (same snapshot — no window where the gate names a dead column);
    # the non-referencing one is untouched
    live = dict((n, e) for n, _k, e in t.constraints())
    assert live["chars_positive"] == "char_count > 0"
    assert live["lang_not_null"] == "lang IS NOT NULL"
    from aws_seismic_data_pipeline_spark.sources.table.logstore import (
        manifest_data_dir,
    )

    remap_snaps = [
        int(r.snapshot_id)
        for r in spark.read.parquet(manifest_data_dir(t.manifest_dir))
        .filter(
            (F.col("op") == "constraint_add")
            & (F.col("column_name") == "chars_positive")
        )
        .collect()
    ]
    assert max(remap_snaps) == snap_ren, "remap must ride the rename commit"

    def _land(df, name):
        stage = str(tmp_path / f"stage_{name}")
        df.coalesce(1).write.parquet(stage)
        return sorted(_glob.glob(stage + "/*.parquet"))[0]

    # the gate still bites, now under the NEW name...
    bad = _land(
        docs.limit(5).select(
            (F.col("doc_id") + 800000).alias("doc_id"),
            F.col("lang"),
            F.lit(0).cast("long").alias("char_count"),
        ),
        "bad",
    )
    with _pytest.raises(ConstraintViolationError, match="chars_positive"):
        t.append([bad])
    # ...and a clean post-rename batch commits: the table is NOT wedged
    good = _land(
        docs.limit(5).select(
            (F.col("doc_id") + 810000).alias("doc_id"),
            F.col("lang"),
            F.col("n_chars").alias("char_count"),
        ),
        "good",
    )
    n0 = t.scan_evolved().count()
    t.append([good])
    assert t.scan_evolved().count() == n0 + 5

    # DROP of a constraint-referenced column is blocked, loudly, and
    # commits nothing (the next commit takes the immediately-next id)
    with _pytest.raises(ValueError, match="chars_positive"):
        t.drop_column("char_count")
    snap_dropc = t.drop_constraint("chars_positive")
    snap_drop = t.drop_column("char_count")
    assert snap_drop == snap_dropc + 1, "rejected drop must not burn ids"
    assert "char_count" not in t.scan_evolved().columns


def test_rename_remaps_backquoted_constraint_exprs(spark, tmp_path):
    """A constraint stored with a BACKQUOTED identifier (`n_chars` > 0)
    must still be remapped on rename and detected on drop — the bare
    identifier-boundary regex's lookbehind excludes backtick, so
    without the quoted alternation the stale name would survive the
    rename and wedge every subsequent gated write (r14 ADVICE)."""
    import pytest as _pytest
    from pyspark.sql import functions as F

    from aws_seismic_data_pipeline_spark.sources.table.facade import (
        GovernedTable,
    )

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet").select(
        "doc_id", "lang", "n_chars"
    )
    t = GovernedTable.create(
        spark,
        docs,
        str(tmp_path / "data"),
        str(tmp_path / "manifest"),
        "doc_id",
        n_files=2,
    )
    t.add_constraint("chars_positive", "`n_chars` > 0")
    t.rename_column("n_chars", "char_count")
    live = dict((n, e) for n, _k, e in t.constraints())
    # quoting style is preserved through the remap
    assert live["chars_positive"] == "`char_count` > 0"
    # drop-blocking sees the quoted reference too
    with _pytest.raises(ValueError, match="chars_positive"):
        t.drop_column("char_count")
    # and the remapped gate still analyzes: a clean append commits
    import glob as _glob

    stage = str(tmp_path / "stage_bq")
    docs.limit(3).select(
        (F.col("doc_id") + 900000).alias("doc_id"),
        "lang",
        F.col("n_chars").alias("char_count"),
    ).coalesce(1).write.parquet(stage)
    n0 = t.scan_evolved().count()
    t.append(sorted(_glob.glob(stage + "/*.parquet")))
    assert t.scan_evolved().count() == n0 + 3


def test_constraint_recheck_inside_claim(spark, tmp_path, monkeypatch):
    """The write gate checks a batch against the constraints in the
    frame of the transaction that commits it (ADVICE r13): a
    constraint declared between the facade's gate read and its publish
    moves the tip, so the claim fails and the retry gates the batch
    again from the new frame, which rejects it. The rejection commits
    nothing, leaves no file and burns no id (the next writer takes the
    immediately-next id — memory-rule leak trap)."""
    import glob as _glob

    import pytest as _pytest
    from pyspark.sql import functions as F

    from aws_seismic_data_pipeline_spark.sources.table import commit
    from aws_seismic_data_pipeline_spark.sources.table.constraints import (
        ConstraintViolationError,
    )
    from aws_seismic_data_pipeline_spark.sources.table.facade import (
        GovernedTable,
    )

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet").select(
        "doc_id", "lang", "n_chars"
    )
    t = GovernedTable.create(
        spark,
        docs,
        str(tmp_path / "data"),
        str(tmp_path / "manifest"),
        "doc_id",
        n_files=3,
    )
    # a batch that violates a constraint NOT YET declared when the
    # gate read its transaction's frame
    bad_batch = docs.limit(5).select(
        (F.col("doc_id") + 900000).alias("doc_id"),
        F.col("lang"),
        F.lit(-1).cast("long").alias("n_chars"),
    )
    real = commit.claim_commit

    def declared_before_the_claim(*args, **kwargs):
        monkeypatch.setattr(commit, "claim_commit", real)
        t.add_constraint("pos", "n_chars > 0")
        return real(*args, **kwargs)

    files = sorted(_glob.glob(t.data_dir + "/**/*.parquet", recursive=True))
    before = t.scan_with_deletes().count()
    monkeypatch.setattr(commit, "claim_commit", declared_before_the_claim)
    with _pytest.raises(ConstraintViolationError, match="pos"):
        t.merge(bad_batch, ["lang", "n_chars"])
    assert t.scan_with_deletes().count() == before, "abort commits nothing"
    assert t.constraints() == [("pos", "check", "n_chars > 0")]
    assert (
        sorted(_glob.glob(t.data_dir + "/**/*.parquet", recursive=True))
        == files
    ), "the rejected merge left staged files behind"

    stage = str(tmp_path / "stage_ok")
    docs.limit(3).select(
        (F.col("doc_id") + 910000).alias("doc_id"), "lang", "n_chars"
    ).coalesce(1).write.parquet(stage)
    snap_next = t.append(sorted(_glob.glob(stage + "/*.parquet")))
    hist = [int(r.snapshot_id) for r in t.history().collect()]
    assert snap_next == max(h for h in hist if h < snap_next) + 1, (
        "rejected commit must not burn/block ids"
    )


def test_clone_after_expire_reads_live_generation(spark, tmp_path):
    """Shallow clone of an EXPIRED table (ADVICE r13): after the
    source's expire the manifest root holds gen-* dirs plus the
    grace-retained stale flat parquet — clone must read through the
    generation resolver or it snapshots stale/duplicated rows
    (resurrecting expired history in the clone)."""
    import glob as _glob

    from pyspark.sql import functions as F

    from aws_seismic_data_pipeline_spark.sources.table.facade import (
        GovernedTable,
    )
    from aws_seismic_data_pipeline_spark.sources.table.logstore import (
        manifest_data_dir,
    )

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet").select(
        "doc_id", "lang"
    )
    t = GovernedTable.create(
        spark,
        docs,
        str(tmp_path / "d"),
        str(tmp_path / "m"),
        "doc_id",
        n_files=3,
    )
    extra = docs.limit(6).select(
        (F.col("doc_id") + 950000).alias("doc_id"), "lang"
    )
    stage = str(tmp_path / "s")
    extra.coalesce(1).write.parquet(stage)
    snap1 = t.append([sorted(_glob.glob(stage + "/*.parquet"))[0]])
    t.expire(snap1)
    assert manifest_data_dir(t.manifest_dir) != t.manifest_dir

    clone = t.clone(str(tmp_path / "m_clone"))
    # the clone sees exactly the source's live world: same files, same
    # rows — no expired history resurrected, nothing duplicated
    assert clone.visible_files() == t.visible_files()
    assert clone.scan_with_deletes().count() == t.scan_with_deletes().count()
    src_rows = spark.read.parquet(manifest_data_dir(t.manifest_dir)).count()
    clone_rows = spark.read.parquet(
        manifest_data_dir(clone.manifest_dir)
    ).count()
    assert clone_rows == src_rows, "clone must carry the LIVE manifest only"


def test_merge_with_delete_three_clause(spark, tmp_path):
    """Three-clause MERGE (round-13 verdict item 5): matched-delete,
    matched-update, and unmatched-insert land at ONE snapshot with
    per-clause row accounting; an unmatched delete-flagged row is a
    no-op (Delta's matched-only semantics); time travel below the
    commit sees none of the clauses; the Change Data Feed reports all
    three change kinds at that single snapshot."""
    from pyspark.sql import functions as F

    from aws_seismic_data_pipeline_spark.sources.table.facade import (
        GovernedTable,
    )

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet").select(
        "doc_id", "lang", "n_chars"
    )
    t = GovernedTable.create(
        spark,
        docs,
        str(tmp_path / "data"),
        str(tmp_path / "manifest"),
        "doc_id",
        n_files=4,
    )
    n0 = docs.count()
    n_del = docs.filter(F.col("doc_id") % 5 == 0).count()
    n_upd = docs.filter(
        (F.col("doc_id") % 7 == 0) & (F.col("doc_id") % 5 != 0)
    ).count()
    n_ins = docs.filter(F.col("doc_id") % 13 == 0).count()
    delta = (
        docs.filter((F.col("doc_id") % 7 == 0) | (F.col("doc_id") % 5 == 0))
        .withColumn("n_chars", F.col("n_chars") + F.lit(100))
        .unionByName(
            docs.filter(F.col("doc_id") % 13 == 0).withColumn(
                "doc_id", F.col("doc_id") + F.lit(1000000)
            )
        )
        .unionByName(  # unmatched delete-flagged: must be a NO-OP
            spark.createDataFrame(
                [(999995, "xx", 1)], "doc_id long, lang string, n_chars long"
            )
        )
    )
    snap, n_int, n_rw, acc = t.merge_with_delete(
        delta, ["lang", "n_chars"], "doc_id % 5 = 0 AND doc_id < 1000000"
    )
    # per-clause accounting: the unmatched flagged row (5000005, %5=0)
    # is counted nowhere
    assert acc == {"updated": n_upd, "inserted": n_ins, "deleted": n_del}
    assert n_rw <= n_int

    cur = t.scan()
    assert cur.count() == n0 - n_del + n_ins
    assert cur.filter((F.col("doc_id") % 5 == 0) & (F.col("doc_id") < 1000000)).count() == 0
    assert cur.filter(F.col("doc_id") == 999995).count() == 0, (
        "unmatched delete-flagged row must not insert"
    )
    # updated rows carry +100; a %35 row (update-shaped AND flagged) is
    # deleted — the delete clause wins
    upd = cur.join(
        docs.select("doc_id", F.col("n_chars").alias("orig")), "doc_id"
    ).filter((F.col("doc_id") % 7 == 0) & (F.col("doc_id") % 5 != 0))
    assert upd.filter(F.col("n_chars") != F.col("orig") + 100).count() == 0

    # time travel below the commit: none of the three clauses visible
    before = t.scan(as_of=snap - 1)
    assert before.count() == n0
    assert before.filter(F.col("doc_id") >= 1000000).count() == 0

    # CDF: all three change kinds at the one snapshot
    ch = {
        r._change_type: int(r.n)
        for r in t.changes(snap - 1, snap)
        .groupBy("_change_type")
        .agg(F.count("*").alias("n"))
        .collect()
    }
    assert ch == {
        "update_preimage": n_upd,
        "update_postimage": n_upd,
        "insert": n_ins,
        "delete": n_del,
    }


def test_sql_face_matches_facade_paths(spark, tmp_path):
    """The SQL face (round-13 verdict item 6) returns byte-identical
    worlds to the facade calls it wraps: current, VERSION AS OF,
    TIMESTAMP AS OF, and DESCRIBE HISTORY — plus :named parameter
    binding through the sql_parameterized machinery."""
    import glob as _glob

    from pyspark.sql import functions as F

    from aws_seismic_data_pipeline_spark.sources.table.facade import (
        GovernedTable,
    )

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet").select(
        "doc_id", "lang", "n_chars"
    )
    t = GovernedTable.create(
        spark,
        docs,
        str(tmp_path / "data"),
        str(tmp_path / "manifest"),
        "doc_id",
        n_files=3,
    )
    extra = docs.limit(8).select(
        (F.col("doc_id") + 650000).alias("doc_id"), "lang", "n_chars"
    )
    stage = str(tmp_path / "s")
    extra.coalesce(1).write.parquet(stage)
    snap1 = t.append([sorted(_glob.glob(stage + "/*.parquet"))[0]])
    del_keys = [r.doc_id for r in docs.limit(4).select("doc_id").collect()]
    t.delete_keys(del_keys)

    # current world through SQL == facade scan_with_deletes
    got = t.sql("SELECT COUNT(*) AS n FROM governed").collect()[0].n
    assert got == t.scan_with_deletes().count()

    # VERSION AS OF through SQL == facade as_of
    v0 = t.sql(
        "SELECT COUNT(*) AS n FROM governed_v0",
        versions={"v0": 0},
    ).collect()[0].n
    assert v0 == docs.count()

    # TIMESTAMP AS OF resolved through commit clocks
    ts1 = (
        t.history()
        .filter(F.col("snapshot_id") == snap1)
        .select("commit_ts")
        .collect()[0][0]
    )
    at1 = t.sql(
        "SELECT COUNT(*) AS n FROM governed_t1",
        timestamps={"t1": float(ts1)},
    ).collect()[0].n
    assert at1 == docs.count() + 8

    # DESCRIBE HISTORY + parameter binding
    h = t.sql(
        "SELECT COUNT(*) AS n FROM governed_history"
        " WHERE snapshot_id >= :floor",
        args={"floor": 0},
    ).collect()[0].n
    assert h == 3  # create, append, delete


def test_sql_write_face_gates_and_rejects(spark, tmp_path):
    """The SQL write face (r14 verdict item 3) must route every verb
    through the facade's gated commit protocol: a constraint-violating
    SQL INSERT raises and commits NOTHING (no snapshot, no orphan
    manifest row), a clean INSERT/MERGE/DELETE statement sequence
    commits one snapshot each, and out-of-grammar statements raise
    loudly instead of silently writing."""
    import pytest as _pytest
    from pyspark.sql import functions as F

    from aws_seismic_data_pipeline_spark.sources.table.constraints import (
        ConstraintViolationError,
    )
    from aws_seismic_data_pipeline_spark.sources.table.facade import (
        GovernedTable,
    )
    from aws_seismic_data_pipeline_spark.sources.table.sqlface import (
        governed_sql_write,
    )

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet").select(
        "doc_id", "lang", "n_chars"
    )
    t = GovernedTable.create(
        spark,
        docs,
        str(tmp_path / "data"),
        str(tmp_path / "manifest"),
        "doc_id",
        n_files=3,
    )
    t.add_constraint("chars_positive", "n_chars > 0")
    n0 = t.scan_with_deletes().count()
    tip0 = max(int(r.snapshot_id) for r in t.history().collect())

    # violating INSERT: raises, commits nothing
    with _pytest.raises(ConstraintViolationError, match="chars_positive"):
        governed_sql_write(
            spark,
            t,
            "INSERT INTO t SELECT doc_id + 90000 AS doc_id, lang, "
            "CAST(-5 AS BIGINT) AS n_chars FROM t WHERE doc_id < 3",
            name="t",
        )
    assert t.scan_with_deletes().count() == n0
    assert max(int(r.snapshot_id) for r in t.history().collect()) == tip0

    # clean INSERT commits exactly one snapshot, rows visible
    s1 = governed_sql_write(
        spark,
        t,
        "INSERT INTO t SELECT doc_id + 90000 AS doc_id, lang, n_chars "
        "FROM t WHERE doc_id % 17 = 0",
        name="t",
    )
    n_ins = docs.filter(F.col("doc_id") % 17 == 0).count()
    assert s1 == tip0 + 1
    assert t.scan_with_deletes().count() == n0 + n_ins

    # MERGE through SQL: update + insert, gated
    docs.limit(4).withColumn(
        "n_chars", F.col("n_chars") + F.lit(7)
    ).createOrReplaceTempView("mrg_src")
    s2 = governed_sql_write(
        spark,
        t,
        "MERGE INTO t USING mrg_src AS s ON t.doc_id = s.doc_id "
        "WHEN MATCHED THEN UPDATE SET lang = s.lang, n_chars = s.n_chars "
        "WHEN NOT MATCHED THEN INSERT *",
        name="t",
    )
    assert s2 == s1 + 1

    # DELETE FROM with predicate: keys resolved over current world
    before = t.scan_with_deletes().count()
    doomed = t.scan_with_deletes().filter("doc_id % 19 = 0").count()
    s3 = governed_sql_write(
        spark, t, "DELETE FROM t WHERE doc_id % 19 = 0", name="t"
    )
    assert s3 == s2 + 1
    assert t.scan_with_deletes().count() == before - doomed

    # out-of-grammar statements raise, never write silently
    for bad in (
        "UPDATE t SET n_chars = 1",
        "MERGE INTO t USING mrg_src AS s ON t.doc_id = s.other "
        "WHEN MATCHED THEN UPDATE SET n_chars = s.n_chars "
        "WHEN NOT MATCHED THEN INSERT *",
        "MERGE INTO t USING mrg_src AS s ON t.doc_id = s.doc_id "
        "WHEN MATCHED THEN UPDATE SET n_chars = s.n_chars + 1 "
        "WHEN NOT MATCHED THEN INSERT *",
        "INSERT INTO other_table SELECT * FROM t",
    ):
        with _pytest.raises(ValueError):
            governed_sql_write(spark, t, bad, name="t")


def test_vacuum_is_clone_aware(spark, tmp_path):
    """clone_manifest's vacuum-safety contract is ENFORCED (r14
    verdict item 5): a file tombstoned in the source but still visible
    in a live clone is neither reported as an orphan nor deleted by
    vacuum; dropping the clone's manifest dir releases the pin; and an
    explicit sibling_manifests override works without the registry."""
    import os
    import shutil

    from aws_seismic_data_pipeline_spark.sources.table.facade import (
        GovernedTable,
    )
    from aws_seismic_data_pipeline_spark.sources.table.maintenance import (
        live_manifests,
        vacuum_orphans_report,
    )

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet").select(
        "doc_id", "lang", "n_chars"
    )
    t = GovernedTable.create(
        spark,
        docs,
        str(tmp_path / "d"),
        str(tmp_path / "m"),
        "doc_id",
        n_files=4,
    )
    c = t.clone(str(tmp_path / "m_clone"))
    assert set(live_manifests(t.manifest_dir)) == {
        os.path.abspath(t.manifest_dir),
        os.path.abspath(c.manifest_dir),
    }

    # retire files in the SOURCE only: a compaction tombstones every
    # original file, so without clone-awareness they'd all be orphans
    files_before = t.visible_files()
    t.compact_files(files_before)
    assert t.vacuum_report().count() == 0  # clone still pins them
    n_del, _ = t.vacuum(older_than_seconds=0)
    assert n_del == 0
    assert c.scan().count() == docs.count()  # clone still readable

    # the compacted file is new and untracked BY THE CLONE — it must
    # not be reclaimable from the clone's side either (source sees it)
    assert c.vacuum_report().count() == 0

    # explicit sibling override (no registry consultation)
    rep = vacuum_orphans_report(
        spark,
        t.data_dir,
        t.manifest_dir,
        sibling_manifests=[c.manifest_dir],
    )
    assert rep.count() == 0

    # dropping the clone releases its pins: the tombstoned originals
    # become reclaimable again
    shutil.rmtree(c.manifest_dir)
    assert set(live_manifests(t.manifest_dir)) == {
        os.path.abspath(t.manifest_dir)
    }
    reclaimable = {
        os.path.basename(f)
        for f in t.vacuum_report()
        .withColumn("_f", F.input_file_name())
        .select("_f")
        .distinct()
        .toPandas()["_f"]
    }
    assert reclaimable == {os.path.basename(p) for p in files_before}
    n_del2, _ = t.vacuum(older_than_seconds=0)
    assert n_del2 == len(files_before)
    assert t.scan().count() == docs.count()  # current read intact


# ---- schema pinned from the Parquet footer -------------------------------


def _orders_table(spark, tmp_path, n_files=8):
    orders = spark.read.parquet(f"{SF_DIR}/orders.parquet").select(
        "o_orderkey", "o_orderstatus", "o_totalprice"
    )
    t = GovernedTable.create(
        spark,
        orders,
        str(tmp_path / "data"),
        str(tmp_path / "manifest"),
        "o_orderkey",
        n_files=n_files,
    )
    return orders, t


def _assert_pins_equal_inference(spark, paths):
    from aws_seismic_data_pipeline_spark.sources.footers import (
        footer_schema,
        read_data_files,
    )

    for p in paths:
        assert footer_schema(p) == spark.read.parquet(p).schema, p
    assert (
        read_data_files(spark, paths).schema
        == spark.read.parquet(*paths).schema
    )
    assert (
        read_data_files(spark, paths, merge_schema=True).schema
        == spark.read.option("mergeSchema", "true").parquet(*paths).schema
    )


def test_pinned_schema_equals_inferred_schema(spark, tmp_path):
    """The footer-pinned data schema is exactly Spark's inferred one on
    every file a governed verb writes: create, MERGE, OPTIMIZE, DELETE
    compaction — and the change feed read over those commits keeps
    its schema. Nested types pin nullable, as inference makes them."""
    from aws_seismic_data_pipeline_spark.sources.footers import footer_schema

    orders, t = _orders_table(spark, tmp_path)
    _assert_pins_equal_inference(spark, t.visible_files())
    s0 = t.scan().schema

    delta = orders.filter(F.col("o_orderkey").between(100, 300)).select(
        "o_orderkey",
        F.lit("X").alias("o_orderstatus"),
        (F.col("o_totalprice") + 1.0).alias("o_totalprice"),
    )
    snap_m, _, _ = t.merge(delta, ["o_orderstatus", "o_totalprice"])
    _assert_pins_equal_inference(spark, t.visible_files())
    t.optimize(target_bytes=64 * 1024 * 1024)
    _assert_pins_equal_inference(spark, t.visible_files())
    t.delete_keys([5, 7])
    snap_dc, _, _, _ = t.compact_deletes()
    files = t.visible_files()
    _assert_pins_equal_inference(spark, files)
    assert t.scan().schema == s0 == spark.read.parquet(*files).schema
    assert t.scan_with_deletes().count() == orders.count() - 2

    ch = t.changes(0, snap_dc)
    assert ch.schema.fieldNames()[:3] == s0.fieldNames()
    kinds = {r._change_type for r in ch.select("_change_type").collect()}
    assert {"update_preimage", "update_postimage", "delete"} <= kinds
    assert ch.filter(F.col("_commit_snapshot") == snap_m).count() == 2 * (
        delta.count()
    )

    nested = spark.createDataFrame(
        [(1, [1, 2], {"a": 1}, (1, "x"))],
        "k long not null, a array<int>, m map<string,int>,"
        " s struct<x: int not null, y: string>",
    )
    out = str(tmp_path / "nested")
    nested.coalesce(1).write.parquet(out)
    import glob as _glob

    (f,) = _glob.glob(f"{out}/part-*.parquet")
    assert footer_schema(f) == spark.read.parquet(f).schema


def test_governed_scan_starts_no_spark_job(spark, tmp_path):
    """Opening a pruned or delete-aware scan is driver metadata work
    only: pruning reads the manifest with pyarrow and the data schema
    comes from one footer, so no Spark job runs until the scan does."""
    from perfbench.harness import StatusCounters

    orders, t = _orders_table(spark, tmp_path)
    t.delete_keys([5, 7])
    counters = StatusCounters(spark)
    band = t.scan(100, 300)
    everything = t.scan_with_deletes()
    assert counters.delta()["jobs"] == 0
    assert band.count() == orders.filter(
        F.col("o_orderkey").between(100, 300)
    ).count()
    assert everything.count() == orders.count() - 2


def test_pyarrow_written_file_reads_through_fallback(spark, tmp_path):
    """A table file written without Spark's row metadata (pyarrow,
    DuckDB) cannot pin its schema; scans and the change feed fall back
    to inference and still read it."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from aws_seismic_data_pipeline_spark.sources.footers import (
        footer_schema,
        read_data_files,
    )

    orders, t = _orders_table(spark, tmp_path)
    path = str(tmp_path / "data" / "from-pyarrow.parquet")
    pq.write_table(
        pa.table(
            {
                "o_orderkey": pa.array([9_000_001, 9_000_002], pa.int64()),
                "o_orderstatus": ["P", "P"],
                "o_totalprice": [1.5, 2.5],
            }
        ),
        path,
    )
    assert footer_schema(path) is None
    snap = t.append([path])
    assert t.scan().count() == orders.count() + 2
    got = t.scan(9_000_000, 9_100_000).orderBy("o_orderkey").collect()
    assert [(r.o_orderkey, r.o_orderstatus) for r in got] == [
        (9_000_001, "P"),
        (9_000_002, "P"),
    ]
    assert t.changes(snap - 1, snap).count() == 2
    # a merged read over files that disagree keeps the mergeSchema read
    mixed = read_data_files(spark, [t.visible_files()[0], path], True)
    assert mixed.count() == mixed.filter("o_orderkey > 0").count()


def test_read_evolved_unchanged_around_add_column(spark, tmp_path):
    """read_evolved below and above an ADD COLUMN, and after a MERGE
    that lands files carrying the column, equals the mergeSchema read
    over the same files plus the NULL backfill."""
    from aws_seismic_data_pipeline_spark.sources.table.evolution import (
        read_evolved,
    )

    orders, t = _orders_table(spark, tmp_path, n_files=4)
    old_cols = ["o_orderkey", "o_orderstatus", "o_totalprice"]
    snap_add = t.add_column("o_note", "string")
    below = read_evolved(spark, t.manifest_dir, t.key, as_of=snap_add - 1)
    above = read_evolved(spark, t.manifest_dir, t.key, as_of=snap_add)
    assert below.columns == old_cols
    assert above.columns == old_cols + ["o_note"]
    assert below.count() == above.count() == orders.count()
    assert above.filter(F.col("o_note").isNotNull()).count() == 0

    delta = orders.filter(F.col("o_orderkey") <= 40).select(
        "o_orderkey",
        "o_orderstatus",
        "o_totalprice",
        F.lit("n").alias("o_note"),
    )
    snap_m, _, _ = t.merge(
        delta, ["o_orderstatus", "o_totalprice", "o_note"]
    )
    evolved = read_evolved(spark, t.manifest_dir, t.key, as_of=snap_m)
    merged = spark.read.option("mergeSchema", "true").parquet(
        *t.visible_files(snap_m)
    )
    assert evolved.schema == merged.schema
    assert sorted(evolved.collect()) == sorted(merged.collect())
    assert evolved.filter(F.col("o_note") == "n").count() == delta.count()
    # files of both eras, a pre-ADD file first: the merged read unions
    # the schemas instead of pinning the first footer
    from aws_seismic_data_pipeline_spark.sources.footers import (
        footer_schema,
        read_data_files,
    )

    eras = sorted(
        t.visible_files(snap_m),
        key=lambda f: "o_note" in footer_schema(f).fieldNames(),
    )
    assert "o_note" not in footer_schema(eras[0]).fieldNames()
    assert (
        read_data_files(spark, eras, merge_schema=True).schema
        == spark.read.option("mergeSchema", "true").parquet(*eras).schema
    )
    still_below = read_evolved(
        spark, t.manifest_dir, t.key, as_of=snap_add - 1
    )
    assert still_below.columns == old_cols
    assert sorted(still_below.collect()) == sorted(below.collect())
