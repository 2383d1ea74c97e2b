"""Source-level scale-hygiene gate: pins the anti-pattern audit the
round-7 verdict performed by hand (no row-at-a-time Python UDFs outside
the mechanism witness, every driver-side collect on a bounded frame,
every cartesian join on a driver-scale frame) as a REGRESSION TEST — a
new operator that quietly adds a corpus-scale collect or a hot-path
@udf fails CI instead of surviving until the next manual audit.

The allowlists are intentionally explicit: adding a file here is a
reviewed decision with a justification, not an accident."""

from __future__ import annotations

import ast
import os
import re

PKG = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    "aws_seismic_data_pipeline_spark",
)


def _py_files():
    for root, _dirs, files in os.walk(PKG):
        for f in files:
            if f.endswith(".py"):
                yield os.path.join(root, f)


def _rel(p: str) -> str:
    return os.path.relpath(p, PKG).replace(os.sep, "/")


#: files allowed to contain driver-side .collect() — every site audited
#: bounded (query-vector sets of 10-50 rows, <= 256 x k k-means samples,
#: 1-row coverage aggs and the 1-row count-min sketch blob, dim tables,
#: metadata-scale manifest/path frames, per-token bucket lookups, the
#: 2-value star-contraction round fingerprint in llm/dedup.py, and
#: distributed_ntile's <= |shuffle partitions| per-partition count
#: scalars in operators/window_ops.py)
COLLECT_ALLOWED = {
    "operators/window_ops.py",
    "llm/dedup.py",
    "llm/ivf.py",
    "llm/pq.py",
    "llm/vector.py",  # k-means training sample: <= 256 x k rows
    "operators/aggregates.py",
    "llm/search.py",
    "llm/similarity.py",
    "plans/validate.py",
    "sources/readers.py",
    "sources/footers.py",  # r11 split: footer-stats listing frames
    "sources/table/constraints.py",  # 1-row gate agg
    "sources/table/cdf.py",  # delete-candidate path frames + key type
    "sources/table/sqlface.py",  # fixture delete keys + 1-row commit clock
    "sources/table/manifest.py",  # metadata-scale path/stats frames
    "sources/table/deletes.py",
    "sources/table/maintenance.py",
    "sources/table/sketches.py",
    "sources/table/facade.py",
    "streaming/jobs.py",
    "streaming/scheduled.py",
    # r15: group-cardinality-scale window deltas (the 100 TB shape
    # MERGEs the delta instead — module docstring)
    "streaming/cdf_consumer.py",
}

#: files allowed to register row-at-a-time Python UDFs: exactly the
#: UDF-mechanism witness module
PYTHON_UDF_ALLOWED = {"functions/udfs.py"}

#: files allowed to call crossJoin — each site joins a 1-row aggregate
#: or driver-scale grid, never two data-scale frames
CROSSJOIN_ALLOWED = {
    "plans/ingest.py",
    "plans/validate.py",
    "operators/joins.py",
    "operators/aggregates.py",  # 1-row global-exact frame (KMV merge)
    "operators/analytics.py",
    "operators/graph.py",  # 1-row node-count frame (broadcast, per sweep)
    "llm/curation.py",  # 1-row corpus-sizes frame (DSIR normalizers)
    "llm/dedup.py",
    "llm/text.py",
    "llm/similarity.py",
    "llm/vector.py",  # 1-row aggregate-recall anchor (property surface)
    "operators/window_ops.py",  # 1-row global-total anchor (rank_global)
    "sources/table/sketches.py",  # 1-row exact/estimate anchors (sketch NDV)
    "plans/migrate.py",  # 1-row destination-checksum anchor
    "sources/http_fetch.py",
}


def test_collect_sites_are_allowlisted():
    found = {
        _rel(p)
        for p in _py_files()
        if re.search(r"\.collect\(\)", open(p).read())
    }
    assert found <= COLLECT_ALLOWED, (
        "new .collect() site(s) — audit that the collected frame is "
        f"bounded, then extend the allowlist: {sorted(found - COLLECT_ALLOWED)}"
    )


def test_row_at_a_time_udfs_only_in_witness():
    found = {
        _rel(p)
        for p in _py_files()
        if re.search(r"(^|\W)@udf\b|\bF\.udf\(", open(p).read())
    }
    assert found <= PYTHON_UDF_ALLOWED, (
        "row-at-a-time Python UDF outside the mechanism witness — "
        "hot paths must use built-ins or Arrow-batched forms: "
        f"{sorted(found - PYTHON_UDF_ALLOWED)}"
    )


def test_crossjoin_sites_are_allowlisted():
    found = {
        _rel(p)
        for p in _py_files()
        if "crossJoin" in open(p).read()
    }
    assert found <= CROSSJOIN_ALLOWED, (
        "new crossJoin site(s) — verify one side is 1-row/driver-scale, "
        f"then extend the allowlist: {sorted(found - CROSSJOIN_ALLOWED)}"
    )


#: files allowed to touch the RDD API — catalog.py reads
#: df.rdd.getNumPartitions() for split-count introspection only (no
#: RDD computation ever runs)
RDD_ALLOWED = {"catalog.py"}


def test_no_rdd_api_in_operators():
    """The DataFrame-first mandate: no .rdd / sparkContext.parallelize
    escapes in operator code (mapInPandas/mapInArrow are the sanctioned
    below-DataFrame paths)."""
    offenders = []
    for p in _py_files():
        src = open(p).read()
        if re.search(r"\.rdd\b|\bparallelize\(", src):
            offenders.append(_rel(p))
    assert set(offenders) <= RDD_ALLOWED, offenders


def test_no_collect_into_loop_over_data():
    """Heuristic tripwire for the worst anti-pattern — iterating a
    collected corpus-scale frame: a `for ... in <x>.collect()` is only
    tolerated in files already on the bounded-collect allowlist."""
    for p in _py_files():
        rel = _rel(p)
        src = open(p).read()
        if re.search(r"for\s+\w+\s+in\s+[\w.]+\.collect\(\)", src):
            assert rel in COLLECT_ALLOWED, rel


def _sql_strings(tree):
    """Every string literal of a module, f-strings with their
    placeholders rendered as ``{}``."""
    for node in ast.walk(tree):
        if isinstance(node, ast.Constant) and isinstance(node.value, str):
            yield node.lineno, node.value
        elif isinstance(node, ast.JoinedStr):
            yield node.lineno, "".join(
                v.value if isinstance(v, ast.Constant) else "{}"
                for v in node.values
            )


def _lambda_bodies(sql: str):
    """The bodies of the ``x -> body`` lambdas in a SQL string: from
    the arrow to the comma or closing parenthesis that ends the
    lambda's argument slot."""
    for m in re.finditer(r"->", sql):
        depth, end = 0, len(sql)
        for j in range(m.end(), len(sql)):
            c = sql[j]
            if c == "(":
                depth += 1
            elif c == ")":
                depth -= 1
            if depth < 0 or (c == "," and depth == 0):
                end = j
                break
        yield sql[m.end() : end]


def test_no_split_inside_sql_lambdas():
    """A Spark ``split(text, ...)`` written inside a higher-order
    function's lambda is re-evaluated per element — re-splitting the
    whole text for every index is O(words²) per document. Project the
    split array as a column and reference it in the lambda instead.
    (DuckDB oracle SQL spells it ``string_split`` and is not matched.)"""
    offenders = set()
    for p in _py_files():
        tree = ast.parse(open(p).read())
        for lineno, sql in _sql_strings(tree):
            if any(
                re.search(r"(?<![\w])split\(\s*text\b", body)
                for body in _lambda_bodies(sql)
            ):
                offenders.add(f"{_rel(p)}:{lineno}")
    assert not offenders, sorted(offenders)


#: sources/table/ reads that are not table DATA files, so they never
#: go through ``footers.read_data_files`` — besides the manifest
#: reads, which open ``_mdd(...)`` and are recognised by that call
NON_DATA_READS = {
    # sketch / bloom manifests: metadata tables of their own
    ("sources/table/sketches.py", "sketch_merged_ndv"),
    ("sources/table/sketches.py", "bloom_pruned_scan"),
    # the stats-manifest introspection demo reads the manifest root
    ("sources/table/manifest.py", "scan_manifest_stats"),
    # row count of the rewritten manifest before the expire swap
    ("sources/table/maintenance.py", "_expire_rewrite_spark"),
    # orphans are files the manifest does NOT govern; read with
    # basePath so their partition values survive
    ("sources/table/maintenance.py", "vacuum_orphans_report"),
}


def _parquet_reads(tree):
    """(enclosing function, first argument) of every
    ``<...>.read[Stream]...parquet(...)`` call in a module."""

    def chain(node):
        names = []
        while isinstance(node, (ast.Attribute, ast.Call)):
            if isinstance(node, ast.Attribute):
                names.append(node.attr)
                node = node.value
            else:
                node = node.func
        return names

    out = []

    def visit(node, func):
        if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)):
            func = node.name
        if (
            isinstance(node, ast.Call)
            and isinstance(node.func, ast.Attribute)
            and node.func.attr == "parquet"
            and {"read", "readStream"} & set(chain(node.func.value))
        ):
            out.append((func, node.args[0] if node.args else None))
        for child in ast.iter_child_nodes(node):
            visit(child, func)

    visit(tree, None)
    return out


def test_table_data_reads_pin_their_schema():
    """Every read of governed-table data files goes through
    ``footers.read_data_files``, which pins the data schema from the
    files' footers instead of running Spark's schema inference per
    read. Manifest reads (``_mdd(...)``) and the audited non-data
    reads in NON_DATA_READS are exempt."""
    offenders = []
    for p in _py_files():
        rel = _rel(p)
        if not (
            rel.startswith("sources/table/")
            or rel == "streaming/cdf_consumer.py"
        ):
            continue
        for func, arg in _parquet_reads(ast.parse(open(p).read())):
            manifest_read = (
                isinstance(arg, ast.Call)
                and isinstance(arg.func, ast.Name)
                and arg.func.id == "_mdd"
            )
            if not manifest_read and (rel, func) not in NON_DATA_READS:
                offenders.append(f"{rel}:{func}")
    assert not offenders, (
        "bare data-file parquet read — use footers.read_data_files, or "
        f"audit and extend NON_DATA_READS: {sorted(set(offenders))}"
    )


#: (module, function) pairs allowed to read the stats manifest through
#: Spark (``spark.read.parquet(_mdd(...))``): the Spark placement of
#: ``localman.answer``, which runs every file-scale question above the
#: localman gate, and expire's rewrite above it, which scales with the
#: table. A commit-scale question (expire floor, commit clocks, live
#: delete keys, schema history, constraints, incremental window, CDF
#: inventory) reads through ``localman.commit_rows``, and a file-scale
#: one is a pandas function passed to ``localman.answer``, so a new
#: Spark manifest read fails here until someone audits its scale.
SPARK_MANIFEST_READS = {
    ("sources/table/localman.py", "_on_cluster"),
    ("sources/table/maintenance.py", "_expire_rewrite_spark"),
}


def test_spark_manifest_reads_are_allowlisted():
    found = set()
    for p in _py_files():
        for func, arg in _parquet_reads(ast.parse(open(p).read())):
            if (
                isinstance(arg, ast.Call)
                and isinstance(arg.func, ast.Name)
                and arg.func.id == "_mdd"
            ):
                found.add((_rel(p), func))
    assert found <= SPARK_MANIFEST_READS, (
        "new Spark read of the stats manifest — answer a commit-scale "
        "question from localman.commit_rows, or audit the site and "
        f"extend SPARK_MANIFEST_READS: {sorted(found - SPARK_MANIFEST_READS)}"
    )
    assert SPARK_MANIFEST_READS <= found, (
        "allowlisted Spark manifest read no longer exists — drop it: "
        f"{sorted(SPARK_MANIFEST_READS - found)}"
    )


def _spark_manifest_writes(tree):
    """(enclosing function) of every ``<...>.write...parquet(target)``
    call whose target is a manifest: ``_mdd(...)``, a name containing
    "manifest", or a local name assigned from an expression that
    mentions either."""

    def mentions_manifest(node):
        return any(
            isinstance(n, ast.Name) and ("manifest" in n.id or n.id == "_mdd")
            for n in ast.walk(node)
        )

    out = []
    for fn in ast.walk(tree):
        if not isinstance(fn, (ast.FunctionDef, ast.AsyncFunctionDef)):
            continue
        assigned = {}
        for node in ast.walk(fn):
            if isinstance(node, ast.Assign):
                for t in node.targets:
                    if isinstance(t, ast.Name):
                        assigned.setdefault(t.id, []).append(node.value)
        for node in ast.walk(fn):
            if not (
                isinstance(node, ast.Call)
                and isinstance(node.func, ast.Attribute)
                and node.func.attr == "parquet"
                and node.args
                and "write" in ast.unparse(node.func.value)
            ):
                continue
            target = node.args[0]
            sources = [target]
            if isinstance(target, ast.Name):
                sources += assigned.get(target.id, [])
            if any(mentions_manifest(src) for src in sources):
                out.append(fn.name)
    return out


#: (module, function) pairs allowed to write a stats manifest through
#: Spark. Every other manifest commit is composed as pandas rows and
#: published as one file by ``localman.write_rows``. Only the writers
#: whose rows scale with the TABLE stay distributed: the bulk build
#: over more than ``footers._LOCAL_COMMIT_MAX`` files and expire's
#: rewrite above the localman gate.
SPARK_MANIFEST_WRITES = {
    ("sources/table/manifest.py", "write_stats_manifest"),
    ("sources/table/maintenance.py", "_expire_rewrite_spark"),
}


def test_spark_manifest_writes_are_allowlisted():
    found = set()
    for p in _py_files():
        for func in _spark_manifest_writes(ast.parse(open(p).read())):
            found.add((_rel(p), func))
    assert found <= SPARK_MANIFEST_WRITES, (
        "new Spark write into a manifest — commit pandas rows through "
        "localman.write_rows (manifest.commit_manifest_rows), or audit "
        "the site and extend SPARK_MANIFEST_WRITES: "
        f"{sorted(found - SPARK_MANIFEST_WRITES)}"
    )
    assert SPARK_MANIFEST_WRITES <= found, (
        "allowlisted Spark manifest write no longer exists — drop it: "
        f"{sorted(SPARK_MANIFEST_WRITES - found)}"
    )


def _gate_branches(tree):
    """Line numbers of every ``x is None`` / ``x is not None`` test on a
    manifest frame: a name bound from ``localman.load(...)``,
    ``localman.frame(...)`` or named ``lman``."""
    frames = {"lman"}
    for node in ast.walk(tree):
        if (
            isinstance(node, ast.Assign)
            and isinstance(node.value, ast.Call)
            and ast.unparse(node.value.func)
            in ("localman.load", "localman.frame")
        ):
            frames |= {t.id for t in node.targets if isinstance(t, ast.Name)}
    return [
        node.lineno
        for node in ast.walk(tree)
        if isinstance(node, ast.Compare)
        and isinstance(node.left, ast.Name)
        and node.left.id in frames
        and isinstance(node.ops[0], (ast.Is, ast.IsNot))
        and isinstance(node.comparators[0], ast.Constant)
        and node.comparators[0].value is None
    ]


def test_no_manifest_gate_branch_outside_localman():
    """The localman gate is decided in ONE place (``localman.placed``):
    a verb that tests its manifest frame against None is growing a
    driver/Spark twin again — pass the question to
    ``localman.answer`` instead."""
    offenders = []
    for p in _py_files():
        rel = _rel(p)
        if rel == "sources/table/localman.py":
            continue
        for lineno in _gate_branches(ast.parse(open(p).read())):
            offenders.append(f"{rel}:{lineno}")
    assert not offenders, offenders


def test_input_file_decoder_is_single():
    """``input_file_name()`` arrives as a percent-encoded URI, and the
    one decoder to the plain path a manifest records is
    ``footers._decode_input_file``. A hand-rolled second copy of it
    elsewhere fails here: import the decoder instead."""
    found = {
        _rel(p)
        for p in _py_files()
        if re.search(r"regexp_replace\(\s*F\.input_file_name\(", open(p).read())
    }
    assert found == {"sources/footers.py"}, sorted(found)


#: the optimistic-commit protocol's primitives: only
#: ``commit.Transaction`` (and its retry loop) may call them
CLAIM_PRIMITIVES = {"claim_commit", "verify_claim", "release_claim"}


def test_commit_protocol_lives_in_transaction():
    """Claim, lease check and release belong to ``commit.Transaction``.
    A verb that calls one itself is growing a second copy of the
    protocol and of its abort path; run the verb in a transaction
    instead. Imports are not calls."""
    offenders = []
    for p in _py_files():
        rel = _rel(p)
        if rel == "sources/table/commit.py":
            continue
        for node in ast.walk(ast.parse(open(p).read())):
            if not isinstance(node, ast.Call):
                continue
            func = node.func
            name = getattr(func, "id", None) or getattr(func, "attr", None)
            if name in CLAIM_PRIMITIVES:
                offenders.append(f"{rel}:{node.lineno} {name}")
    assert not offenders, offenders


#: the read verbs that load a manifest frame themselves; every
#: committing verb plans from its transaction's frame (``txn.man``)
FRAME_LOADERS = {
    ("sources/table/cdf.py", "signed_rows"),
    ("sources/table/deletes.py", "read_with_deletes"),
    ("sources/table/evolution.py", "read_evolved"),
}


def test_manifest_frames_come_from_the_transaction():
    """A committing verb plans from the frame its ``commit.Transaction``
    loaded; a ``localman.load`` of its own reads the manifest again,
    possibly at a newer snapshot than the one its claim follows. Only
    ``localman``, ``commit`` and the listed read verbs load a frame
    (keyed by top-level function; module-level code is
    ``<module>``)."""
    found = set()
    for p in _py_files():
        rel = _rel(p)
        if rel in ("sources/table/localman.py", "sources/table/commit.py"):
            continue
        for top in ast.parse(open(p).read()).body:
            name = getattr(top, "name", "<module>")
            for node in ast.walk(top):
                if (
                    isinstance(node, ast.Call)
                    and ast.unparse(node.func) == "localman.load"
                ):
                    found.add((rel, name))
    assert found == FRAME_LOADERS, sorted(found ^ FRAME_LOADERS)


def test_no_module_imports_the_verbs_aggregator():
    """The facade and the tests import each verb from its defining
    module; the flat ``_verbs`` re-export module is gone and must not
    come back."""
    root = os.path.dirname(PKG)
    sources = list(_py_files()) + [
        os.path.join(d, f)
        for sub in ("tests", "scripts")
        for d, _dirs, files in os.walk(os.path.join(root, sub))
        for f in files
        if f.endswith(".py")
    ]
    offenders = []
    for p in sources:
        for node in ast.walk(ast.parse(open(p).read())):
            names = []
            if isinstance(node, ast.Import):
                names = [a.name for a in node.names]
            elif isinstance(node, ast.ImportFrom):
                names = [node.module or ""] + [a.name for a in node.names]
            if any(n.split(".")[-1] == "_verbs" for n in names):
                offenders.append(f"{os.path.relpath(p, root)}:{node.lineno}")
    assert not offenders, offenders
