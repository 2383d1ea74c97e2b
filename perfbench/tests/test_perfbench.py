"""Self-tests of the benchmark: seeded inputs, counters that repeat at a
seed, and the full DuckDB oracle of the curation release.

Run from the repository root (a few minutes; each traced run starts its
own Spark session):

    python3 -m pytest perfbench/tests -q -p no:cacheprovider
"""

from __future__ import annotations

import json
import os
import re
import subprocess
import sys

import duckdb
import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
sys.path.insert(0, ROOT)

from perfbench import gen  # noqa: E402

#: per-layer metrics that must repeat exactly at a fixed seed: job, task
#: and file counts, and the shuffle bytes of layers whose shuffled rows
#: carry no commit timestamps (a MERGE shuffles manifest rows stamped
#: with the wall clock, so table-layer and whole-run byte totals drift by
#: a few bytes between runs)
EXACT = re.compile(
    r"(jobs|tasks|files_written|requests|change_rows|bytes_copied)$"
    r"|^(sources\.http_fetch|streaming\.cdf_consumer|operators|llm\.\w+)"
    r"\.shuffle_bytes$"
)


def test_generators_repeat_per_seed():
    a, pa_ = gen.curation_corpus(3, 200, 100)
    b, pb = gen.curation_corpus(3, 200, 100)
    c, _ = gen.curation_corpus(4, 200, 100)
    assert pa_ == pb
    for name in a:
        assert a[name].equals(b[name])
        assert not a[name].equals(c[name])
    for name, t in gen.tpch_tables(3, 500).items():
        assert t.equals(gen.tpch_tables(3, 500)[name])
    assert gen.fault_plan(3, 1, 30).equals(gen.fault_plan(3, 1, 30))
    assert not gen.fault_plan(3, 1, 30).equals(gen.fault_plan(3, 2, 30))
    assert gen.seismic_catalog(3, 10, 4).equals(gen.seismic_catalog(3, 10, 4))


def _listed() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return json.load(fh)


def _run(workload: str, seed: int, trace: int) -> dict:
    out = subprocess.run(
        [
            sys.executable,
            os.path.join("perfbench", "run.py"),
            "--workload",
            workload,
            "--seed",
            str(seed),
            "--seconds",
            "10",
            "--trace",
            str(trace),
        ],
        cwd=ROOT,
        capture_output=True,
        text=True,
        timeout=900,
        check=True,
    )
    return json.loads(out.stdout.strip().splitlines()[-1])


@pytest.mark.parametrize(
    "workload", ["seismic_daily", "governed_query", "curation_release"]
)
def test_counters_repeat_at_a_seed(workload):
    a, b = _run(workload, 5, trace=1), _run(workload, 5, trace=1)
    assert a["correct"] and b["correct"]
    assert set(a["metrics"]) == {m["name"] for m in _listed()["per_layer"]}
    exact = [name for name in a["metrics"] if EXACT.search(name)]
    assert "spark.jobs" in exact and "sources.table.files_written" in exact
    for name in exact:
        assert a["metrics"][name]["value"] == b["metrics"][name]["value"], name


def test_untraced_run_prints_the_end_to_end_metrics():
    bench = _listed()
    got = _run(bench["workloads"][0]["name"], 6, trace=0)
    assert got["correct"] and got["failed"] == 0 and got["attempted"] >= 1
    want = {m["name"]: m["unit"] for m in bench["end_to_end"]}
    assert {k: v["unit"] for k, v in got["metrics"].items()} == want
    assert all(v["value"] > 0 for v in got["metrics"].values())


def test_release_matches_duckdb_oracle(tmp_path, monkeypatch):
    from perfbench.harness import session_settings, start_session, stop_session

    from aws_seismic_data_pipeline_spark.llm.curation import (
        _release_oracle,
        curate_release_pipeline,
    )

    sf_dir = str(tmp_path / "sf")
    corpus, _ = gen.curation_corpus(9, 400, 50)
    gen.write_tables(corpus, sf_dir)
    settings = session_settings(ROOT, str(tmp_path))
    for key, value in settings.items():
        monkeypatch.setenv(key, value)
    spark = start_session(settings)
    try:
        got = sorted(tuple(r) for r in curate_release_pipeline(spark, sf_dir).collect())
    finally:
        stop_session(spark)
    con = duckdb.connect()
    path = os.path.join(sf_dir, "documents.parquet")
    con.execute(f"CREATE VIEW documents AS SELECT * FROM read_parquet('{path}')")
    want = sorted(con.execute(_release_oracle()).fetchall())
    con.close()
    assert got == want
