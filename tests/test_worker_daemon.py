"""Python workers fork from the preloaded daemon (``_worker_daemon``)
and import the engine from its checkout whatever the JVM's cwd."""

from __future__ import annotations

import os
import subprocess
import sys
import textwrap

import pandas as pd

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
DAEMON = "aws_seismic_data_pipeline_spark._worker_daemon"


def test_workers_fork_from_preloaded_daemon(spark):
    def report(batches):
        import zipimport

        main = sys.modules["__main__"]
        preloaded = getattr(main, "PRELOADED", frozenset())
        zip_finders = sum(
            isinstance(f, zipimport.zipimporter)
            for f in sys.path_importer_cache.values()
        )
        for _ in batches:
            pass
        yield pd.DataFrame({
            "daemon": [main.__spec__.name if main.__spec__ else ""],
            "preloaded": [sorted(preloaded)],
            "zip_finders": [zip_finders],
        })

    (row,) = (
        spark.range(10).coalesce(1)
        .mapInPandas(
            report,
            "daemon string, preloaded array<string>, zip_finders long",
        )
        .collect()
    )
    assert row.daemon == DAEMON
    preloaded = set(row.preloaded)
    assert {
        "numpy", "pandas", "pyarrow", "pyspark.worker",
        "pyspark.sql.pandas.serializers",
    } <= preloaded
    # Only the package itself (``-m`` imports it); no engine module.
    engine = {m for m in preloaded if m.split(".")[0] == DAEMON.split(".")[0]}
    assert engine == {"aws_seismic_data_pipeline_spark"}
    # No cached zipimporter reached the task, so the worker's
    # importlib.invalidate_caches() re-read no pyspark.zip directory.
    assert row.zip_finders == 0


def test_workers_import_engine_from_any_cwd(tmp_path):
    script = textwrap.dedent(f"""
        import sys
        sys.path.insert(0, {REPO!r})
        from aws_seismic_data_pipeline_spark.session import get_spark
        from aws_seismic_data_pipeline_spark.sources.http_fetch import fetch_urls
        spark = get_spark(app_name="cwd-free-workers", cores=2)
        urls = ["http://h0/data?ok=1", "http://h0/data?status=404"]
        req = spark.createDataFrame([("h0", u) for u in urls], "host string, url string")
        rows = fetch_urls(req).collect()
        print("RESULT", sorted((r.url, r.is_placeholder) for r in rows))
        spark.stop()
    """)
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    env.setdefault("SPARK_DRIVER_MEMORY", "1g")
    out = subprocess.run(
        [sys.executable, "-c", script], cwd=str(tmp_path), env=env,
        capture_output=True, text=True, timeout=600,
    )
    assert out.returncode == 0, out.stderr[-4000:]
    assert "RESULT [('http://h0/data?ok=1', False), ('http://h0/data?status=404', True)]" in out.stdout
