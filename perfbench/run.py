"""Run one benchmark workload and print its metrics as one JSON line.

Usage (from the repository root):

    python3 perfbench/run.py --workload seismic_daily --seed 1 --seconds 10 --trace 0

The run starts a ``local[N]`` Spark session pinned to the machine,
generates the workload's inputs from ``--seed`` several times, runs one
warm-up pass (``setup_s`` = session start + median generation time +
warm-up), then runs the workload's operation in a closed loop a fixed
number of times (the workload's ``n_ops``, sized so that the loop lasts
about ``--seconds`` on a 4-core machine), and checks the outputs. With
``--trace 0`` the result holds the end-to-end metrics; with ``--trace 1``
it holds the per-layer metrics, and the spans are written to
``.bench_out/``. The line before the result gives the sample count of
each median. All generated data lives under ``.bench_scratch/`` and is
removed when the run ends.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PACKAGE = "aws_seismic_data_pipeline_spark"
SETUP_REPS = 3


class Ctx:
    """What a workload gets: the session, the tracer and the seed."""

    def __init__(self, spark, tracer, seed: int, scratch: str) -> None:
        self.spark = spark
        self.tracer = tracer
        self.seed = seed
        self.scratch = scratch

    def span(self, name: str, **attrs):
        return self.tracer.span(name, **attrs)


def _layer_metrics(tracer, ops: list[dict]) -> dict[str, float]:
    """Per-layer metrics over the spans under the given op spans."""
    keep = {op["id"] for op in ops}
    for rec in tracer.spans:  # parents precede children
        if rec["parent"] in keep:
            keep.add(rec["id"])
    t = tracer.layer_totals(
        lambda rec: rec["name"]
        if rec["id"] in keep and rec["name"] != "op"
        else None
    )

    def g(layer: str, key: str) -> float:
        return t.get(layer, {}).get(key, 0)

    def ratio(a: float, b: float) -> float:
        return a / b if b else 0.0

    fetch, commit = "sources.http_fetch", "sources.table.commit"
    scan, exe = "sources.table.scan", "sources.table.exec"
    cdf, mig = "streaming.cdf_consumer", "plans.migrate"
    m = {
        "plans.ingest.busy_s": g("plans.ingest", "busy_s"),
        "plans.ingest.requests": g("plans.ingest", "n_requests"),
        f"{fetch}.busy_s": g(fetch, "busy_s"),
        f"{fetch}.tasks": g(fetch, "tasks"),
        f"{fetch}.python_tasks": g(fetch, "python_tasks"),
        f"{fetch}.shuffle_bytes": g(fetch, "shuffle_write_bytes"),
        f"{fetch}.ok_ratio": ratio(g(fetch, "n_ok"), g(fetch, "n_attempts")),
        "sources.table.commit_s": g(commit, "busy_s"),
        "sources.table.commit_driver_s": g(commit, "busy_s")
        - g(commit, "job_busy_s"),
        "sources.table.commit_jobs": g(commit, "jobs"),
        "sources.table.files_written": g(commit, "n_files_written"),
        "sources.table.bytes_written": g(commit, "n_bytes_written"),
        "sources.table.manifest_bytes": g(commit, "n_manifest_bytes"),
        "sources.table.rewrite_ratio": ratio(
            g(commit, "n_rows_written"), g(commit, "n_delta_rows")
        ),
        "sources.table.plan_s": g(scan, "busy_s"),
        "sources.table.exec_s": g(exe, "busy_s"),
        "sources.table.scan_jobs": g(scan, "jobs") + g(exe, "jobs"),
        "sources.table.input_bytes": g(scan, "input_bytes") + g(exe, "input_bytes"),
        "sources.table.files_read_ratio": ratio(
            g(scan, "n_files_read"), g(scan, "n_files_visible")
        ),
        f"{cdf}.busy_s": g(cdf, "busy_s"),
        f"{cdf}.jobs": g(cdf, "jobs"),
        f"{cdf}.shuffle_bytes": g(cdf, "shuffle_write_bytes"),
        f"{cdf}.change_rows": g(cdf, "n_change_rows"),
        f"{mig}.busy_s": g(mig, "busy_s"),
        f"{mig}.jobs": g(mig, "jobs"),
        f"{mig}.bytes_copied": g(mig, "n_bytes_copied"),
        "operators.busy_s": g("operators", "busy_s"),
        "operators.jobs": g("operators", "jobs"),
        "operators.shuffle_bytes": g("operators", "shuffle_write_bytes"),
        "llm.curation.busy_s": g("llm.curation", "busy_s"),
        "llm.curation.jobs": g("llm.curation", "jobs"),
        "llm.curation.tasks": g("llm.curation", "tasks"),
        "llm.curation.shuffle_bytes": g("llm.curation", "shuffle_write_bytes"),
        "llm.dedup.busy_s": g("llm.dedup", "busy_s"),
        "llm.dedup.python_tasks": g("llm.dedup", "python_tasks"),
        "llm.dedup.shuffle_bytes": g("llm.dedup", "shuffle_write_bytes"),
        "llm.ivf.busy_s": g("llm.ivf", "busy_s"),
        "llm.ivf.python_tasks": g("llm.ivf", "python_tasks"),
        # set by the workloads that write a table
        "sources.table.write_amp": 0.0,
        "sources.table.space_amp": 0.0,
    }
    totals: dict[str, float] = {}
    for op in ops:
        for k, v in op["counters"].items():
            totals[k] = totals.get(k, 0) + v
    m.update(
        {
            "spark.jobs": totals.get("jobs", 0),
            "spark.tasks": totals.get("tasks", 0),
            "spark.python_tasks": totals.get("python_tasks", 0),
            "spark.shuffle_bytes": totals.get("shuffle_write_bytes", 0),
            "spark.spill_bytes": totals.get("spill_bytes", 0),
            "spark.executor_cpu_s": totals.get("executor_cpu_s", 0),
        }
    )
    return m


def _unit(name: str) -> str:
    leaf = name.rsplit(".", 1)[-1]
    if leaf.endswith("_s"):
        return "s"
    if leaf.endswith("_mb"):
        return "MB"
    if "bytes" in leaf:
        return "bytes"
    if leaf.endswith(("ratio", "amp")):
        return "ratio"
    return "count"


def run(workload: str, seed: int, trace: bool, scratch: str) -> dict:
    from perfbench.harness import (
        Tracer,
        peak_rss_mb,
        session_settings,
        start_session,
        stop_session,
    )
    from perfbench.workloads import load

    settings = session_settings(ROOT, scratch)
    print("settings " + json.dumps(settings), flush=True)
    t0 = time.perf_counter()
    spark = start_session(settings)
    spark.range(1).count()
    session_s = time.perf_counter() - t0
    try:
        tracer = Tracer(spark, trace, f"{workload}-{seed}-{os.getpid()}")
        ctx = Ctx(spark, tracer, seed, scratch)
        cls = load(workload)
        gen_times = []
        work = os.path.join(scratch, "work")
        for _ in range(SETUP_REPS):
            shutil.rmtree(work, ignore_errors=True)
            wl = cls()
            t = time.perf_counter()
            wl.generate(ctx, work)
            gen_times.append(time.perf_counter() - t)
        t = time.perf_counter()
        with ctx.span("setup"):
            wl.warm_up(ctx)
        warm_s = time.perf_counter() - t
        setup_s = session_s + statistics.median(gen_times) + warm_s

        op_times: list[float] = []
        n_items = n_ops = failed = 0
        for _ in range(wl.n_ops):
            n_ops += 1
            t = time.perf_counter()
            try:
                n_items += wl.op(ctx)
            except Exception:  # a failed op ends the loop and is reported
                traceback.print_exc()
                failed += 1
                break
            op_times.append(time.perf_counter() - t)
        checks: list[tuple[str, bool]] = []
        if not failed:
            try:
                checks = wl.check(ctx)
            except Exception:
                traceback.print_exc()
                checks = [("check_raised", False)]
        for name, ok in checks:
            if not ok:
                print(f"check failed: {name}", file=sys.stderr)
        failed += sum(1 for _, ok in checks if not ok)
        attempted = n_ops + len(checks)

        if trace:
            ops = [s for s in tracer.spans if s["name"] == "op" and s["parent"] is None]
            values = _layer_metrics(tracer, ops)
            values.update(wl.extra_layer_metrics(ctx))
            values["spark.peak_rss_mb"] = peak_rss_mb()
            values["trace.overhead_s"] = tracer.overhead_s
            values["trace.op_p50_s"] = statistics.median(op_times) if op_times else 0.0
            metrics = {k: {"value": v, "unit": _unit(k)} for k, v in values.items()}
        else:
            metrics = {
                "setup_s": {"value": setup_s, "unit": "s"},
                "op_p50_s": {
                    "value": statistics.median(op_times) if op_times else 0.0,
                    "unit": "s",
                },
                "items_per_s": {
                    "value": n_items / sum(op_times) if op_times else 0.0,
                    "unit": "1/s",
                },
            }
        tracer.dump(
            os.path.join(
                ROOT, ".bench_out", f"spans-{workload}-{seed}-trace{int(trace)}.jsonl"
            )
        )
        # setup_s takes the median of the generation passes only
        samples = {"setup_s.generate": SETUP_REPS, "op_p50_s": len(op_times)}
        print("samples " + json.dumps(samples), flush=True)
        print(
            f"{workload}: {n_ops} ops, {n_items} {wl.items}, "
            f"op times {[round(x, 3) for x in op_times]}, "
            f"generate {[round(x, 2) for x in gen_times]}, warm-up {warm_s:.2f}s, "
            f"session {session_s:.2f}s",
            file=sys.stderr,
        )
        return {
            "correct": failed == 0,
            "attempted": attempted,
            "failed": failed,
            "metrics": metrics,
        }
    finally:
        stop_session(spark)


def main(argv: list[str]) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    # the op count is fixed per workload and sized to this length
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, PACKAGE)):
        print(f"{PACKAGE} not found under {ROOT}", file=sys.stderr)
        return 2
    sys.path[:0] = [ROOT]
    from perfbench.workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"unknown workload {args.workload!r}", file=sys.stderr)
        return 2
    scratch = os.path.join(
        ROOT, ".bench_scratch", f"{args.workload}-{args.seed}-{os.getpid()}"
    )
    try:
        result = run(args.workload, args.seed, bool(args.trace), scratch)
    finally:
        shutil.rmtree(scratch, ignore_errors=True)
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
