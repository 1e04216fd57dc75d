"""Benchmark driver for the admob_data_pipeline_spark package.

    python3 perfbench/run.py --workload daily_etl --seed 1 --seconds 20 --trace 0

Run from the repository root. It starts the package's Spark session on
``local[nproc]``, generates the workload's inputs from ``--seed``, runs
operations in a closed loop (one client) for ``--seconds`` seconds,
checks every operation's output, and prints one JSON object as the last
line of standard output::

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With ``--trace 0`` the metrics are the end-to-end ones of
``BENCHMARK.json``; with ``--trace 1`` the per-layer ones, from spans
recorded around the package's public functions on every operation of the
timed window. A detail
line before it carries sample counts, the tail percentile used, the
failed ratio and the errors seen. All files go to ``.perfbench_work/``
in the working directory and are removed at exit, except the traced
run's spans (``.perfbench_work/spans-<workload>-<seed>.jsonl``).
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

END_TO_END = {
    "setup_s": "s",
    "peak_rss_mb": "MB",
    "op_s.p50": "s",
    "op_s.tail": "s",
    "ops_per_s": "1/s",
    "rows_per_s": "rows/s",
}

# span name -> per-layer metric (mean self time per traced operation)
SPAN_METRICS = {
    "api.request": "api.request_s",
    "http_source.fetch": "http_source.fetch_s",
    "chunks.flatten": "chunks.flatten_s",
    "pipelines.export": "pipelines.export_s",
    "pipelines.csv_export": "pipelines.csv_export_s",
    "pipelines.alert": "pipelines.alert_s",
    "writers.overwrite": "writers.overwrite_s",
    "writers.jsonl": "writers.jsonl_s",
    "writers.csv": "writers.csv_s",
    "writers.nonempty_probe": "writers.nonempty_probe_s",
    "slack.post": "slack.post_s",
    "alerts.score": "alerts.score_s",
    "report_spec.compile": "report_spec.compile_s",
    "query.exec": "query.exec_s",
    "text.filter": "text.filter_s",
    "dedup.lsh": "dedup.lsh_s",
    "op": "trace.unattributed_s",
}

# per-layer counts, per traced operation among the first ``count_ops``
COUNT_METRICS = (
    "api.requests",
    "api.response_bytes",
    "http_source.landed_bytes",
    "chunks.rows_in",
    "chunks.rows_out",
    "writers.files_written",
    "writers.bytes_written",
    "slack.posts",
    "slack.failed",
    "alerts.scored_pairs",
    "alerts.fired",
    "query.rows_out",
    "spark.jobs_per_op",
    "spark.stages_per_op",
    "spark.tasks_per_op",
)

# whole-run per-layer values reported by the workloads
RUN_METRICS = (
    "writers.stored_bytes_per_row",
    "alerts.recall",
    "text.kept_ratio",
    "dedup.pairs_found",
    "dedup.recall",
)

OTHER_LAYER = {
    "session.start_s": "s",
    "trace.op_s.p50": "s",
    "trace.overhead_pct": "%",
    "trace.self_time_coverage": "ratio",
}


def layer_units() -> dict[str, str]:
    units = {m: "s" for m in SPAN_METRICS.values()}
    units.update({m: "count" for m in COUNT_METRICS})
    units.update(
        {
            "api.response_bytes": "B",
            "http_source.landed_bytes": "B",
            "writers.bytes_written": "B",
            "writers.stored_bytes_per_row": "B/row",
            "alerts.recall": "ratio",
            "text.kept_ratio": "ratio",
            "dedup.recall": "ratio",
            "dedup.pairs_found": "count",
        }
    )
    units.update(OTHER_LAYER)
    return units


def parse_args(argv=None):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


class Loop:
    """Runs operations one at a time (closed loop, one client) and keeps
    the per-operation record: (index, seconds, ok, traced, items,
    in_window). Only operations that succeeded are timing samples."""

    JOB_KEYS = ("spark.jobs_per_op", "spark.stages_per_op", "spark.tasks_per_op")

    def __init__(self, wl, sc, tracer, name: str):
        self.wl, self.sc, self.tracer, self.name = wl, sc, tracer, name
        self.records: list[tuple] = []
        self.problems: list[str] = []
        self.errors: list[str] = []
        self.unexpected = 0
        self.jobs = dict.fromkeys(self.JOB_KEYS, 0)
        self.window_traced = 0

    def step(self, i: int, op, traced: bool, counted: bool, in_window: bool) -> None:
        from tracing import spark_job_counts

        wl, tracer = self.wl, self.tracer
        group = f"perfbench-op-{i}"
        self.sc.setJobGroup(group, f"{self.name} operation {i}")
        if traced:
            wl.before_traced()
            tracer.op = i
            tracer.active = True
        since = time.time()
        error = result = None
        t_op = time.perf_counter()
        try:
            if traced:
                with tracer.span("op"):
                    result = wl.run(op)
            else:
                result = wl.run(op)
        except Exception as e:  # noqa: BLE001 - a failed operation is counted
            error = f"{type(e).__name__}: {e}"
        seconds = time.perf_counter() - t_op
        if tracer is not None:
            tracer.active = False
        self.sc.setJobGroup("perfbench-check", "output checks and trace counts")
        if error is not None:
            self.errors.append(f"op {i} {op!r}: {_java_cause(error) or error[:200]}")
            if not wl.expected_failure(op, error):
                self.unexpected += 1
        op_problems = wl.after(op, result, error)
        self.problems.extend(op_problems)
        if traced and counted:
            self.window_traced += 1
            for k, v in zip(self.JOB_KEYS, spark_job_counts(self.sc, group)):
                self.jobs[k] += v
            wl.after_traced(op, result, error, since)
        elif traced:
            tracer.written_paths.clear()
        ok = error is None and not op_problems
        # rows an operation that raised the known defect still landed
        landed = error is None or wl.expected_failure(op, error)
        items = wl.items(op) if landed else 0
        self.records.append((i, seconds, ok, traced, items, in_window))


def run(args, root: str) -> dict:
    import common
    from tracing import Tracer
    from workloads import WORKLOADS

    work = common.WorkDir(root)
    common.configure_env(work)
    spark = None
    try:
        t0 = time.perf_counter()
        spark, session_s = common.start_session(work)
        tracer = Tracer() if args.trace else None
        wl = WORKLOADS[args.workload](spark, work, args.seed, tracer)
        t1 = time.perf_counter()
        wl.setup()
        t2 = time.perf_counter()
        if tracer is not None:
            wl.install(tracer)
        loop = Loop(wl, spark.sparkContext, tracer, args.workload)
        # the preamble: attempted and checked, its time counts as set-up
        for i in range(wl.preamble):
            loop.step(i, wl.op(i), traced=False, counted=False, in_window=False)
        setup_s = time.perf_counter() - t0
        setup_parts = {
            "session_s": round(session_s, 4),
            "inputs_s": round(t2 - t1, 4),
            "preamble_s": round(setup_s - (t2 - t0), 4),
        }

        window_start = time.perf_counter()
        i = wl.preamble
        while True:
            k = i - wl.preamble  # index inside the timed window
            elapsed = time.perf_counter() - window_start
            if (
                elapsed >= args.seconds
                and k % wl.cycle == 0
                and k >= (wl.window_ops if tracer is None else wl.count_ops)
            ):
                break
            op = wl.op(i)
            if op is None:
                break
            traced = tracer is not None
            loop.step(i, op, traced, counted=k < wl.count_ops, in_window=True)
            i += 1
        # the high-water marks before the deferred checks, whose DuckDB
        # oracle runs in this process
        rss_parts = common.peak_rss_mb()
        rss = sum(rss_parts.values())
        spark.sparkContext.setJobGroup("perfbench-check", "final checks")
        # a failed deferred check fails its operation too
        late = wl.final_checks()
        loop.problems.extend(msg for _, msg in late)
        bad = {i for i, _ in late}
        loop.records = [r[:2] + (r[2] and r[0] not in bad,) + r[3:] for r in loop.records]

        records = loop.records
        attempted = len(records)
        failed = sum(1 for r in records if not r[2])
        window = [r for r in records if r[5]]
        ok_times = [r[1] for r in window if r[2]]
        # throughputs over the time of every operation of the window, the
        # failed ones and the rows they landed included
        busy = sum(r[1] for r in window)
        tail_q = common.tail_percentile(len(ok_times))
        detail = {
            "workload": args.workload,
            "seed": args.seed,
            "nproc": common.nproc(),
            "samples": len(ok_times),
            "tail_percentile": f"p{tail_q:g}" if tail_q else "max (fewer than 11 samples)",
            "attempted": attempted,
            "failed": failed,
            "failed_ratio": failed / attempted,
            "unexpected_errors": loop.unexpected,
            "errors": loop.errors[:4],
            "problems": loop.problems[:8],
            "setup_parts": setup_parts,
            "peak_rss_parts_mb": {k: round(v, 1) for k, v in rss_parts.items()},
            "op_seconds": [round(r[1], 4) for r in records],
        }
        if not ok_times:
            raise RuntimeError(f"no operation succeeded: {detail}")
        if tracer is None:
            metrics = {
                "setup_s": setup_s,
                "peak_rss_mb": rss,
                "op_s.p50": common.median(ok_times),
                "op_s.tail": common.percentile(ok_times, tail_q)
                if tail_q
                else max(ok_times),
                "ops_per_s": len(ok_times) / busy,
                "rows_per_s": sum(r[4] for r in window) / busy,
            }
            units = END_TO_END
        else:
            metrics = layer_metrics(wl, tracer, window, loop, session_s)
            units = layer_units()
            spans = os.path.join(
                os.path.dirname(work.path), f"spans-{args.workload}-{args.seed}.jsonl"
            )
            tracer.dump(spans)
            detail["spans"] = f"{len(tracer.spans)} in {os.path.relpath(spans, root)}"
            tracer.close()
        print(json.dumps(detail), flush=True)
        return {
            "correct": not loop.problems and loop.unexpected == 0,
            "attempted": attempted,
            "failed": failed,
            "metrics": {k: {"value": metrics[k], "unit": units[k]} for k in units},
        }
    finally:
        if spark is not None:
            common.stop_session(spark)
        work.cleanup()


def _java_cause(error: str) -> str:
    """The JVM exception line of a Py4J error message, if any."""
    for line in error.split("\n"):
        if line.startswith(": "):
            return line[2:120]
    return ""


def layer_metrics(wl, tracer, records, loop, session_s) -> dict:
    import common

    traced = [r for r in records if r[3]]
    self_total: dict[str, float] = {}
    op_total = 0.0
    for r in traced:
        for name, s in tracer.self_times(r[0]).items():
            self_total[name] = self_total.get(name, 0.0) + s
        op_total += r[1]
    n = max(1, len(traced))
    out = {m: self_total.get(span, 0.0) / n for span, m in SPAN_METRICS.items()}
    w = max(1, loop.window_traced)
    for m in COUNT_METRICS:
        out[m] = (loop.jobs[m] if m in loop.jobs else wl.layer.get(m, 0.0)) / w
    final = wl.final_layer()
    for m in RUN_METRICS:
        out[m] = final.get(m, 0.0)
    ok = [r[1] for r in traced if r[2]]
    out["session.start_s"] = session_s
    # compare with op_s.p50 of an untraced run of the same seed
    out["trace.op_s.p50"] = common.median(ok) if ok else 0.0
    # what the wrappers add inside the operations: spans per operation
    # times the measured cost of one wrapped call
    spans = sum(1 for s in tracer.spans if s.op is not None)
    out["trace.overhead_pct"] = (
        100.0 * spans * tracer.call_cost() / op_total if op_total else 0.0
    )
    # share of operation time that layer spans (not the root) account for
    covered = sum(v for k, v in self_total.items() if k != "op")
    out["trace.self_time_coverage"] = covered / op_total if op_total else 0.0
    return out


def main(argv=None) -> int:
    args = parse_args(argv)
    root = os.getcwd()
    try:
        import admob_data_pipeline_spark  # noqa: F401
        import workloads

        if args.workload not in workloads.WORKLOADS:
            raise ValueError(f"unknown workload {args.workload!r}")
    except (ImportError, ValueError) as e:
        print(f"perfbench: cannot run: {e}", file=sys.stderr)
        return 2
    try:
        result = run(args, root)
    except Exception:  # noqa: BLE001 - report and exit non-zero without a result
        traceback.print_exc()
        return 1
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.path.insert(0, os.getcwd())
    sys.exit(main())
