"""Lake benchmark: one workload, one seed, one JSON result line.

    python3 perfbench/run.py --workload small_loads --seed 1 --seconds 30 --trace 0

Run from the repository root.  The library is imported from the checkout
this file sits in.  Spark runs at ``local[<usable cores>]`` with one
closed-loop client: each op starts when the previous one has returned.
``--seconds`` fixes how many rounds a run times (see ``Workload.ROUND_S``),
so every run of a workload does the same work.  All scratch files
(warehouses, generated inputs, Spark and JVM temp dirs) live under
``.perfbench/`` in the checkout and are removed on exit; a traced run
leaves its spans in ``.perfbench/traces/``.

``--trace 0`` prints the end-to-end metrics.  ``--trace 1`` wraps the
library's layer entry points for the same timed region and prints the
per-layer metrics instead, with the tracer's own measured cost
(``trace.overhead_s``) and the traced region's wall time
(``trace.region_s``; the overhead as "traced run minus untraced run" is
that figure minus an untraced run's region on the same seed).

The line before the result holds the run's details: workload, seed, the
hold-out seed to confirm a claim on, master, core count, per-op latencies
and any correctness failures.
"""

from __future__ import annotations

import argparse
import itertools
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import tempfile
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent

#: set-up builds the workload's fixture this many times and reports the median
FIXTURE_REPS = 3

#: a claim made on seed ``s`` should be confirmed on ``s + HOLDOUT_OFFSET``
HOLDOUT_OFFSET = 1_000_003


def _cores() -> int:
    return len(os.sched_getaffinity(0))


def _peak_rss_mb(pids: list[int]) -> float:
    total_kb = 0
    for pid in pids:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    total_kb += int(line.split()[1])
    return total_kb / 1024.0


def start_session(work: Path):
    from pyspark.sql import SparkSession

    from dlt_iceberg_spark.session import configure_session

    for d in ("spark-local", "jvm-tmp"):
        (work / d).mkdir(parents=True, exist_ok=True)
    builder = (
        SparkSession.builder.appName("perfbench")
        .master(f"local[{_cores()}]")
        .config("spark.local.dir", str(work / "spark-local"))
        .config("spark.driver.extraJavaOptions", f"-Djava.io.tmpdir={work / 'jvm-tmp'}")
        .config("spark.ui.showConsoleProgress", "false")
    )
    spark = configure_session(builder).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_session(spark) -> None:
    """Stop Spark and wait for the JVM (and with it the Python workers it
    forked) to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


class Record:
    __slots__ = ("kind", "seconds", "rows", "error")

    def __init__(self, kind, seconds, rows, error):
        self.kind, self.seconds, self.rows, self.error = kind, seconds, rows, error


def measure(workload, n_rounds: int, tracer, jobs):
    """Run ``n_rounds`` rounds; returns (records, elapsed).  Each op's
    result is checked after the clock stops."""
    records: list[Record] = []
    pending = []
    t0 = time.perf_counter()
    for ops in itertools.islice(workload.rounds(), n_rounds):
        for op in ops:
            i = len(records)
            tracer.op = i
            jobs.begin(i)
            start = time.perf_counter()
            try:
                out, err = op.fn(), None
            except Exception as exc:  # a failed op is counted, the run goes on
                out, err = None, f"{op.kind}: raised {exc!r}"[:400]
            dt = time.perf_counter() - start
            jobs.end(i)
            records.append(Record(op.kind, dt, op.rows, err))
            pending.append((op, out))
    elapsed = time.perf_counter() - t0
    tracer.op = -1
    for rec, (op, out) in zip(records, pending):
        if rec.error is None and op.check is not None:
            reason = op.check(out)
            if reason:
                rec.error = f"{op.kind}: {reason}"
    return records, elapsed


def layer_metrics(tracer, jobs, storage: dict[str, int], input_rows: int) -> dict:
    """Per-layer metrics of a traced run, as ``{name: (value, unit)}``."""
    from tracing import SPAN_NAMES

    c = tracer.counters
    totals = tracer.totals()
    out = {}
    for name in SPAN_NAMES:
        out[f"{name}.s"] = (totals[name]["s"], "s")
        out[f"{name}.self_s"] = (totals[name]["self_s"], "s")
        out[f"{name}.calls"] = (totals[name]["calls"], "count")
    ops = max(1, jobs.ops)
    live = c["lake.table.prune_split.live_files"]
    written = sum(v for k, v in storage.items() if k.endswith(".bytes"))
    out.update({
        "lake.table.stage_dataframe.files_written": (c["lake.table.stage_dataframe.files_written"], "count"),
        "lake.table.stage_dataframe.bytes_written": (c["lake.table.stage_dataframe.bytes_written"], "bytes"),
        "lake.table.merge_files_touched_ratio": (
            c["lake.table.prune_split.touched_files"] / live if live else 0.0, "ratio"),
        "lake.table.commit.conflicts": (c["lake.table.commit.conflicts"], "count"),
        "lake.fileio.calls": (c["lake.fileio.calls"], "count"),
        "lake.fileio.bytes_read": (c["lake.fileio.bytes_read"], "bytes"),
        "lake.fileio.bytes_written": (c["lake.fileio.bytes_written"], "bytes"),
        "lake.maintenance.compact_table.bytes_rewritten": (
            c["lake.maintenance.compact_table.bytes_rewritten"], "bytes"),
        "spark.jobs_per_op": (jobs.totals["jobs"] / ops, "count"),
        "spark.stages_per_op": (jobs.totals["stages"] / ops, "count"),
        "spark.tasks_per_op": (jobs.totals["tasks"] / ops, "count"),
        "spark.failed_tasks": (jobs.totals["failed_tasks"], "count"),
        "storage.bytes_written_per_row": (written / input_rows if input_rows else 0.0, "bytes/row"),
        # the tracer's own cost: listener-bus drains and job-count reads,
        # plus every span times the wrapper's calibrated per-call cost
        "trace.overhead_s": (jobs.overhead_s + len(tracer.spans) * tracer.span_cost_s(), "s"),
    })
    for k, v in storage.items():
        out[k] = (v, "bytes" if k.endswith(".bytes") else "count")
    return out


def run(args) -> tuple[dict, dict]:
    from tracing import SparkJobs, Tracer
    from workloads import WORKLOADS, Context

    work = ROOT / ".perfbench" / f"run-{os.getpid()}"
    (work / "tmp").mkdir(parents=True, exist_ok=True)
    os.environ["TMPDIR"] = str(work / "tmp")
    tempfile.tempdir = str(work / "tmp")
    # no JVM (the spark-submit launcher included) writes /tmp/hsperfdata_*
    os.environ["JAVA_TOOL_OPTIONS"] = " ".join(
        filter(None, [os.environ.get("JAVA_TOOL_OPTIONS"), "-XX:-UsePerfData"])
    )
    spark = None
    try:
        t0 = time.perf_counter()
        spark = start_session(work)
        session_s = time.perf_counter() - t0
        tracer = Tracer(bool(args.trace))
        jobs = SparkJobs(spark, bool(args.trace))
        workload = WORKLOADS[args.workload](Context(spark=spark, work=work, seed=args.seed, tracer=tracer))

        fixture_s = []
        for rep in range(FIXTURE_REPS):
            t = time.perf_counter()
            workload.fixture(rep)
            fixture_s.append(time.perf_counter() - t)
        setup_s = session_s + statistics.median(fixture_s)

        n_rounds = max(1, round(args.seconds / workload.ROUND_S))
        tracer.install()
        try:
            records, elapsed = measure(workload, n_rounds, tracer, jobs)
        finally:
            tracer.uninstall()
        failures = [r.error for r in records if r.error] + workload.verify()
        input_rows = sum(r.rows for r in records)
        attempted = len(records)
        failed = min(attempted, len(failures))
        jvm_pid = spark._jvm.java.lang.ProcessHandle.current().pid()
        peak_rss = _peak_rss_mb([os.getpid(), jvm_pid])

        if args.trace:
            metrics = layer_metrics(tracer, jobs, workload.storage(), input_rows)
            metrics.update({
                "history.load_growth_ms_per_commit": (workload.growth_ms_per_commit(), "ms/commit"),
                "op_p50_s": (statistics.median(r.seconds for r in records), "s"),
                "peak_rss_mb": (peak_rss, "MB"),
                "setup.session_s": (session_s, "s"),
                "setup.fixture_s": (statistics.median(fixture_s), "s"),
                "trace.region_s": (elapsed, "s"),
            })
            trace_dir = ROOT / ".perfbench" / "traces"
            trace_dir.mkdir(parents=True, exist_ok=True)
            tracer.dump(str(trace_dir / f"{args.workload}-seed{args.seed}.json"))
        else:
            metrics = {
                "setup_s": (setup_s, "s"),
                "op_gmean_s": (statistics.geometric_mean(r.seconds for r in records), "s"),
                "ops_per_s": (attempted / elapsed, "1/s"),
                "rows_per_s": (input_rows / elapsed, "rows/s"),
                "ok_op_ratio": ((attempted - failed) / attempted, "ratio"),
            }
        detail = {
            "workload": args.workload,
            "seed": args.seed,
            "holdout_seed": args.seed + HOLDOUT_OFFSET,
            "trace": args.trace,
            "master": spark.sparkContext.master,
            "cores": _cores(),
            "seconds": args.seconds,
            "rounds": n_rounds,
            "elapsed_s": elapsed,
            "peak_rss_mb": peak_rss,
            "setup": {"session_s": session_s, "fixture_s": fixture_s},
            "ops": [[r.kind, round(r.seconds, 4), r.rows] for r in records],
            "failures": failures[:20],
        }
        result = {
            "correct": failed == 0,
            "attempted": attempted,
            "failed": failed,
            "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
        }
        return result, detail
    finally:
        if spark is not None:
            stop_session(spark)
        shutil.rmtree(work, ignore_errors=True)


def main(argv: list[str] | None = None) -> int:
    parser = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    parser.add_argument("--workload", required=True)
    parser.add_argument("--seed", type=int, required=True)
    parser.add_argument("--seconds", type=float, required=True)
    parser.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = parser.parse_args(argv)

    if not (ROOT / "dlt_iceberg_spark" / "__init__.py").is_file():
        print(f"perfbench: no dlt_iceberg_spark package under {ROOT}", file=sys.stderr)
        return 2
    sys.path[:0] = [str(HERE), str(ROOT)]
    from workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; have {sorted(WORKLOADS)}", file=sys.stderr)
        return 2
    # measure the library's own defaults, whatever the caller's shell sets
    for key in [k for k in os.environ if k.startswith("SPARK_GRAFT_")]:
        del os.environ[key]

    # a terminated run still stops Spark and removes its scratch files
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    result, detail = run(args)
    print("perfbench-detail " + json.dumps(detail), flush=True)
    print(json.dumps(result), flush=True)
    return 0 if result["correct"] else 1


if __name__ == "__main__":
    sys.exit(main())
