"""End-to-end pipeline benchmark for the feature-store engine.

    python3 perfbench/run.py --workload replay_6h --seed 1 --seconds 20 --trace 0

Run from the repository root. One run starts a ``local[N]`` Spark
session (N = min(4, cpus)), sets the workload up SETUP_REPS times,
measures the workload's closed loop in whole units of work (a replayed
day, a round of four curation batches): the first unit always runs, a
further one only if it fits in ``--seconds``. It then checks the
outputs and prints one JSON line as the last line of standard output:

    {"correct": true, "attempted": 9, "failed": 0, "metrics": {...}}

With ``--trace 0`` the metrics are the end-to-end ones (``E2E``); with
``--trace 1`` the engine's public calls are wrapped in spans and the
metrics are the per-layer ones (``PER_LAYER``). Either way the full
detail (every span's calls, self time and Spark stats, the bronze
phases, the workload's raw samples) goes to standard error as one line
starting with ``perfbench-detail``. A failed operation or output check
counts in ``failed`` and makes the exit code 1.

All table I/O happens in ``.perfbench_work/`` under the current
directory, which is removed at the end; Spark's scratch and temp dirs
are pointed there too. Workloads are described in ``workloads.py``.
"""

import time

T0 = time.perf_counter()   # session start is timed from process start

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402
import tempfile  # noqa: E402

sys.dont_write_bytecode = True

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

WORKLOADS = ("replay_6h", "curate_batches")
# name -> unit; every workload reports every one of them
E2E = {
    "setup_s": "s",          # session start + median of the set-ups
    # Engine CPU time (driver JVM, which runs the local executors, plus
    # the client process) over the timed part, per event or document.
    # Wall-clock figures (slice freshness, batch latency, items/s) are
    # in the detail line: on a shared 4-vCPU host, CPU steal moves them
    # by 15-40% from run to run, while CPU time is not charged for it;
    # and a median of a run's few operations spreads twice as much as
    # the run's total.
    "cpu_ms_per_item": "ms",
}
# family totals and spans that every workload reaches; the detail line
# has every span
PER_LAYER = {
    "sources.lakehouse.self_s": "s",
    "sources.lakehouse.read.self_s": "s",
    "sources.lakehouse.read.files_kept_frac": "ratio",
    "sources.lakehouse.read_increment.self_s": "s",
    "sources.lakehouse.snapshots.self_s": "s",
    "sources.lakehouse.snapshots.records_read": "count",
    "operators.self_s": "s",
    "client.self_s": "s",
    "spark.jobs": "count",
    "spark.stages": "count",
    "spark.tasks": "count",
    "spark.input_rows": "count",
    "spark.shuffle_read_bytes": "bytes",
    "spark.shuffle_write_bytes": "bytes",
    "trace.bookkeeping_s": "s",
    "trace.self_sum_frac": "ratio",
    # driver JVM + Python peak resident memory: varies by a fifth from
    # run to run on curate_batches, too much for an end-to-end bound
    "peak_rss_mb": "MB",
}
TAIL_PERCENTILES = (99, 95, 90, 75)
MIN_BEYOND = 10


def summarize(samples: list[float]) -> dict:
    """Median and sample count, plus the highest percentile that has at
    least ten samples beyond it (``tail`` is None when none has)."""
    out = {"n": len(samples),
           "p50": statistics.median(samples) if samples else None,
           "tail": None}
    if len(samples) >= 2:
        cuts = statistics.quantiles(samples, n=100, method="inclusive")
        for q in TAIL_PERCENTILES:
            value = cuts[q - 1]
            if sum(s > value for s in samples) >= MIN_BEYOND:
                out["tail"] = {"q": q, "value": value}
                break
    return out


def _ratio(a: float, b: float) -> float | None:
    return a / b if b else None


def layer_detail(table: dict, counters: dict, run) -> dict:
    """Every span's numbers plus the derived per-layer counts and ratios."""
    c = dict(counters)
    c["sources.lakehouse.merge.rewrite_amplification"] = _ratio(
        c.get("sources.lakehouse.merge.rows_written", 0),
        c.get("runner.run_silver.sessions_upserted", 0))
    if "runner.run_silver.slice_rows" in c:
        c["runner.run_silver.lookback_rows"] = (
            c.get("runner.run_silver.input_rows", 0)
            - c["runner.run_silver.slice_rows"])
    c["runner.run_silver.incr_over_full"] = run.detail.get("incr_over_full")
    c["sources.lakehouse.read.files_kept_frac"] = _ratio(
        c.get("sources.lakehouse.read.files_read", 0),
        c.get("sources.lakehouse.read.files_live", 0))
    return {"spans": table, "counters": c}


def per_layer_metrics(table: dict, counters: dict, timed_s: float,
                      bookkeeping_s: float, peak_rss_mb: float,
                      root: str) -> dict:
    def fam(prefix: str, stat: str) -> float:
        return sum(row[stat] for name, row in table.items()
                   if name.startswith(prefix))

    def one(name: str, stat: str) -> float:
        return table.get(name, {}).get(stat, 0)

    values = {
        "sources.lakehouse.self_s": fam("sources.lakehouse.", "self_s"),
        "sources.lakehouse.read.self_s": one("sources.lakehouse.read",
                                             "self_s"),
        "sources.lakehouse.read.files_kept_frac": counters[
            "sources.lakehouse.read.files_kept_frac"],
        "sources.lakehouse.read_increment.self_s": one(
            "sources.lakehouse.read_increment", "self_s"),
        "sources.lakehouse.snapshots.self_s": one(
            "sources.lakehouse.snapshots", "self_s"),
        "sources.lakehouse.snapshots.records_read": counters.get(
            "sources.lakehouse.snapshots.records_read", 0),
        "operators.self_s": fam("operators.", "self_s"),
        "client.self_s": one(root, "self_s"),
        "trace.bookkeeping_s": bookkeeping_s,
        "trace.self_sum_frac": _ratio(fam("", "self_s"), timed_s),
        "peak_rss_mb": peak_rss_mb,
    }
    for stat in ("jobs", "stages", "tasks", "input_rows",
                 "shuffle_read_bytes", "shuffle_write_bytes"):
        values[f"spark.{stat}"] = fam("", stat)
    return values


def parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--fixtures", default=os.path.join(HERE, "data", "sf0.1"),
                    help="dir holding events.parquet and documents.parquet")
    return ap.parse_args(argv)


def main(argv=None) -> int:
    args = parse_args(argv)
    sys.path[:0] = [HERE, ROOT]
    import workloads   # the engine under test; absent -> ImportError

    work = os.path.join(os.getcwd(), ".perfbench_work",
                        f"{args.workload}-{os.getpid()}")
    os.makedirs(os.path.join(work, "tmp"))
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    tempfile.tempdir = None
    cpus = min(4, os.cpu_count() or 1)
    try:
        spark = workloads.start_spark(work, cpus)
        session_s = time.perf_counter() - T0
        try:
            run = workloads.Run(spark, work, args.seed, args.seconds,
                                args.fixtures, bool(args.trace))
            try:
                workloads.WORKLOADS[args.workload](run)
            except Exception:  # noqa: BLE001 — counted; result still printed
                run.fail(args.workload)
            table = run.tracer.table() if run.tracer else {}
        finally:
            workloads.stop_spark(spark)
    finally:
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))
        except OSError:
            pass   # another run's work dir is still there

    root = f"perfbench.{args.workload}"
    detail = layer_detail(table, run.tracer.counters if run.tracer else {},
                          run)
    ops = summarize(run.op_s)
    ok = run.failed == 0 and bool(run.op_s) and len(run.setup_reps) > 0
    if run.trace:
        values = per_layer_metrics(
            table, detail["counters"], run.timed_s,
            run.tracer.bookkeeping_s if run.tracer else 0.0,
            run.peak_rss_mb, root)
        units = PER_LAYER
    else:
        values = {
            "setup_s": (session_s + statistics.median(run.setup_reps)
                        if run.setup_reps else 0.0),
            "cpu_ms_per_item": (1000.0 * run.timed_cpu_s / run.items
                                if run.items else 0.0),
        }
        units = E2E
    print("perfbench-detail " + json.dumps({
        "workload": args.workload, "seed": args.seed,
        "seconds": args.seconds, "trace": args.trace, "cpus": cpus,
        "session_s": session_s, "setup_reps_s": run.setup_reps,
        "op_s": ops, "op_samples_s": run.op_s,
        "op_cpu_samples_s": run.op_cpu_s, "items": run.items,
        "timed_s": run.timed_s, "timed_cpu_s": run.timed_cpu_s,
        "items_per_s": run.items / run.timed_s if run.timed_s else None,
        "peak_rss_mb": run.peak_rss_mb,
        **run.detail, **detail}, default=str), file=sys.stderr)
    print(json.dumps({
        "correct": ok,
        "attempted": max(run.attempted, run.failed, 1),
        "failed": run.failed if ok or run.failed else 1,
        "metrics": {k: {"value": float(values[k] or 0.0), "unit": u}
                    for k, u in units.items()},
    }))
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
