"""The benchmark's workloads, driven only through the engine's public calls.

Load comes from one client in a closed loop: each operation starts
after the previous one returned, the cron regime in which pipeline runs
never overlap. Inputs are cut from the fixture parquet files with
pyarrow, outside the system under test; the seed decides the cut.

``replay_6h``
    Events arrive as 6-hour slices, replayed in whole days: the first
    day always runs, a further one only if it fits in ``--seconds``
    at the pace of the day before. Each slice lands as one parquet
    file, then a bronze ``availableNow`` drain and an incremental
    ``run_silver`` run; when a slice completes a day, gold for that day
    runs (``run_daily_features(for_date=...)``). Set-up drains the two
    days before the replay window and runs silver in full. About 830
    events per slice at sf0.1, so fixed per-run costs dominate: the
    planner, the open-tail lookback, the MERGE victim scan, log replay
    and the per-day gold re-read of history.
``curate_batches``
    Corpus curation as the ``curate`` CLI does it, full then
    incremental. Set-up curates a base corpus (a fifth of the documents)
    with ``curate_corpus`` and indexes the survivors with
    ``signature_index``. Each timed operation curates one batch (a
    twentieth) with ``incremental_curate`` against that ledger, appends
    its survivors and extends the ledger; batches run in rounds of four,
    and a further round only if it fits in ``--seconds``. This is the only path through
    ``operators.curate``, ``operators.dedup`` and ``operators.text``.

Every table is a LogTable. Outputs are checked after the timed part:
replay's silver equals the DuckDB sessionization twin over every landed
event, and each replayed gold day equals a from-scratch run over the
events landed by then; curate's survivors equal the DuckDB oracles of
``curate_corpus`` and ``incremental_curate``.
"""

from __future__ import annotations

import contextlib
import datetime as dt
import hashlib
import json
import os
import random
import resource
import statistics
import subprocess
import sys
import time
import traceback

import duckdb
import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

from w_userflow_featurestore_spark import get_spark, runner
from w_userflow_featurestore_spark.incremental import LakehousePlanner
from w_userflow_featurestore_spark.operators import curate, dedup
from w_userflow_featurestore_spark.operators import metrics as M
from w_userflow_featurestore_spark.sources import LogTable
from w_userflow_featurestore_spark.streaming import bronze_ingest

from tracing import Tracer

EVENTS_DDL = ("event_id long, ts timestamp, user_id long, event_type string,"
              " value double, props string")
# the DuckDB sessionization twin's fixed "now" (TIMEOUT_EXIT rule)
NOW = "2024-02-01 00:00:00"
SETUP_REPS = 3
BASE_DAYS = 2
REPLAY_DAYS = 3
SLICE = dt.timedelta(hours=6)
ROUND_BATCHES = 4
GOLD_TABLES = ("user_daily", "item_daily", "top_item_per_day",
               "entry_type_daily", "cohort_vs_global")
SILVER_COLS = ("session_id", "user_id", "datetime", "start_ms", "end_ms",
               "duration_ms", "n_events", "entry_event_type", "sum_value",
               "max_value", "n_items", "seen_purchase", "seen_error",
               "seen_click", "seen_view", "session_state", "is_complete",
               "is_exit")
CURATE_COLS = ("doc_id", "lang_pred", "quality", "n_tokens_ws",
               "content_hash")


class Run:
    """State of one benchmark run, filled in by a workload."""

    def __init__(self, spark, work: str, seed: int, seconds: float,
                 fixtures: str, trace: bool):
        self.spark, self.work, self.seed = spark, work, seed
        self.seconds, self.fixtures, self.trace = seconds, fixtures, trace
        self.tracer: Tracer | None = None
        self.attempted = 0
        self.failed = 0
        self.setup_reps: list[float] = []
        self.op_s: list[float] = []      # the workload's unit operation
        self.op_cpu_s: list[float] = []  # its CPU time, JVM + client
        self.items = 0                   # events or documents processed
        self.timed_s = 0.0
        self.timed_cpu_s = 0.0
        self.peak_rss_mb = 0.0
        self.detail: dict = {}

    def fail(self, what: str) -> None:
        self.failed += 1
        print(f"perfbench: {what} FAILED", file=sys.stderr)
        traceback.print_exc(file=sys.stderr)

    def span(self, name: str):
        return (self.tracer.span(name) if self.tracer
                else contextlib.nullcontext())

    @contextlib.contextmanager
    def timed(self, workload: str):
        """The measured part: traced when asked, under one root span."""
        if self.trace:
            self.tracer = Tracer(self.spark)
            install_tracing(self.tracer)
        c0, t0 = self.cpu_s(), time.perf_counter()
        try:
            with self.span(f"perfbench.{workload}"):
                yield t0
        finally:
            self.timed_s = time.perf_counter() - t0
            self.timed_cpu_s = self.cpu_s() - c0
            if self.tracer:
                self.tracer.restore()
            self.record_peak_rss()

    def count(self, key: str, value: float) -> None:
        if self.tracer:
            self.tracer.count(key, value)

    def cpu_s(self) -> float:
        """CPU seconds used so far by the driver JVM and this process."""
        pid = self.spark._jvm.java.lang.ProcessHandle.current().pid()
        with open(f"/proc/{pid}/stat") as fh:
            fields = fh.read().rsplit(")", 1)[1].split()
        jvm = (int(fields[11]) + int(fields[12])) / os.sysconf("SC_CLK_TCK")
        t = os.times()
        return jvm + t.user + t.system

    def record_peak_rss(self) -> None:
        """Peak resident memory of the driver JVM plus this process."""
        pid = self.spark._jvm.java.lang.ProcessHandle.current().pid()
        with open(f"/proc/{pid}/status") as fh:
            jvm_kb = next(int(line.split()[1]) for line in fh
                          if line.startswith("VmHWM:"))
        py_kb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
        self.peak_rss_mb = (jvm_kb + py_kb) / 1024.0


def _another_fits(t_start: float, unit_start: float, seconds: float) -> bool:
    """Whether one more unit of work (a replayed day, a round of
    batches) fits in the run's seconds at the pace of the last one. The
    first unit always runs; whole units keep every run's mix of cold
    and warm operations the same."""
    now = time.perf_counter()
    return 2 * now - unit_start - t_start <= seconds


# ------------------------------------------------------------ session

def start_spark(work: str, cpus: int):
    return get_spark(
        app_name="perfbench", master=f"local[{cpus}]",
        extra_conf={
            "spark.driver.memory": "2g",
            "spark.ui.enabled": "false",
            "spark.ui.retainedJobs": "100000",
            "spark.ui.retainedStages": "100000",
            "spark.local.dir": os.path.join(work, "spark-local"),
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            "spark.driver.extraJavaOptions":
                f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}"
                " -XX:-UsePerfData",
        })


def stop_spark(spark) -> None:
    """Stop the session and wait for the driver JVM to exit."""
    from pyspark import SparkContext
    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if proc is None:
        return
    gateway.shutdown()
    proc.stdin.close()          # the gateway JVM exits on stdin EOF
    try:
        proc.wait(timeout=60)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()


# ------------------------------------------------------------- tracing

def _merge_counts(tracer, args, _kwargs, seq) -> None:
    table = args[0]
    with open(os.path.join(table._log_path, f"{seq:020d}.json")) as fh:
        commit = json.load(fh)
    rows = sum(pq.ParquetFile(os.path.join(table._data_path, f))
               .metadata.num_rows for f in commit["add"])
    tracer.count("sources.lakehouse.merge.rows_written", rows)
    tracer.count("sources.lakehouse.merge.files_removed",
                 len(commit["remove"]))
    tracer.count("sources.lakehouse.merge.files_added", len(commit["add"]))


def _read_counts(tracer, args, kwargs, df) -> None:
    table = args[0]
    snapshot_id = args[1] if len(args) > 1 else kwargs.get("snapshot_id")
    tracer.count("sources.lakehouse.read.files_read", len(df.inputFiles()))
    tracer.count("sources.lakehouse.read.files_live",
                 len(table.files(snapshot_id)))


def _silver_counts(tracer, _args, _kwargs, result) -> None:
    tracer.count("runner.run_silver.input_rows", result.input_rows)
    tracer.count("runner.run_silver.sessions_upserted",
                 result.sessions_upserted)


def install_tracing(tracer) -> None:
    """Wrap the public calls of every layer the workloads reach."""
    lake = "sources.lakehouse"
    tracer.patch(runner, "run_silver", "runner.run_silver",
                 after=_silver_counts)
    tracer.patch(runner, "run_daily_features", "runner.run_daily_features")
    tracer.patch(runner, "completeness_gate", "runner.completeness_gate")
    tracer.patch(runner, "dedup_latest", "operators.cleanse.dedup_latest")
    tracer.patch(runner, "drop_null_keys",
                 "operators.cleanse.drop_null_keys")
    tracer.patch(runner, "sessionize", "operators.sessionize.sessionize")
    tracer.patch(LakehousePlanner, "plan_read", "incremental.plan_read")
    for fn in ("item_daily", "user_daily_full", "top_item_per_day",
               "entry_type_daily", "cohort_vs_global"):
        tracer.patch(M, fn, f"operators.metrics.{fn}")
    tracer.patch(LogTable, "read", f"{lake}.read", after=_read_counts)
    tracer.patch(LogTable, "read_increment", f"{lake}.read_increment")
    tracer.patch(LogTable, "merge", f"{lake}.merge", after=_merge_counts)
    tracer.patch(LogTable, "append", f"{lake}.append")
    tracer.patch(
        LogTable, "overwrite_partitions",
        lambda t, *_a, **_k:
            f"{lake}.overwrite_partitions.{os.path.basename(t.path)}")
    tracer.patch(
        LogTable, "snapshots", f"{lake}.snapshots", spark_jobs=False,
        after=lambda tr, _a, _k, out:
            tr.count(f"{lake}.snapshots.records_read", len(out)))
    for fn in ("curate_corpus", "incremental_curate", "signature_index"):
        tracer.patch(curate, fn, f"operators.curate.{fn}")
    tracer.patch(curate, "text_profile", "operators.text.text_profile")
    for fn in ("exact_dedup", "lsh_candidate_pairs", "minhash_signatures"):
        tracer.patch(curate, fn, f"operators.dedup.{fn}")
    for fn in ("band_buckets", "minhash_signatures"):
        tracer.patch(dedup, fn, f"operators.dedup.{fn}")


# -------------------------------------------------------------- helpers

def _land(table: pa.Table, path: str) -> None:
    """Write one input file atomically, as an upstream producer would."""
    os.makedirs(os.path.dirname(path), exist_ok=True)
    tmp = os.path.join(os.path.dirname(path), "." + os.path.basename(path))
    pq.write_table(table, tmp)
    os.replace(tmp, path)


def _between(events: pa.Table, lo: dt.datetime, hi: dt.datetime) -> pa.Table:
    ts = events["ts"]
    typ = ts.type
    return events.filter(pc.and_(pc.greater_equal(ts, pa.scalar(lo, typ)),
                                 pc.less(ts, pa.scalar(hi, typ))))


def _digest(rows) -> str:
    h = hashlib.sha256()
    for r in sorted(rows, key=repr):
        h.update(repr(r).encode())
    return h.hexdigest()


# ------------------------------------------------------------ replay_6h

class _Pipeline:
    """One bronze -> silver -> gold set of LogTables under ``root``."""

    def __init__(self, spark, root: str):
        self.spark, self.root = spark, root
        self.land = os.path.join(root, "land")
        self.bronze = os.path.join(root, "bronze")
        self.silver = os.path.join(root, "silver")
        self.gold = os.path.join(root, "gold")
        self.ledger = os.path.join(root, "silver_ledger.json")
        self.checkpoint = os.path.join(root, "checkpoint")

    def drain(self, run: Run | None = None) -> None:
        q = bronze_ingest(
            self.spark.readStream.schema(EVENTS_DDL).parquet(self.land),
            self.bronze, self.checkpoint, available_now=True,
            table_format="log")
        q.awaitTermination()
        if q.exception() is not None:
            raise RuntimeError(f"bronze drain failed: {q.exception()}")
        if run is not None:
            for p in q.recentProgress:
                for phase, ms in p["durationMs"].items():
                    run.count(f"streaming.ingest.bronze.{phase}_ms", ms)
                run.count("streaming.ingest.bronze.rows", p["numInputRows"])

    def silver_run(self):
        return runner.run_silver(self.spark, self.bronze, self.silver,
                                 self.ledger, NOW, table_format="log")

    def gold_run(self, day: dt.date) -> None:
        runner.run_daily_features(
            self.spark, self.silver, LogTable(self.spark, self.bronze).read(),
            self.gold, table_format="log", for_date=day.isoformat())


def replay_6h(run: Run) -> None:
    events = pq.read_table(os.path.join(run.fixtures, "events.parquet"))
    last = pc.max(events["ts"]).as_py()
    data_end = dt.datetime.combine(last.date() + dt.timedelta(days=1),
                                   dt.time())
    # The seed sets the phase of the slice boundaries, within the first
    # hour: a slice's cost depends on where in the day it falls (phases
    # of 0-2 h cost a third more per slice than 3 h), so a wider phase
    # would make seeds measure different regimes.
    base_end = (data_end - dt.timedelta(days=REPLAY_DAYS)
                + dt.timedelta(minutes=random.Random(run.seed).randrange(60)))
    base = _between(events, base_end - dt.timedelta(days=BASE_DAYS),
                    base_end)

    pipe = None
    silver_full_s = 0.0
    for rep in range(SETUP_REPS):
        pipe = _Pipeline(run.spark, os.path.join(run.work, f"replay-{rep}"))
        t0 = time.perf_counter()
        _land(base, os.path.join(pipe.land, "base.parquet"))
        pipe.drain()
        t1 = time.perf_counter()
        pipe.silver_run()
        silver_full_s = time.perf_counter() - t1
        run.setup_reps.append(time.perf_counter() - t0)

    landed = [base]
    golds: list[tuple[dt.date, int]] = []   # (day, slices landed by then)
    silver_s: list[float] = []
    gold_s: list[float] = []
    lo = base_end
    with run.timed("replay_6h") as t_start:
        day_start = t_start
        while lo < data_end:
            hi = min(lo + SLICE, data_end)
            piece = _between(events, lo, hi)
            _land(piece, os.path.join(pipe.land,
                                      f"slice-{len(landed):03d}.parquet"))
            landed.append(piece)
            run.attempted += 1
            c0, t0 = run.cpu_s(), time.perf_counter()
            try:
                with run.span("streaming.ingest.bronze_ingest"):
                    pipe.drain(run)
                t1 = time.perf_counter()
                pipe.silver_run()
                t2 = time.perf_counter()
            except Exception:  # noqa: BLE001 — counted, run stops
                run.fail(f"slice {lo}")
                break
            run.op_s.append(t2 - t0)
            run.op_cpu_s.append(run.cpu_s() - c0)
            silver_s.append(t2 - t1)
            run.items += piece.num_rows
            run.count("runner.run_silver.slice_rows", piece.num_rows)
            day = lo.date()
            while dt.datetime.combine(day + dt.timedelta(days=1),
                                      dt.time()) <= hi:
                run.attempted += 1
                t0 = time.perf_counter()
                try:
                    pipe.gold_run(day)
                except Exception:  # noqa: BLE001
                    run.fail(f"gold {day}")
                    break
                gold_s.append(time.perf_counter() - t0)
                golds.append((day, len(landed)))
                day += dt.timedelta(days=1)
            lo = hi
            if golds and golds[-1][1] == len(landed):
                if not _another_fits(t_start, day_start, run.seconds):
                    break
                day_start = time.perf_counter()
    run.detail.update(
        phase_minutes=base_end.minute, slices=len(run.op_s),
        silver_s=silver_s, gold_day_s=gold_s, silver_full_s=silver_full_s,
        incr_over_full=(statistics.median(silver_s) / silver_full_s
                        if silver_s and silver_full_s else None))
    _check_replay(run, pipe, landed, golds)


def _check_replay(run: Run, pipe: _Pipeline, landed: list[pa.Table],
                  golds: list[tuple[dt.date, int]]) -> None:
    """Silver equals the DuckDB sessionization twin over every landed
    event; each replayed gold day equals a from-scratch full run over
    the events landed when it ran (compared by content digest)."""
    from pyspark.sql import functions as F

    import __spark_entry__ as entry   # the DuckDB twins, read-only
    from tests.oracle_check import compare
    spark = run.spark
    run.attempted += 1
    try:
        con = duckdb.connect()
        raw = pa.concat_tables(landed)
        con.register("raw", raw)
        con.execute("CREATE VIEW events AS SELECT * FROM raw "
                    "WHERE event_id IS NOT NULL AND user_id IS NOT NULL "
                    "AND ts IS NOT NULL QUALIFY row_number() OVER "
                    "(PARTITION BY event_id ORDER BY ts DESC) = 1")
        silver = entry._datestr(
            LogTable(spark, pipe.silver).read()
            .withColumn("start_ms", F.unix_millis("start_time"))
            .withColumn("end_ms", F.unix_millis("end_time"))
            .select(*SILVER_COLS))
        bad = compare("silver", silver, con.execute(
            entry.oracle_sql()["sessions"]).fetchdf())
        if bad:
            raise AssertionError(f"silver != sessionization twin: {bad}")
    except Exception:  # noqa: BLE001
        run.fail("silver check")
    for day, n_landed in golds:
        run.attempted += 1
        try:
            ref = _Pipeline(spark, os.path.join(run.work, f"ref-{day}"))
            _land(pa.concat_tables(landed[:n_landed]),
                  os.path.join(ref.land, "all.parquet"))
            ref.drain()
            ref.silver_run()
            ref.gold_run(day)
            for name in GOLD_TABLES:
                got, want = (
                    _digest(LogTable(spark, os.path.join(p.gold, name))
                            .read(filters=[("datetime", "=", day)])
                            .collect())
                    for p in (pipe, ref))
                if got != want:
                    raise AssertionError(
                        f"gold {name} {day}: replay {got[:12]} != "
                        f"from-scratch {want[:12]}")
        except Exception:  # noqa: BLE001
            run.fail(f"gold check {day}")


# ------------------------------------------------------- curate_batches

def curate_batches(run: Run) -> None:
    spark = run.spark
    docs = pq.read_table(os.path.join(run.fixtures, "documents.parquet"))
    order = np.random.default_rng(run.seed).permutation(docs.num_rows)
    n_base, n_batch = docs.num_rows // 5, docs.num_rows // 20
    base = docs.take(np.sort(order[:n_base]))
    batches = [docs.take(np.sort(order[i:i + n_batch]))
               for i in range(n_base, docs.num_rows - n_batch + 1, n_batch)]

    for rep in range(SETUP_REPS):
        root = os.path.join(run.work, f"curate-{rep}")
        t0 = time.perf_counter()
        base_path = os.path.join(root, "land", "base.parquet")
        _land(base, base_path)
        corpus = spark.read.parquet(base_path)
        survivors = LogTable.create(spark, os.path.join(root, "survivors"))
        sid = survivors.append(curate.curate_corpus(corpus))
        ledger = LogTable.create(spark, os.path.join(root, "ledger"))
        ledger.append(curate.signature_index(corpus.join(
            survivors.read().select("doc_id"), "doc_id", "left_semi")))
        run.setup_reps.append(time.perf_counter() - t0)

    done: list[tuple[pa.Table, int, int]] = []   # (batch, before, after)
    with run.timed("curate_batches") as t_start:
        round_start = t_start
        for i, batch in enumerate(batches):
            if i and i % ROUND_BATCHES == 0:
                if not _another_fits(t_start, round_start, run.seconds):
                    break
                round_start = time.perf_counter()
            path = os.path.join(root, "land", f"batch-{i:03d}.parquet")
            _land(batch, path)
            run.attempted += 1
            c0, t0 = run.cpu_s(), time.perf_counter()
            try:
                new = spark.read.parquet(path)
                after = survivors.append(
                    curate.incremental_curate(new, ledger.read()))
                kept = survivors.read_increment(sid, after).select("doc_id")
                ledger.append(curate.signature_index(
                    new.join(kept, "doc_id", "left_semi")))
            except Exception:  # noqa: BLE001
                run.fail(f"batch {i}")
                break
            run.op_s.append(time.perf_counter() - t0)
            run.op_cpu_s.append(run.cpu_s() - c0)
            run.items += batch.num_rows
            done.append((batch, sid, after))
            sid = after
    run.detail.update(base_docs=base.num_rows, batch_docs=n_batch,
                      batches=len(done))
    _check_curate(run, base, survivors, done)


def _check_curate(run: Run, base: pa.Table, survivors: LogTable,
                  done: list[tuple[pa.Table, int, int]]) -> None:
    """Survivors equal the composition ``ORACLES["incremental_curate"]``
    spells out, over the DuckDB stage oracles (``text_profile``,
    ``minhash_lsh_pairs``) evaluated once for every document of the run.
    A document survives a batch when its quality is at least 0.5 and no
    ledger document, nor a lower-id document of its own batch, shares
    its content hash or an LSH pair with it. With an empty ledger that
    is ``curate_corpus``'s rule, which checks the base."""
    import __spark_entry__ as entry
    oracles = entry.oracle_sql()
    con = duckdb.connect()
    con.register("documents", pa.concat_tables([base] + [b for b, _, _ in done]))
    profile = {r[0]: r for r in con.execute(
        f"SELECT {', '.join(CURATE_COLS)} FROM ({oracles['text_profile']})"
    ).fetchall()}
    rivals: dict[int, set[int]] = {d: set() for d in profile}
    for a, b in con.execute(
            f"SELECT doc_a, doc_b FROM ({oracles['minhash_lsh_pairs']})"
    ).fetchall():
        rivals[a].add(b)
        rivals[b].add(a)
    by_hash: dict[str, set[int]] = {}
    for d, row in profile.items():
        by_hash.setdefault(row[4], set()).add(d)
    for d, row in profile.items():
        rivals[d] |= by_hash[row[4]] - {d}

    def expected(batch: set[int], ledger: set[int]) -> set[tuple]:
        return {_rounded(profile[p]) for p in batch
                if profile[p][2] >= 0.5
                and not any(q in ledger or (q in batch and q < p)
                            for q in rivals[p])}

    checks = [("curate_corpus", base, None, done[0][1] if done else None)]
    checks += [("incremental_curate", b, lo, hi) for b, lo, hi in done]
    for name, batch, before, after in checks:
        run.attempted += 1
        try:
            ledger = (set() if before is None else
                      {r[0] for r in survivors.read(before)
                       .select("doc_id").collect()})
            got = (survivors.read(after) if before is None
                   else survivors.read_increment(before, after))
            got = {_rounded(tuple(r)) for r in
                   got.select(*CURATE_COLS).collect()}
            want = expected(set(batch["doc_id"].to_pylist()), ledger)
            if got != want:
                raise AssertionError(
                    f"{name}: {len(got ^ want)} survivor rows differ from "
                    f"the oracle, e.g. {sorted(got ^ want)[:2]}")
        except Exception:  # noqa: BLE001
            run.fail(f"{name} check")


def _rounded(row: tuple) -> tuple:
    """A survivor row with its float quality rounded past the engines'
    last-bit differences."""
    return row[:2] + (round(row[2], 9),) + tuple(row[3:])


WORKLOADS = {"replay_6h": replay_6h, "curate_batches": curate_batches}
