"""Job-level control plane: layer runners, completeness gate, sequencing.

The reference orchestrates with Airflow: a Silver DAG every 10 minutes
(snapshot bookkeeping -> sessionize -> MERGE -> record snapshot,
reference airflow/dags/silver_dag.py) and a daily Gold DAG that first
gates on Silver completeness (>=140 parquet files in yesterday's
partition, gold_daily_dag.py:49-64) then runs five feature jobs in
sequence (episode before webtoon — a cross-job data dependency,
:146). This module is that control plane as a library: no scheduler
dependency, every step a plain function the caller can cron/airflow/
dagster however they like.

- ``run_silver``        — incremental-or-full events read (incremental
                          planner ledger) -> cleanse -> sessionize ->
                          idempotent MERGE into the session table;
                          ledger committed only after the write lands.
- ``completeness_gate`` — row-count-per-partition check generalizing the
                          reference's file-count proxy (counts are what
                          you actually mean; file counts were a stand-in).
- ``run_daily_features``— the feature jobs in dependency order, each
                          written with dynamic partition overwrite (the
                          reference's idempotent recovery unit).

Every step is re-runnable: a crashed run leaves the ledger uncommitted
(next run replays the increment) and partition overwrite converges.
"""

from __future__ import annotations

import os
from dataclasses import dataclass

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F
from pyspark.errors import AnalysisException

from w_userflow_featurestore_spark.incremental import IncrementalPlanner
from w_userflow_featurestore_spark.operators import metrics as M
from w_userflow_featurestore_spark.operators.cleanse import (
    dedup_latest, drop_null_keys,
)
from w_userflow_featurestore_spark.operators.sessionize import sessionize
from w_userflow_featurestore_spark.sources import (
    LogTable, merge_upsert, overwrite_partitions,
)


class CompletenessError(RuntimeError):
    """Raised when an upstream partition fails the completeness gate."""


def completeness_gate(df: DataFrame, partition_col: str, min_rows: int,
                      partitions: list | None = None) -> dict:
    """Require every (listed) partition to hold >= min_rows rows.

    Generalizes the reference's >=140-parquet-files S3 listing check
    (gold_daily_dag.py:49-64) to the quantity it proxied. One count
    aggregation — no driver-side file walking.
    """
    counts = df.groupBy(partition_col).agg(F.count(F.lit(1)).alias("n"))
    if partitions is not None:
        counts = counts.where(F.col(partition_col).isin(partitions))
    got = {r[partition_col]: r["n"] for r in counts.collect()}
    missing = {} if partitions is None else {
        p: 0 for p in partitions if p not in got}
    thin = {p: n for p, n in got.items() if n < min_rows} | missing
    if thin:
        raise CompletenessError(
            f"partitions below {min_rows} rows: {sorted(thin.items())}")
    return got


class QualityGateError(RuntimeError):
    """Raised when a content-constraint suite fails before a write."""


def quality_gate(df: DataFrame, rules: list[dict]) -> None:
    """Evaluate a quality_report constraint suite and REFUSE the write
    on any violation — the content-level upgrade of completeness_gate
    (which only counts rows, the reference's file-count proxy). One
    aggregation pass; the error carries every failing rule with its
    violation count so the on-call sees the whole blast radius at once,
    not just the first failed assert."""
    from w_userflow_featurestore_spark.operators.quality import (
        quality_report,
    )
    bad = [(r["rule"], r["n_violations"])
           for r in quality_report(df, rules).collect()
           if r["passed"] == 0]
    if bad:
        raise QualityGateError(f"constraints failed: {bad}")


@dataclass
class SilverResult:
    mode: str            # incremental | full | empty
    input_rows: int
    sessions_upserted: int


def _extend_with_open_tails(spark: SparkSession, increment: DataFrame,
                            silver_path: str, events_path: str,
                            table_format: str) -> DataFrame:
    """run_silver's continuation lookback (see its docstring): union the
    increment with the raw events of still-open tail sessions so
    re-sessionization merges across the increment boundary. One
    driver-side scalar (the earliest affected tail start — the bound
    that makes the re-read prunable) is the only collect."""
    from w_userflow_featurestore_spark.operators.sessionize import (
        DEFAULT_GAP_MS,
    )
    from w_userflow_featurestore_spark.sources import LogTable
    # Only the narrow "table doesn't exist yet" signals mean "first run,
    # no tails to look back at": a LogTable with zero commits raises
    # ValueError("... has no commits"), a missing parquet path raises
    # AnalysisException(PATH_NOT_FOUND). Anything else (corrupt log
    # JSON, transient FS error, concurrent-commit race) must PROPAGATE:
    # silently skipping the lookback would re-sessionize a spanning
    # session without its head — a fragment row under a new
    # content-derived id next to the stale tail, i.e. permanent silent
    # corruption instead of a visible failed run.
    try:
        if table_format == "log":
            tails = LogTable(spark, silver_path).read()
        else:
            tails = spark.read.parquet(silver_path)
    except FileNotFoundError:  # LogTable dir never created
        return increment
    except ValueError as exc:
        if "has no commits" not in str(exc):
            raise
        return increment
    except AnalysisException as exc:
        if "PATH_NOT_FOUND" not in str(exc) and \
                "Path does not exist" not in str(exc):
            raise
        return increment
    first_new = (increment.groupBy("user_id")
                 .agg(F.min("ts").alias("_new_ts")))
    cand = (tails.join(first_new, "user_id")
                 .where(F.col("end_time") >=
                        F.col("_new_ts")
                        - F.expr(f"interval {DEFAULT_GAP_MS // 1000} seconds"))
                 .groupBy("user_id")
                 .agg(F.min("start_time").alias("_tail_start")))
    bound = cand.agg(F.min("_tail_start")).collect()[0][0]
    if bound is None:
        return increment
    if table_format == "log":
        hist = LogTable(spark, events_path).read(
            filters=[("ts", ">=", bound)])
    else:
        hist = (spark.read.parquet(events_path)
                     .where(F.col("ts") >= F.lit(bound)))
    # the global bound only PRUNES the scan; membership is per-user —
    # ts >= that user's own qualifying tail start. A global-min cut
    # would admit another user's mid-session events without their
    # session head and re-sessionize them into a phantom fragment.
    lookback = (hist.join(cand, "user_id")
                    .where(F.col("ts") >= F.col("_tail_start")))
    return increment.unionByName(
        lookback.select(*increment.columns))


def run_silver(spark: SparkSession, events_path: str, silver_path: str,
               ledger_path: str, now: str,
               table_format: str = "parquet") -> SilverResult:
    """Events -> classified sessions, MERGEd by session key.

    CONTINUATION-AWARE incremental sessionization: a session can span
    increments (its tail is still open when the increment is cut), and
    recomputing only the new rows would fragment it. Before
    sessionizing, the increment is extended with a LOOKBACK: silver
    sessions of the increment's users whose end_time is within the
    session gap of that user's first new event are identified, and the
    raw events from the earliest such tail's start_time onward (for
    those users only — a partition/stat-prunable time filter plus a
    user semi-join, never a full history re-read) are unioned back in.
    Re-sessionizing the union reproduces each tail session WITH its new
    events; because session ids are content-derived (user + session
    start second), the recomputed session carries the SAME id and the
    MERGE replaces the stale tail row in place — all rollup columns,
    including non-combinable ones like distinct item counts, come out
    exact. The reference sidesteps this only because its events carry
    client-assigned session ids (silver_user_session_events.py:146-186);
    this engine derives sessions, so the continuation logic is the
    price of gaps-and-islands semantics.

    ``table_format="log"`` binds both ends to the transactional LogTable
    format: the events increment comes from real snapshot lineage
    (LakehousePlanner) and the silver MERGE is a file-granular
    copy-on-write commit — the reference's actual Iceberg semantics
    (S6/S7/S9) rather than the parquet emulation.

    Durability note: the one-pass diagnostics below use
    ``localCheckpoint`` (EXECUTOR-local storage). On local[N] that is
    free; on a real cluster an executor loss between the checkpoint and
    the merge write fails the run — acceptable because the run is
    re-entrant (ledger uncommitted => the increment replays and the
    merge converges), but latency-sensitive cluster deployments should
    swap in a reliable ``checkpoint()`` dir or persist(DISK_ONLY_2).
    """
    if table_format == "log":
        from w_userflow_featurestore_spark.incremental import (
            LakehousePlanner,
        )
        from w_userflow_featurestore_spark.sources import LogTable
        planner = LakehousePlanner(LogTable(spark, events_path), ledger_path)
    else:
        planner = IncrementalPlanner(events_path, ledger_path)
    plan = planner.plan_read(spark)
    if plan.mode == "empty":
        plan.commit()
        return SilverResult("empty", 0, 0)
    raw = plan.df
    if plan.mode == "incremental":
        raw = _extend_with_open_tails(spark, raw, silver_path,
                                      events_path, table_format)
    events = drop_null_keys(
        dedup_latest(raw, key=["event_id"], order_by=["ts"]),
        ["event_id", "user_id", "ts"])
    # Diagnostics ride the data pass (A17 "counts in ONE pass"): observe()
    # attaches CollectMetrics nodes that are harvested by the single eager
    # materialization below — zero extra Spark actions, unlike a count()
    # which would re-run the dedup+sessionize subtree per diagnostic.
    obs_in, obs_out = Observation(), Observation()
    events = events.observe(obs_in, F.count(F.lit(1)).alias("rows"))
    sessions = sessionize(events, now=now).observe(
        obs_out, F.count(F.lit(1)).alias("rows"))
    # One materialization: collects both observations AND hands merge_upsert
    # a lineage-free input, so the merge's partition rewrite never recomputes
    # (or double-scans, which would double-count the metrics) this subtree.
    sessions = sessions.localCheckpoint(eager=True)
    merge_upsert(spark, silver_path, sessions,
                 keys=["session_id"], partition_by=["datetime"],
                 format=table_format if table_format == "log" else "auto")
    plan.commit()        # ledger moves only after the table write landed
    return SilverResult(plan.mode, int(obs_in.get["rows"]),
                        int(obs_out.get["rows"]))


def _check_ledger_layout(ledger_dir: str) -> None:
    """Refuse a ledger in the retired pointer-store layout: versioned
    parquet directories behind ``_ptr/`` sequence files or a
    ``_current`` pointer. Such a directory holds no LogTable commits,
    so it would read as "no ledger yet" and the next update would
    silently start a fresh ``initial`` ledger, dropping its history."""
    for name in ("_ptr", "_current"):
        if os.path.exists(os.path.join(ledger_dir, name)):
            raise ValueError(
                f"{ledger_dir} holds a pointer-store ledger ({name}), a "
                "layout that is no longer read; rebuild the ledger into a "
                "fresh directory")


def _read_ledger(spark: SparkSession, ledger_dir: str) -> DataFrame:
    _check_ledger_layout(ledger_dir)
    table = LogTable(spark, ledger_dir)
    base = (table.latest_snapshot_id()
            if LogTable.is_log_table(ledger_dir) else None)
    if base is None:
        raise FileNotFoundError(f"no committed ledger in {ledger_dir}")
    return table.read(base)


def _update_ledger(spark: SparkSession, ledger_dir: str, build, extend
                   ) -> tuple[int, str, int]:
    """One ledger commit: derive the new ledger from the current
    snapshot (``extend(prev)``), or from the batch alone before the
    first commit (``build()``), and replace the table's content with it
    in one ``rewrite`` against that snapshot. Returns
    ``(version, mode, rows)``; the version is the snapshot id, dense
    from 1."""
    _check_ledger_layout(ledger_dir)
    table = LogTable.create(spark, ledger_dir)
    base = table.latest_snapshot_id()
    if base is None:
        merged, mode = build(), "initial"
    else:
        merged, mode = extend(table.read(base)), "incremental"
    # the row count rides the write: no extra Spark action
    obs = Observation()
    version = table.rewrite(
        merged.observe(obs, F.count(F.lit(1)).alias("rows")),
        expected_base=base)
    return version, mode, int(obs.get["rows"])


@dataclass
class SplitLedgerResult:
    version: int         # committed ledger version after this run
    mode: str            # initial | incremental
    n_docs: int          # rows in the committed ledger


def read_split_ledger(spark: SparkSession, ledger_dir: str) -> DataFrame:
    """The CURRENT committed component ledger (doc_id, group_key): the
    latest snapshot of the LogTable at ``ledger_dir``, so uncommitted
    or crashed writes are invisible by construction. Raises
    FileNotFoundError before the first commit."""
    return _read_ledger(spark, ledger_dir)


def run_split_ledger_update(spark: SparkSession, ledger_dir: str,
                            batch_docs: DataFrame, batch_pairs: DataFrame,
                            id_col: str = "doc_id",
                            pair_a: str = "doc_a",
                            pair_b: str = "doc_b") -> SplitLedgerResult:
    """Ingest a batch into the persisted leakage-split component ledger
    — the state behind ``operators/sampling.py::
    incremental_leakage_split``, persisted with the silver watermark
    discipline (run_silver commits its read ledger only AFTER the table
    write lands): the ledger is a LogTable, and each update stages the
    merged ledger and publishes it as ONE replace commit. A crash
    before the commit leaves the previous version live and the run
    re-entrant — replaying the batch converges on the same content
    (merge_component_ledger is deterministic); half-written staged
    files are invisible and become ``vacuum`` garbage. A CONCURRENT
    writer that committed first moved the table past the snapshot this
    run read, so the commit raises
    :class:`~w_userflow_featurestore_spark.sources.lakehouse.ConcurrentCommitError`
    instead of silently discarding the winner's batch — re-run against
    the new current version.

    First run (no commit yet) builds the ledger from the batch alone;
    later runs extend via :func:`~w_userflow_featurestore_spark.operators.sampling.merge_component_ledger`,
    so corpus-internal pairs are never recomputed. ``batch_pairs`` =
    pairs touching >= 1 batch doc (an LSH probe of the batch), per the
    star-collapse contract.

    Scale note: each commit rewrites the full (doc_id, group_key)
    ledger — ~16 bytes/doc, the deliberate cost of an always-consistent
    snapshot (the gram ledger pays the same via its re-aggregate). A
    deployment hot enough to feel that rewrite should bucket the ledger
    by hash(doc_id) and rewrite only buckets holding changed rows.

    Space: superseded versions stay time-travelable until
    ``LogTable.expire_snapshots(keep_last)`` drops them from history
    and ``LogTable.vacuum(retention_seconds)`` deletes their files.
    """
    from w_userflow_featurestore_spark.operators.sampling import (
        component_ledger, merge_component_ledger,
    )
    version, mode, n = _update_ledger(
        spark, ledger_dir,
        lambda: component_ledger(batch_docs, batch_pairs,
                                 id_col, pair_a, pair_b),
        lambda prev: merge_component_ledger(prev, batch_docs, batch_pairs,
                                            id_col, pair_a, pair_b))
    return SplitLedgerResult(version, mode, n)


@dataclass
class NoveltyLedgerResult:
    version: int         # committed ledger version after this run
    mode: str            # initial | incremental
    n_shingles: int      # distinct shingle hashes in the committed ledger


def read_novelty_ledger(spark: SparkSession, ledger_dir: str) -> DataFrame:
    """The CURRENT committed shingle-df ledger (sh, n_docs) — the
    corpus-history state :func:`score_batch_novelty` probes. Same
    LogTable storage as :func:`read_split_ledger`."""
    return _read_ledger(spark, ledger_dir)


def score_batch_novelty(spark: SparkSession, ledger_dir: str,
                        batch_docs: DataFrame, n: int = 3,
                        text_col: str = "text",
                        id_col: str = "doc_id") -> DataFrame:
    """Novelty-score an incoming batch against the corpus HISTORY in
    the persisted ledger — run BEFORE :func:`run_novelty_ledger_update`
    ingests the same batch: ``incremental_novelty`` counts batch
    occurrences itself, so a ledger that already contains the batch
    would double-count them (the score-then-ingest order is the
    pipeline contract, demonstrated in the runner test)."""
    from w_userflow_featurestore_spark.operators.dedup import (
        incremental_novelty,
    )
    return incremental_novelty(
        batch_docs, read_novelty_ledger(spark, ledger_dir),
        n, text_col, id_col)


def run_novelty_ledger_update(spark: SparkSession, ledger_dir: str,
                              batch_docs: DataFrame, n: int = 3,
                              text_col: str = "text",
                              id_col: str = "doc_id"
                              ) -> NoveltyLedgerResult:
    """Ingest a batch into the persisted shingle-df ledger — the state
    behind :func:`score_batch_novelty`, committed the same way as
    :func:`run_split_ledger_update`: the merged ledger is staged and
    published as one LogTable replace commit against the snapshot it
    was merged from, so a crash leaves the previous version live and
    the replay converges (``merge_shingle_ledger`` is a deterministic
    re-aggregate; unreferenced staged files are vacuum garbage, never
    a read target).

    Batches must be doc-DISJOINT from prior ingests (the additivity
    precondition ``merge_shingle_ledger`` documents) — replaying the
    SAME batch would double its counts; production keys ingestion by
    snapshot range (``LakehousePlanner``) exactly to guarantee this.
    The compare-and-swap commit enforces the SERIAL half of that
    precondition mechanically: two concurrent ingests both reading
    version N cannot both win N+1 — the loser raises
    :class:`~w_userflow_featurestore_spark.sources.lakehouse.ConcurrentCommitError`
    instead of silently erasing the winner's counts, and re-runs its
    merge against the new current version.

    Scale note: each commit rewrites the full (sh, n_docs) ledger —
    ~16 bytes per distinct shingle, the same always-consistent-snapshot
    trade the component ledger makes; bucket by ``sh`` and rewrite
    changed buckets when the rewrite itself becomes hot.
    """
    from w_userflow_featurestore_spark.operators.dedup import (
        merge_shingle_ledger, shingle_ledger,
    )
    batch = shingle_ledger(batch_docs, n, text_col, id_col)
    version, mode, n_rows = _update_ledger(
        spark, ledger_dir, lambda: batch,
        lambda prev: merge_shingle_ledger(prev, batch))
    return NoveltyLedgerResult(version, mode, n_rows)


# feature jobs in dependency order; item_daily feeds top_item_per_day the
# way the reference's episode job feeds the webtoon job
# (gold_webtoon_daily_metrics.py:74-85, gold_daily_dag.py:146)
def run_daily_features(spark: SparkSession, silver_path: str, events: DataFrame,
                       out_dir: str, min_rows_per_day: int = 1,
                       table_format: str = "parquet",
                       for_date: str | None = None,
                       quality_rules: list[dict] | None = None) -> dict[str, int]:
    """All gold-grain feature tables, gated then written idempotently.
    ``table_format="log"`` makes each table a LogTable whose daily
    overwrite is one atomic remove+add commit (reference S10 on a real
    format); the silver input is read from either backend.

    Returns rows WRITTEN per table by THIS run (observed on the write
    action itself). Under dynamic partition overwrite that is the row
    count of the partitions this run produced — prior-day partitions
    remain in the table but are deliberately not re-counted (a total-
    table count would cost a full re-read per table; callers wanting
    totals can count the table on read).

    ``for_date`` (``YYYY-MM-DD``) = the reference's daily-DAG regime
    (gold_daily_dag.py runs per execution date): inputs are bounded to
    ``datetime <= for_date`` — a partition-pruned upper scan bound, so
    history-dependent metrics (user return intervals) see exactly the
    history they would have seen on that day — and only the
    ``for_date`` partition of each table is produced and overwritten.
    At 100 TB this is THE difference between a daily job that touches
    one day's partitions and one that rewrites the table: recompute
    cost tracks history size read-only, write cost tracks one day.
    Re-running any date converges (same inputs -> same partition)."""
    from w_userflow_featurestore_spark.sources import LogTable
    if LogTable.is_log_table(silver_path):
        sessions = LogTable(spark, silver_path).read()
    else:
        sessions = spark.read.parquet(silver_path)
    if for_date is not None:
        d = F.lit(for_date).cast("date")
        sessions = sessions.where(F.col("datetime") <= d)
        # raw-ts bound (not to_date(ts) <= d) so the predicate pushes
        # to the events parquet scan instead of hiding behind a cast
        events = events.where(
            F.col("ts") < F.date_add(d, 1).cast("timestamp"))
    import datetime as _dt
    completeness_gate(
        sessions, "datetime", min_rows_per_day,
        partitions=([_dt.date.fromisoformat(for_date)]
                    if for_date else None))
    if quality_rules:
        # content constraints on the silver input, same fail-fast spot
        # as the volume gate (before any gold partition is touched)
        quality_gate(sessions, quality_rules)

    item = M.item_daily(events)
    outputs: dict[str, DataFrame] = {
        "user_daily": M.user_daily_full(sessions, events),
        "item_daily": item,
        "top_item_per_day": M.top_item_per_day(item),   # consumes item_daily
        "entry_type_daily": M.entry_type_daily(sessions),
        "cohort_vs_global": M.cohort_vs_global(sessions),
    }
    written: dict[str, int] = {}
    for name, df in outputs.items():
        if for_date is not None:
            df = df.where(F.col("datetime")
                          == F.lit(for_date).cast("date"))
        # rows-written diagnostic rides the write action itself (observe,
        # not a post-hoc re-read+count of the table we just wrote)
        obs = Observation()
        df = df.observe(obs, F.count(F.lit(1)).alias("rows"))
        overwrite_partitions(df, f"{out_dir}/{name}", ["datetime"],
                             format="log" if table_format == "log"
                             else "auto")
        written[name] = int(obs.get["rows"])
    return written
