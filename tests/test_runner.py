"""Control plane: silver runner idempotency, completeness gate, feature
job sequencing (reference DAG behaviors as library functions)."""

from __future__ import annotations

import datetime as dt

import pytest

from tests.conftest import rows
from w_userflow_featurestore_spark.runner import (
    CompletenessError, completeness_gate, run_daily_features, run_silver,
)

EVENTS_DDL = ("event_id long, ts timestamp, user_id long, event_type string,"
              " value double, props string")
NOW = "2024-02-01 00:00:00"


def _ev(eid, ts, uid, etype="view", value=1.0):
    return (eid, dt.datetime.fromisoformat(ts), uid, etype, value, '{"k": 1}')


def _write(spark, path, data):
    spark.createDataFrame(data, EVENTS_DDL).coalesce(1) \
         .write.mode("append").parquet(path)


def test_run_silver_incremental_and_idempotent(spark, tmp_path):
    events, silver, ledger = (str(tmp_path / p)
                              for p in ("events", "silver", "ledger.json"))
    _write(spark, events, [
        _ev(1, "2024-01-01 10:00:00", 1),
        _ev(2, "2024-01-01 10:05:00", 1, "purchase", 60.0),
        _ev(3, "2024-01-01 10:00:00", 2),
    ])
    r1 = run_silver(spark, events, silver, ledger, NOW)
    assert r1.mode == "full" and r1.sessions_upserted == 2
    assert spark.read.parquet(silver).count() == 2

    # no new data -> empty increment, silver unchanged
    r2 = run_silver(spark, events, silver, ledger, NOW)
    assert r2.mode == "empty"
    assert spark.read.parquet(silver).count() == 2

    # new day of events -> incremental read, upsert adds only new sessions
    _write(spark, events, [_ev(4, "2024-01-02 09:00:00", 1)])
    r3 = run_silver(spark, events, silver, ledger, NOW)
    assert r3.mode == "incremental" and r3.input_rows == 1
    got = spark.read.parquet(silver)
    assert got.count() == 3
    assert rows(got.select("datetime").distinct()) == [
        (dt.date(2024, 1, 1),), (dt.date(2024, 1, 2),)]


def test_run_silver_dirty_input_cleansed(spark, tmp_path):
    events, silver, ledger = (str(tmp_path / p)
                              for p in ("events", "silver", "ledger.json"))
    _write(spark, events, [
        _ev(1, "2024-01-01 10:00:00", 1),
        _ev(1, "2024-01-01 10:00:30", 1),          # duplicate event_id
        (2, dt.datetime.fromisoformat("2024-01-01 10:01:00"),
         None, "view", 1.0, "{}"),                 # null user -> dropped
    ])
    r = run_silver(spark, events, silver, ledger, NOW)
    assert r.input_rows == 1                        # dedup + null-drop
    assert r.sessions_upserted == 1


def test_completeness_gate(spark):
    df = spark.createDataFrame(
        [(dt.date(2024, 1, 1), i) for i in range(5)]
        + [(dt.date(2024, 1, 2), 0)],
        "datetime date, x int")
    got = completeness_gate(df, "datetime", min_rows=1)
    assert got[dt.date(2024, 1, 1)] == 5
    with pytest.raises(CompletenessError, match="2024, 1, 2"):
        completeness_gate(df, "datetime", min_rows=2)
    # a required partition with no rows at all also fails
    with pytest.raises(CompletenessError):
        completeness_gate(df, "datetime", 1,
                          partitions=[dt.date(2024, 1, 3)])


def test_run_daily_features_end_to_end(spark, tmp_path):
    events, silver, ledger, gold = (str(tmp_path / p) for p in
                                    ("events", "silver", "ledger.json", "gold"))
    _write(spark, events, [
        _ev(1, "2024-01-01 10:00:00", 1),
        _ev(2, "2024-01-01 10:05:00", 1, "purchase", 60.0),
        _ev(3, "2024-01-01 11:00:00", 2, "error", 5.0),
    ])
    run_silver(spark, events, silver, ledger, NOW)
    ev_df = spark.read.parquet(events)
    written = run_daily_features(spark, silver, ev_df, gold)
    assert set(written) == {"user_daily", "item_daily", "top_item_per_day",
                            "entry_type_daily", "cohort_vs_global"}
    assert written["user_daily"] == 2               # 2 users that day
    assert written["top_item_per_day"] == 1         # one day -> one winner
    # idempotent: rerun converges to identical contents
    again = run_daily_features(spark, silver, ev_df, gold)
    assert written == again


def test_run_daily_features_for_date_matches_full_run(spark, tmp_path):
    """Day-scoped gold (the reference's per-execution-date DAG regime):
    running each date separately with for_date must converge to the
    exact same tables as one full recompute — including the
    history-dependent return-interval metrics, because the scan is
    bounded at for_date, not sliced to it."""
    events, silver, ledger = (str(tmp_path / p)
                              for p in ("events", "silver", "ledger.json"))
    _write(spark, events, [
        _ev(1, "2024-01-01 10:00:00", 1),
        _ev(2, "2024-01-01 10:05:00", 1, "purchase", 60.0),
        _ev(3, "2024-01-02 09:00:00", 1),            # day-2 return visit
        _ev(4, "2024-01-02 11:00:00", 2, "error", 5.0),
        _ev(5, "2024-01-03 08:00:00", 2, "purchase", 9.0),
    ])
    run_silver(spark, events, silver, ledger, NOW)
    ev_df = spark.read.parquet(events)
    g_full, g_daily = str(tmp_path / "g_full"), str(tmp_path / "g_daily")
    run_daily_features(spark, silver, ev_df, g_full)
    for d in ("2024-01-01", "2024-01-02", "2024-01-03"):
        run_daily_features(spark, silver, ev_df, g_daily, for_date=d)
    for t in ("user_daily", "item_daily", "top_item_per_day",
              "entry_type_daily", "cohort_vs_global"):
        full = spark.read.parquet(f"{g_full}/{t}")
        daily = spark.read.parquet(f"{g_daily}/{t}")
        cols = sorted(full.columns)
        assert sorted(map(tuple, full.select(*cols).collect())) == \
            sorted(map(tuple, daily.select(*cols).collect())), t
    # re-running one date converges (idempotent partition overwrite)
    run_daily_features(spark, silver, ev_df, g_daily,
                       for_date="2024-01-02")
    ud = spark.read.parquet(f"{g_daily}/user_daily")
    full_ud = spark.read.parquet(f"{g_full}/user_daily")
    assert ud.count() == full_ud.count()


def test_quality_gate_blocks_bad_silver(spark, tmp_path):
    """Content constraints refuse the gold write before any partition
    is touched — and the error reports EVERY failing rule."""
    import pytest as _pt

    from w_userflow_featurestore_spark.operators.quality import (
        not_null, unique,
    )
    from w_userflow_featurestore_spark.runner import (
        QualityGateError, quality_gate,
    )
    df = spark.createDataFrame(
        [(1, "a"), (1, "b"), (None, "c")], "session_id long, v string")
    with _pt.raises(QualityGateError) as ei:
        quality_gate(df, [not_null("session_id"), unique("session_id")])
    msg = str(ei.value)
    assert "session_id_not_null" in msg and "session_id_unique" in msg
    # a clean frame passes silently
    ok = spark.createDataFrame([(1, "a"), (2, "b")],
                               "session_id long, v string")
    quality_gate(ok, [not_null("session_id"), unique("session_id")])


def test_open_tail_lookback_propagates_read_failures(spark, tmp_path):
    """_extend_with_open_tails treats ONLY 'table missing' as first-run.

    A corrupted silver table (or any other read failure) must raise,
    not silently skip the continuation lookback: skipping would
    re-sessionize a spanning session without its head and MERGE a
    fragment row next to the stale tail — permanent silent corruption.
    """
    import pytest as _pt

    from w_userflow_featurestore_spark.runner import _extend_with_open_tails

    events, silver = str(tmp_path / "events"), str(tmp_path / "silver")
    _write(spark, events, [_ev(1, "2024-01-01 10:00:00", 1)])
    inc = spark.read.parquet(events)

    # missing table -> first-run path, increment passes through
    out = _extend_with_open_tails(spark, inc, silver, events, "parquet")
    assert out.count() == inc.count()

    # corrupted table (a non-parquet file at the path) -> must raise
    import os
    os.makedirs(silver, exist_ok=True)
    with open(os.path.join(silver, "part-00000.parquet"), "w") as fh:
        fh.write("this is not parquet")
    with _pt.raises(Exception) as ei:
        _extend_with_open_tails(
            spark, inc, silver, events, "parquet").count()
    assert "PATH_NOT_FOUND" not in str(ei.value)

    # LogTable format: zero-commit table -> first-run; corrupt log -> raise
    logdir = str(tmp_path / "logsilver")
    out = _extend_with_open_tails(spark, inc, logdir, events, "log")
    assert out.count() == inc.count()
    os.makedirs(os.path.join(logdir, "_txn_log"), exist_ok=True)
    with open(os.path.join(logdir, "_txn_log", "00000000000000000001.json"),
              "w") as fh:
        fh.write("{corrupt json")
    with _pt.raises(Exception):
        _extend_with_open_tails(spark, inc, logdir, events, "log").count()


def test_split_ledger_persist_reload_extend_three_batches(spark, tmp_path):
    """The leakage-split ledger's persistence loop: three batches ingest
    through run_split_ledger_update (persist -> reload -> extend), and
    after every commit the ledger equals component_ledger rebuilt from
    scratch on everything ingested so far — state never drifts. Each
    update is one LogTable commit published only after its write lands
    (versions 1..3), so a crashed run would leave the prior version
    live."""
    import json
    import os
    from w_userflow_featurestore_spark.operators.sampling import (
        component_ledger,
    )
    from w_userflow_featurestore_spark.runner import (
        read_split_ledger, run_split_ledger_update,
    )
    ledger_dir = str(tmp_path / "split_ledger")
    os.makedirs(ledger_dir)
    # batch i brings docs 10i..10i+9; pairs touch earlier batches so
    # merges cross ingest boundaries (the star-collapse path)
    batches = [
        (range(0, 10), [(0, 3), (4, 7)]),
        (range(10, 20), [(10, 11), (12, 3)]),     # 12 joins {0,3}'s comp
        (range(20, 30), [(20, 4), (20, 10)]),     # merges two old comps
    ]
    seen_docs, seen_pairs = [], []
    for i, (ids, prs) in enumerate(batches, start=1):
        docs = spark.createDataFrame([(d,) for d in ids], "doc_id long")
        pairs = spark.createDataFrame(prs or [(None, None)],
                                      "doc_a long, doc_b long") \
            .where("doc_a IS NOT NULL")
        res = run_split_ledger_update(spark, ledger_dir, docs, pairs)
        assert res.version == i
        assert res.mode == ("initial" if i == 1 else "incremental")
        seen_docs.extend(ids)
        seen_pairs.extend(prs)
        # on-disk protocol: commit i is ONE sequence file in the log
        with open(os.path.join(ledger_dir, "_txn_log",
                               f"{i:020d}.json")) as fh:
            assert json.load(fh)["snapshot_id"] == i
        got = {tuple(r) for r in read_split_ledger(spark, ledger_dir)
               .collect()}
        all_docs = spark.createDataFrame([(d,) for d in seen_docs],
                                         "doc_id long")
        all_pairs = spark.createDataFrame(seen_pairs,
                                          "doc_a long, doc_b long")
        want = {tuple(r)
                for r in component_ledger(all_docs, all_pairs).collect()}
        assert got == want
        assert res.n_docs == len(want)
    # doc 20's pairs merged {4,7} with {10,11}: one cross-batch
    # component keyed 4; {0,3,12} stays its own, keyed 0
    final = dict(got)
    assert {final[d] for d in (0, 3, 12)} == {0}
    assert {final[d] for d in (4, 7, 10, 11, 20)} == {4}


def test_novelty_ledger_score_then_ingest_three_batches(spark, tmp_path):
    """The novelty ledger's pipeline loop: each day's batch is SCORED
    against the history ledger first, then ingested (the score-then-
    ingest order score_batch_novelty documents). After every commit the
    ledger equals shingle_ledger rebuilt from everything ingested so
    far, and each score equals incremental_novelty against an inline
    ledger of the prior batches — persistence never drifts state."""
    import json
    import os
    import pytest as _pt
    from w_userflow_featurestore_spark.operators.dedup import (
        incremental_novelty, shingle_ledger,
    )
    from w_userflow_featurestore_spark.runner import (
        read_novelty_ledger, run_novelty_ledger_update,
        score_batch_novelty,
    )
    ledger_dir = str(tmp_path / "novelty_ledger")
    os.makedirs(ledger_dir)
    with _pt.raises(FileNotFoundError):
        read_novelty_ledger(spark, ledger_dir)
    texts = {1: "a b c d e", 2: "f g h i j",        # batch 1
             3: "a b c d e", 4: "k l m n o",        # batch 2: 3 mirrors 1
             5: "f g h unique tail", 6: "p q r s"}  # batch 3: 5 overlaps 2
    mk = lambda ids: spark.createDataFrame(
        [(d, texts[d]) for d in ids], "doc_id long, text string")
    batches = [[1, 2], [3, 4], [5, 6]]
    seen: list[int] = []
    scores: dict[int, tuple] = {}
    for i, ids in enumerate(batches, start=1):
        if seen:
            got = {r["doc_id"]: (r["n_novel"], r["novelty_bp"]) for r in
                   score_batch_novelty(spark, ledger_dir,
                                       mk(ids)).collect()}
            want = {r["doc_id"]: (r["n_novel"], r["novelty_bp"]) for r in
                    incremental_novelty(mk(ids),
                                        shingle_ledger(mk(seen)))
                    .collect()}
            assert got == want
            scores.update(got)
        res = run_novelty_ledger_update(spark, ledger_dir, mk(ids))
        assert res.version == i
        assert res.mode == ("initial" if i == 1 else "incremental")
        seen.extend(ids)
        with open(os.path.join(ledger_dir, "_txn_log",
                               f"{i:020d}.json")) as fh:
            assert json.load(fh)["snapshot_id"] == i
        got_l = {tuple(r) for r in
                 read_novelty_ledger(spark, ledger_dir).collect()}
        want_l = {tuple(r) for r in shingle_ledger(mk(seen)).collect()}
        assert got_l == want_l
        assert res.n_shingles == len(want_l)
    # batch-2 scoring saw doc 3 as a full mirror of ingested doc 1;
    # batch-3 doc 6 shares nothing with any prior ingest
    assert scores[3] == (0, 0)
    assert scores[6][1] == 10000


@pytest.mark.parametrize("old", ["_ptr", "_current"])
@pytest.mark.parametrize("entry", ["read_split", "read_novelty",
                                   "update_split", "update_novelty"])
def test_ledgers_refuse_the_pointer_store_layout(spark, tmp_path, old,
                                                 entry):
    """A ledger directory in the retired pointer-store layout (``_ptr/``
    sequence files or a ``_current`` pointer) holds no LogTable
    commits. Reading it must not report "no ledger yet", and an update
    must not silently start a fresh initial ledger over its history:
    every entry point raises ValueError naming the layout, and leaves
    the directory untouched."""
    import os
    from w_userflow_featurestore_spark import runner
    d = str(tmp_path / "old_ledger")
    if old == "_ptr":
        os.makedirs(os.path.join(d, "_ptr"))
    else:
        os.makedirs(d)
        with open(os.path.join(d, "_current"), "w") as fh:
            fh.write('{"version": 3}')
    docs = spark.createDataFrame([(1, "a b c d")],
                                 "doc_id long, text string")
    pairs = spark.createDataFrame([], "doc_a long, doc_b long")
    call = {
        "read_split": lambda: runner.read_split_ledger(spark, d),
        "read_novelty": lambda: runner.read_novelty_ledger(spark, d),
        "update_split": lambda: runner.run_split_ledger_update(
            spark, d, docs.select("doc_id"), pairs),
        "update_novelty": lambda: runner.run_novelty_ledger_update(
            spark, d, docs),
    }[entry]
    with pytest.raises(ValueError, match=old):
        call()
    assert not os.path.exists(os.path.join(d, "_txn_log"))


def test_ledger_pointer_cas_rejects_the_losing_concurrent_writer(
        spark, tmp_path, monkeypatch):
    """Two concurrent ingests that both read version N must NOT both
    land — the loser's commit would silently erase the winner's counts
    from the additive ledger. The commit raises ConcurrentCommitError
    for the writer whose read went stale, and the committed ledger
    still holds exactly the winner's history."""
    import os
    import pytest as _pt
    from w_userflow_featurestore_spark.operators.dedup import (
        shingle_ledger,
    )
    from w_userflow_featurestore_spark.runner import (
        read_novelty_ledger, run_novelty_ledger_update,
    )
    from w_userflow_featurestore_spark.sources import (
        ConcurrentCommitError, LogTable,
    )
    ledger_dir = str(tmp_path / "novelty_cas")
    os.makedirs(ledger_dir)
    texts = {1: "a b c d e", 2: "f g h i j", 3: "k l m n o"}
    mk = lambda ids: spark.createDataFrame(
        [(d, texts[d]) for d in ids], "doc_id long, text string")
    assert run_novelty_ledger_update(
        spark, ledger_dir, mk([1])).version == 1
    # freeze every base read at version 1: models a writer whose read
    # happened before a rival committed (the commit itself re-lists the
    # log, so the freeze never hides the real latest from the CAS)
    monkeypatch.setattr(LogTable, "latest_snapshot_id", lambda self: 1)
    # rival B commits v2 first (it read base 1 too — via the freeze)
    assert run_novelty_ledger_update(
        spark, ledger_dir, mk([2])).version == 2
    # rival A now merges against v1 and tries to commit v2: CAS loses
    with _pt.raises(ConcurrentCommitError):
        run_novelty_ledger_update(spark, ledger_dir, mk([3]))
    monkeypatch.undo()
    # the winner's history is intact: ledger == batches {1} + {2}
    got = {tuple(r) for r in
           read_novelty_ledger(spark, ledger_dir).collect()}
    want = {tuple(r) for r in shingle_ledger(mk([1, 2])).collect()}
    assert got == want
    # and the re-run against the fresh base succeeds as v3
    assert run_novelty_ledger_update(
        spark, ledger_dir, mk([3])).version == 3


def test_ledger_pointer_file_store_cas_and_legacy_upgrade(spark, tmp_path):
    """The ledger commit is LogTable's: a replace commit validated
    against ``expected_base`` is a compare-and-swap on the log's dense
    sequence numbers — a stale base raises, whether the table is empty
    or has moved on."""
    import pytest as _pt
    from w_userflow_featurestore_spark.sources import (
        ConcurrentCommitError, LogTable,
    )
    t = LogTable.create(spark, str(tmp_path / "led"))
    assert t.latest_snapshot_id() is None
    with _pt.raises(ConcurrentCommitError):
        t._commit("replace", [], [], expected_base=1)  # nothing committed
    assert t._commit("replace", [], [], expected_base=None) == 1
    assert t.latest_snapshot_id() == 1
    with _pt.raises(ConcurrentCommitError):
        t._commit("replace", [], [], expected_base=None)  # lost the race
    with _pt.raises(ConcurrentCommitError):
        t._commit("replace", [], [], expected_base=2)  # base never existed
    assert t._commit("replace", [], [], expected_base=1) == 2
    assert t.latest_snapshot_id() == 2


def test_file_pointer_store_exactly_one_winner_under_real_threads(
        spark, tmp_path):
    """The exclusive publish of the next sequence number IS the CAS: 8
    threads that all read base 1 race to commit through one barrier —
    exactly one wins, every loser gets ConcurrentCommitError, and the
    committed entry is the winner's."""
    import os
    import threading
    from concurrent.futures import ThreadPoolExecutor
    from w_userflow_featurestore_spark.sources import (
        ConcurrentCommitError, LogTable,
    )
    t = LogTable.create(spark, str(tmp_path / "led"))
    t._commit("replace", [], [], txn="base", expected_base=None)
    barrier = threading.Barrier(8)

    def worker(i):
        barrier.wait()
        try:
            t._commit("replace", [], [], txn=f"w{i}", expected_base=1)
            return ("win", i)
        except ConcurrentCommitError:
            return ("lose", i)

    with ThreadPoolExecutor(max_workers=8) as ex:
        outcomes = list(ex.map(worker, range(8), timeout=60))
    wins = [i for o, i in outcomes if o == "win"]
    assert len(wins) == 1
    assert len([1 for o, _ in outcomes if o == "lose"]) == 7
    snaps = t.snapshots()
    assert [s.snapshot_id for s in snaps] == [1, 2]
    assert snaps[-1].txn == f"w{wins[0]}"
    # and the log holds exactly the two committed sequence files
    assert sorted(f for f in os.listdir(t._log_path)
                  if not f.startswith("_")) == [
        f"{1:020d}.json", f"{2:020d}.json"]


def test_vacuum_ledger_reclaims_orphans_keeps_recent_versions(
        spark, tmp_path):
    """Ledger space is reclaimed by LogTable maintenance:
    expire_snapshots(keep_last) drops superseded versions from history
    and vacuum deletes their files and crash orphans, never a retained
    version's files — and the ledger reads identically afterwards."""
    import os
    from w_userflow_featurestore_spark.operators.dedup import (
        shingle_ledger,
    )
    from w_userflow_featurestore_spark.runner import (
        read_novelty_ledger, run_novelty_ledger_update,
    )
    from w_userflow_featurestore_spark.sources import LogTable
    ledger_dir = str(tmp_path / "nl")
    os.makedirs(ledger_dir)
    texts = {1: "a b c d e", 2: "f g h i j", 3: "k l m n o"}
    mk = lambda ids: spark.createDataFrame(
        [(d, texts[d]) for d in ids], "doc_id long, text string")
    for i, ids in enumerate(([1], [2], [3]), start=1):
        assert run_novelty_ledger_update(
            spark, ledger_dir, mk(ids)).version == i
    t = LogTable(spark, ledger_dir)
    v1_files = t.files(1)
    # plant a crash orphan: a staged file no commit names
    orphan = os.path.join(t._data_path, "deadbeef-orphan.parquet")
    open(orphan, "w").close()
    assert t.expire_snapshots(keep_last=2) == 1
    # default retention (24 h) keeps every young unreferenced file: the
    # orphan is indistinguishable from a concurrent writer's staged
    # file, and v1's files are reclaimed only after the window
    assert t.vacuum() == 0
    # retention 0 = the documented "no concurrent writers" mode
    assert t.vacuum(retention_seconds=0) == len(v1_files) + 1
    assert not os.path.exists(orphan)
    left = {os.path.relpath(os.path.join(r, f), t._data_path)
            for r, _d, fs in os.walk(t._data_path) for f in fs
            if f.endswith(".parquet")}
    assert left == set(t.files(2)) | set(t.files(3))
    # the two retained versions still read, the latest unchanged
    assert [s.snapshot_id for s in t.snapshots()] == [2, 3]
    assert t.read(2).count() > 0
    got = {tuple(r) for r in
           read_novelty_ledger(spark, ledger_dir).collect()}
    want = {tuple(r) for r in shingle_ledger(mk([1, 2, 3])).collect()}
    assert got == want


def test_file_pointer_store_readers_never_see_partial_commits(
        spark, tmp_path):
    """The write-then-link publish contract: concurrent readers
    hammering snapshots() while writers race a 30-version CAS chain
    must never observe a half-written commit file (a bare
    open('x')+dump publish fails exactly here under load: a reader
    parses a created-but-not-yet-written sequence file into
    JSONDecodeError)."""
    import json
    import os
    import threading
    from concurrent.futures import ThreadPoolExecutor
    from w_userflow_featurestore_spark.sources import (
        ConcurrentCommitError, LogTable,
    )
    t = LogTable.create(spark, str(tmp_path / "led"))
    stop = threading.Event()
    reader_errors: list[Exception] = []

    def reader():
        while not stop.is_set():
            try:
                for s in t.snapshots():
                    assert s.operation == "replace"
            except Exception as exc:  # noqa: BLE001 — the assertion
                reader_errors.append(exc)
                return

    def writer():
        # race the chain forward with CAS retries until v30 commits
        while not stop.is_set():
            base = t.latest_snapshot_id()
            if base is not None and base >= 30:
                return
            try:
                t._commit("replace", [], [], expected_base=base)
            except ConcurrentCommitError:
                continue

    with ThreadPoolExecutor(max_workers=7) as ex:
        readers = [ex.submit(reader) for _ in range(3)]
        writers = [ex.submit(writer) for _ in range(4)]
        try:
            for w in writers:
                w.result(timeout=60)
        finally:
            stop.set()
        for r in readers:
            r.result(timeout=60)
    assert not reader_errors, reader_errors[:1]
    assert t.latest_snapshot_id() >= 30
    # every published sequence file parses (no torn commits on disk)
    for name in os.listdir(t._log_path):
        if name.startswith("_"):
            continue
        assert name.endswith(".json"), name    # no leaked tmp files
        with open(os.path.join(t._log_path, name)) as fh:
            assert "snapshot_id" in json.load(fh)


def test_file_pointer_store_crash_between_write_and_link(
        spark, tmp_path, monkeypatch):
    """Crash injection: a writer dying between its private tmp write
    and the atomic link publish must leave NO visible commit — readers
    still see only complete commits, a rerun of the same commit
    succeeds cleanly, and vacuum's _txn_log/*.tmp sweep reclaims the
    orphaned tmp."""
    import os
    from w_userflow_featurestore_spark.sources import LogTable
    t = LogTable.create(spark, str(tmp_path / "led"))
    t._commit("replace", [], [], txn="base", expected_base=None)

    def dying_link(src, dst, **kw):
        raise KeyboardInterrupt("simulated crash before publish")

    monkeypatch.setattr(os, "link", dying_link)
    try:
        t._commit("replace", [], [], txn="crashed", expected_base=1)
    except KeyboardInterrupt:
        pass
    monkeypatch.undo()
    # the crash is invisible: v2 never published, reads are complete
    assert t.latest_snapshot_id() == 1
    log = t._log_path
    # an in-process raise still runs the finally-unlink; a HARD kill
    # (SIGKILL / power loss) does not — plant the orphan exactly as a
    # hard kill between write and link leaves it: torn content under a
    # name the reader's *.json pattern never matches
    assert [n for n in os.listdir(log) if n.endswith(".tmp")] == []
    orphan = os.path.join(log, f"{2:020d}.json.dead.tmp")
    with open(orphan, "w") as fh:
        fh.write('{"snapshot_id"')
    # readers never parse tmp files
    assert [s.txn for s in t.snapshots()] == ["base"]
    # the rerun commits cleanly over the orphan
    assert t._commit("replace", [], [], txn="retry",
                     expected_base=1) == 2
    assert t.snapshots()[-1].txn == "retry"
    # vacuum keeps a young tmp (possibly a commit in flight), reclaims
    # it once past retention, and never touches published commits
    assert t.vacuum() == 0
    assert t.vacuum(retention_seconds=0) == 1
    assert sorted(n for n in os.listdir(log) if not n.startswith("_")) \
        == [f"{1:020d}.json", f"{2:020d}.json"]


def test_file_pointer_store_falls_back_when_hard_links_unsupported(
        spark, tmp_path, monkeypatch):
    """Filesystems without hard links (some NFS/FUSE/object-store
    mounts) must degrade to bare O_CREAT|O_EXCL — the CAS contract
    holds (winner commits, a stale rewrite gets ConcurrentCommitError,
    a racing append takes the next number), only the torn-read
    guarantee narrows."""
    import errno
    import os
    import pytest as _pt
    from w_userflow_featurestore_spark.sources import (
        ConcurrentCommitError, LogTable,
    )
    t = LogTable.create(spark, str(tmp_path / "led"))

    def no_links(src, dst, **kw):
        raise OSError(errno.EPERM, "hard links not supported")

    monkeypatch.setattr(os, "link", no_links)
    assert t._commit("replace", [], [], txn="a", expected_base=None) == 1
    assert [s.txn for s in t.snapshots()] == ["a"]
    # no tmp leaks on the fallback path either
    assert [n for n in os.listdir(t._log_path) if n.endswith(".tmp")] == []
    # the filename race still loses cleanly through the fallback: the
    # pre-write check is blinded so the exclusive create decides
    real_snapshots = LogTable.snapshots
    monkeypatch.setattr(LogTable, "snapshots", lambda self: [])
    with _pt.raises(ConcurrentCommitError):
        t._commit("replace", [], [], txn="b", expected_base=None)
    monkeypatch.setattr(LogTable, "snapshots", real_snapshots)
    assert t._commit("replace", [], [], txn="c", expected_base=1) == 2
    assert t._commit("append", [], [], txn="d") == 3
    # an UNRELATED OSError still surfaces (only link-capability
    # errnos trigger the fallback)

    def disk_full(src, dst, **kw):
        raise OSError(errno.ENOSPC, "no space")

    monkeypatch.setattr(os, "link", disk_full)
    with _pt.raises(OSError, match="no space"):
        t._commit("replace", [], [], expected_base=3)
    assert t.latest_snapshot_id() == 3


def test_enosys_link_failure_takes_the_fallback_path(
        spark, tmp_path, monkeypatch):
    """Several FUSE/network filesystems raise ENOSYS (not
    EPERM/EOPNOTSUPP) for an unimplemented os.link — that errno must
    classify as link-unsupported and degrade to the O_CREAT|O_EXCL
    path instead of dying with an unclassified OSError."""
    import errno
    import os
    from w_userflow_featurestore_spark.sources import LogTable
    t = LogTable.create(spark, str(tmp_path / "led"))

    def no_syscall(src, dst, **kw):
        raise OSError(errno.ENOSYS, "function not implemented")

    monkeypatch.setattr(os, "link", no_syscall)
    assert t._commit("replace", [], [], txn="a", expected_base=None) == 1
    assert [s.txn for s in t.snapshots()] == ["a"]


def test_fallback_write_failure_retracts_the_published_name(
        spark, tmp_path, monkeypatch):
    """On the no-hardlink fallback path the O_EXCL create PUBLISHES the
    sequence name before the body is written — a write failure
    (ENOSPC/EIO) must retract the torn file, or every subsequent read
    json-decode-crashes and every retry misreports a lost CAS race."""
    import errno
    import json
    import os
    import pytest as _pt
    from w_userflow_featurestore_spark.sources import LogTable
    t = LogTable.create(spark, str(tmp_path / "led"))

    def no_links(src, dst, **kw):
        raise OSError(errno.EPERM, "hard links not supported")

    monkeypatch.setattr(os, "link", no_links)
    t._commit("replace", [], [], txn="a", expected_base=None)
    real_dump = json.dump
    state = {"n": 0}

    def dump_fails_on_target(obj, fh, **kw):
        # per commit: dump #1 writes the private tmp, dump #2 the
        # O_EXCL-published target — fail the published one
        state["n"] += 1
        if state["n"] == 2:
            raise OSError(errno.ENOSPC, "no space left on device")
        return real_dump(obj, fh, **kw)

    monkeypatch.setattr(json, "dump", dump_fails_on_target)
    with _pt.raises(OSError, match="no space"):
        t._commit("replace", [], [], txn="torn", expected_base=1)
    monkeypatch.setattr(json, "dump", real_dump)
    # the torn publish was retracted: reads are whole, v2's name free
    assert [s.txn for s in t.snapshots()] == ["a"]
    assert not os.path.exists(os.path.join(t._log_path, f"{2:020d}.json"))
    # the retry commits cleanly instead of a phantom lost-race error
    assert t._commit("replace", [], [], txn="retry", expected_base=1) == 2
    assert t.snapshots()[-1].txn == "retry"
