"""Randomized cross-engine parity: the relational query suite vs its
DuckDB oracles on GENERATED micro-instances.

The driver's correctness gate runs every oracle on the fixed fixture
tables — thorough on that data, blind to everything the fixtures never
contain (boundary dates on a ts_filter edge, negative balances, empty
join sides, months with one row). This harness generates small random
TPC-H-shaped instances with hypothesis, writes them as parquet, and
requires the Spark query and the oracle SQL to agree cell-for-cell on
each one — the oracle is an independent implementation, so agreement
on arbitrary data pins the SEMANTICS, not the fixture.
"""

# Round 13: max_examples trimmed ~2x so the driver's full-suite run
# fits its wall-clock budget (VERIFY_r12 truncated at ~87% with zero
# failures). Deep sweeps: raise them locally or via a hypothesis
# profile; seeds/strategies are unchanged.


from __future__ import annotations

import datetime as dt
import shutil

import pandas as pd
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from tests.conftest import SF0001
from tests.oracle_check import run_check

# queries whose inputs are only the TPC-H star tables
REL_QUERIES = [
    "pricing_summary", "revenue_by_nation", "promo_revenue",
    "volume_shipping", "large_volume_orders", "sole_return_supplier",
    "idle_customer_balance", "top_revenue_supplier",
    "bulk_part_suppliers", "above_avg_orders", "customers_no_orders",
    "big_spender_customers", "shipping_priority",
    "order_priority_counts", "salted_join",
    "small_quantity_revenue", "bracket_revenue",
    "market_share", "product_profit", "returned_item_customers",
    "discount_band_revenue", "order_count_distribution",
]

BASE_DAY = dt.datetime(1994, 1, 1)
# offsets that land EXACTLY on the predicates' boundary dates
_BOUNDARY_DAYS = [
    (dt.datetime(1995, 3, 15) - BASE_DAY).days,   # shipping_priority
    (dt.datetime(1996, 1, 1) - BASE_DAY).days,    # promo/top_revenue lo
    (dt.datetime(1996, 3, 31) - BASE_DAY).days,   # top_revenue hi
    (dt.datetime(1996, 12, 31) - BASE_DAY).days,  # promo hi
    (dt.datetime(2000, 1, 1) - BASE_DAY).days,    # idle_customer cutoff
    (dt.datetime(1995, 10, 1) - BASE_DAY).days,   # returned_item lo
    (dt.datetime(1995, 12, 31) - BASE_DAY).days,  # returned_item hi
]

day_strategy = st.one_of(
    st.integers(0, 2900),
    st.sampled_from(_BOUNDARY_DAYS))

cents = st.integers(1, 999_999).map(lambda c: c / 100.0)
small_cents = st.integers(-99_999, 999_999).map(lambda c: c / 100.0)
qty = st.integers(100, 5100).map(lambda c: c / 100.0)
disc = st.integers(0, 10).map(lambda c: c / 100.0)


def maybe(strategy):
    """~1-in-5 NULL — pandas NaN/NaT become parquet nulls, which both
    engines read back as SQL NULL; the fixtures contain none, so this is
    the only place NULL semantics of the relational suite get tested."""
    return st.one_of(st.just(None), strategy, strategy, strategy,
                     strategy)


@st.composite
def micro_instance(draw):
    n_nation = 4
    nation = pd.DataFrame({
        "n_nationkey": pd.array(range(n_nation), dtype="int64"),
        "n_name": ["NATION_1", "NATION_2", "NATION_3", "NATION_4"],
        "n_regionkey": pd.array([0, 0, 1, 1], dtype="int64"),
    })
    region = pd.DataFrame({
        "r_regionkey": pd.array([0, 1], dtype="int64"),
        "r_name": ["ASIA", "EUROPE"],
    })
    n_cust = draw(st.integers(1, 6))
    customer = pd.DataFrame({
        "c_custkey": pd.array(range(1, n_cust + 1), dtype="int64"),
        "c_name": [f"cust{i}" for i in range(1, n_cust + 1)],
        "c_nationkey": pd.array(
            [draw(st.integers(0, n_nation - 1)) for _ in range(n_cust)],
            dtype="int64"),
        "c_acctbal": [draw(maybe(small_cents)) for _ in range(n_cust)],
        "c_mktsegment": [draw(st.sampled_from(["BUILDING", "AUTOMOBILE"]))
                         for _ in range(n_cust)],
    })
    n_supp = draw(st.integers(1, 4))
    supplier = pd.DataFrame({
        "s_suppkey": pd.array(range(1, n_supp + 1), dtype="int64"),
        "s_name": [f"supp{i}" for i in range(1, n_supp + 1)],
        "s_nationkey": pd.array(
            [draw(st.integers(0, n_nation - 1)) for _ in range(n_supp)],
            dtype="int64"),
        "s_acctbal": [draw(small_cents) for _ in range(n_supp)],
    })
    n_part = draw(st.integers(1, 5))
    part = pd.DataFrame({
        "p_partkey": pd.array(range(1, n_part + 1), dtype="int64"),
        "p_name": [draw(st.sampled_from(
            ["red widget", "blue bolt", "small gizmo", "hot widget"]))
            for _ in range(1, n_part + 1)],
        # real-fixture brands appear so the Q17/Q19-shape brand filters
        # actually select rows on some instances
        "p_brand": [draw(st.sampled_from(
            ["B1", "Brand#13", "Brand#22", "Brand#25"]))
            for _ in range(n_part)],
        "p_type": [draw(st.sampled_from(["PROMO", "STANDARD"]))
                   for _ in range(n_part)],
        "p_size": pd.array([draw(st.integers(1, 50))
                            for _ in range(n_part)], dtype="int64"),
        "p_retailprice": [draw(cents) for _ in range(n_part)],
    })
    n_ord = draw(st.integers(0, 10))
    orders = pd.DataFrame({
        "o_orderkey": pd.array(range(1, n_ord + 1), dtype="int64"),
        "o_custkey": pd.array(
            [draw(st.integers(1, n_cust)) for _ in range(n_ord)],
            dtype="int64"),
        "o_orderstatus": [draw(st.sampled_from(["F", "O"]))
                          for _ in range(n_ord)],
        "o_totalprice": [draw(cents) for _ in range(n_ord)],
        "o_orderdate": pd.Series(
            [None if draw(st.integers(0, 4)) == 0
             else BASE_DAY + dt.timedelta(days=draw(day_strategy))
             for _ in range(n_ord)], dtype="datetime64[us]"),
        "o_orderpriority": [draw(st.sampled_from(["1-URGENT", "3-MEDIUM"]))
                            for _ in range(n_ord)],
    })
    n_li = draw(st.integers(0, 20)) if n_ord else 0
    lineitem = pd.DataFrame({
        "l_orderkey": pd.array(
            [draw(st.integers(1, n_ord)) for _ in range(n_li)],
            dtype="int64"),
        "l_partkey": pd.array(
            [draw(st.integers(1, n_part)) for _ in range(n_li)],
            dtype="int64"),
        "l_suppkey": pd.array(
            [draw(st.integers(1, n_supp)) for _ in range(n_li)],
            dtype="int64"),
        "l_linenumber": pd.array(range(1, n_li + 1), dtype="int64"),
        "l_quantity": [draw(qty) for _ in range(n_li)],
        "l_extendedprice": [draw(cents) for _ in range(n_li)],
        "l_discount": [draw(maybe(disc)) for _ in range(n_li)],
        "l_tax": [draw(disc) for _ in range(n_li)],
        "l_returnflag": [draw(st.sampled_from(["R", "N", "A"]))
                         for _ in range(n_li)],
        "l_linestatus": [draw(st.sampled_from(["F", "O"]))
                         for _ in range(n_li)],
        "l_shipdate": pd.Series(
            [None if draw(st.integers(0, 4)) == 0
             else BASE_DAY + dt.timedelta(days=draw(day_strategy))
             for _ in range(n_li)], dtype="datetime64[us]"),
    })
    return {"region": region, "nation": nation, "customer": customer,
            "supplier": supplier, "part": part, "orders": orders,
            "lineitem": lineitem}


def _write_instance(dirpath, tables: dict) -> None:
    import pyarrow.parquet as pq
    from pyarrow import Table

    dirpath.mkdir(parents=True, exist_ok=True)
    for name, df in tables.items():
        pq.write_table(Table.from_pandas(df, preserve_index=False),
                       str(dirpath / f"{name}.parquet"))
    # the oracle connection registers views for ALL fixture tables;
    # the unused ones just need to exist with their real schema
    for extra in ("events", "documents", "embeddings"):
        pq.write_table(
            pq.read_table(f"{SF0001}/{extra}.parquet").slice(0, 0),
            str(dirpath / f"{extra}.parquet"))


@settings(max_examples=2, deadline=None, print_blob=True,
          suppress_health_check=[HealthCheck.too_slow,
                                 HealthCheck.function_scoped_fixture])
@given(tables=micro_instance())
def test_relational_queries_match_oracles_on_random_instances(
        spark, tmp_path_factory, tables):
    d = tmp_path_factory.mktemp("microtpch")
    try:
        _write_instance(d, tables)
        results = run_check(spark, str(d), only=REL_QUERIES)
        assert len(results) == len(REL_QUERIES)
        bad = {n: p for n, p in results.items() if p}
        assert not bad, bad
    finally:
        shutil.rmtree(d, ignore_errors=True)


# ------------------------------------------------------- events family

# queries that read ONLY the events table
EVENT_QUERIES = [
    "dedup_latest", "sessions", "user_daily", "entry_type_daily",
    "binge_ratio", "funnel_daily", "event_transitions",
    "behavior_trigrams", "behavior_diversity", "event_rollup",
    "event_cube", "event_type_pivot", "rolling_active_users",
    "cohort_retention", "item_daily",
]

EVENT_TYPES = ["signup", "click", "error", "view", "purchase"]
EV_BASE = dt.datetime(2024, 1, 2, 0, 0, 0)


@st.composite
def events_instance(draw):
    n_users = draw(st.integers(1, 6))
    n_ev = draw(st.integers(1, 60))
    # second-level offsets over ~12 days; duplicates allowed on purpose
    # (tie-break semantics), sub-30-min AND super-30-min gaps both occur
    offs = [draw(st.integers(0, 12 * 24 * 3600)) for _ in range(n_ev)]
    events = pd.DataFrame({
        "event_id": pd.array(range(n_ev), dtype="int64"),
        "ts": pd.Series([EV_BASE + dt.timedelta(seconds=s)
                         for s in offs], dtype="datetime64[us]"),
        "user_id": pd.array(
            [draw(st.integers(1, n_users)) for _ in range(n_ev)],
            dtype="int64"),
        # NULL event types included: the fixtures have none, so this is
        # the only oracle-parity coverage of NULL-step semantics
        # (e.g. behavior_trigrams' any-NULL-step disqualification)
        "event_type": [draw(maybe(st.sampled_from(EVENT_TYPES)))
                       for _ in range(n_ev)],
        "value": [draw(maybe(st.integers(1, 33_000)
                             .map(lambda c: c / 100.0)))
                  for _ in range(n_ev)],
        "props": [draw(maybe(st.integers(0, 99)
                             .map(lambda k: '{"k": %d}' % k)))
                  for _ in range(n_ev)],
    })
    return events


@settings(max_examples=2, deadline=None, print_blob=True,
          suppress_health_check=[HealthCheck.too_slow,
                                 HealthCheck.function_scoped_fixture])
@given(events=events_instance())
def test_event_queries_match_oracles_on_random_streams(
        spark, tmp_path_factory, events):
    import pyarrow as pa
    import pyarrow.parquet as pq
    from pyarrow import Table

    # explicit schema: an all-NULL drawn column must stay string/double,
    # not degrade to parquet's `null` type (which neither engine can
    # bind functions against)
    ev_schema = pa.schema([
        ("event_id", pa.int64()), ("ts", pa.timestamp("us")),
        ("user_id", pa.int64()), ("event_type", pa.string()),
        ("value", pa.float64()), ("props", pa.string()),
    ])
    d = tmp_path_factory.mktemp("microevents")
    try:
        pq.write_table(Table.from_pandas(events, schema=ev_schema,
                                         preserve_index=False),
                       str(d / "events.parquet"))
        for extra in ("region", "nation", "customer", "supplier", "part",
                      "orders", "lineitem", "documents", "embeddings"):
            pq.write_table(
                pq.read_table(f"{SF0001}/{extra}.parquet").slice(0, 0),
                str(d / f"{extra}.parquet"))
        results = run_check(spark, str(d), only=EVENT_QUERIES)
        assert len(results) == len(EVENT_QUERIES)
        bad = {n: p for n, p in results.items() if p}
        assert not bad, bad
    finally:
        shutil.rmtree(d, ignore_errors=True)


# ---------------------------------------------------- documents family

# queries that read ONLY the documents table
DOC_QUERIES = [
    "exact_dedup", "minhash_signatures", "ngram_jaccard_pairs",
    "simhash", "text_profile", "corpus_language_stats",
    "repetition_profile", "line_dedup", "doc_chunks", "vocab_coverage",
    "frequent_tokens", "pack_sequences", "dataset_split", "pii_scrub",
    "duplicate_spans", "incremental_duplicate_spans",
    "span_removed_corpus", "incremental_span_removed",
    # round-9 overflow ops (quality_survivor_dedup and curriculum_order
    # ride DOC_QUERIES_2 with the other iterative/composed doc ops)
    "tfidf_top_terms", "pmi_collocations", "ngram_novelty",
    "cross_source_overlap", "lang_id_confusion", "incremental_novelty",
]

# token pool stressing normalization: case, punctuation runs, digits,
# PII shapes, repeated boilerplate (line_dedup), near-dup prefixes
_TOKENS = [
    "spark", "hash", "join", "vector", "the", "scan", "merge",
    "Batch", "STREAM", "a,b", "x;y", "...", "!!", "123", "3.14",
    "bob@example.com", "+1-555-123-4567", "(555)", "555-0199",
    # unicode probes: lower() + the [^a-z0-9] normalize must agree
    # across engines (accents and CJK collapse to separators; the
    # ASCII residue must be identical)
    "café", "NAÏVE", "日本語", "Σpark",
]
_LINES = [
    "the quick brown fox", "shared boilerplate line", "",
    "Contact: bob@example.com or +1-555-123-4567.",
    "spark hash JOIN vector!!", "123 456 789",
]


@st.composite
def docs_instance(draw):
    n_docs = draw(st.integers(2, 10))
    texts = []
    for _ in range(n_docs):
        kind = draw(st.integers(0, 3))
        if kind == 0:      # word soup (dedup/minhash territory)
            texts.append(" ".join(
                draw(st.lists(st.sampled_from(_TOKENS),
                              min_size=0, max_size=25))))
        elif kind == 1:    # multi-line (line_dedup territory)
            texts.append("\n".join(
                draw(st.lists(st.sampled_from(_LINES),
                              min_size=1, max_size=6))))
        elif kind == 2 and texts:   # exact duplicate of a prior doc
            texts.append(texts[draw(st.integers(0, len(texts) - 1))])
        else:              # near-dup: shared prefix + small suffix
            base = " ".join(["spark", "hash", "join", "vector",
                             "scan", "merge", "table", "sort"] * 3)
            texts.append(base + " " + " ".join(
                draw(st.lists(st.sampled_from(_TOKENS),
                              min_size=0, max_size=3))))
    docs = pd.DataFrame({
        "doc_id": pd.array(range(n_docs), dtype="int64"),
        "text": texts,
        "lang": [draw(st.sampled_from(["en", "de", "fr", "es", "zh"]))
                 for _ in range(n_docs)],
        "source": [draw(st.sampled_from(["src0", "src1", "src2"]))
                   for _ in range(n_docs)],
        "n_chars": pd.array([len(t) for t in texts], dtype="int64"),
    })
    return docs


@settings(max_examples=2, deadline=None, print_blob=True,
          suppress_health_check=[HealthCheck.too_slow,
                                 HealthCheck.function_scoped_fixture])
@given(docs=docs_instance())
def test_doc_queries_match_oracles_on_random_corpora(
        spark, tmp_path_factory, docs):
    import pyarrow as pa
    import pyarrow.parquet as pq
    from pyarrow import Table

    doc_schema = pa.schema([
        ("doc_id", pa.int64()), ("text", pa.string()),
        ("lang", pa.string()), ("source", pa.string()),
        ("n_chars", pa.int64()),
    ])
    d = tmp_path_factory.mktemp("microdocs")
    try:
        pq.write_table(Table.from_pandas(docs, schema=doc_schema,
                                         preserve_index=False),
                       str(d / "documents.parquet"))
        for extra in ("region", "nation", "customer", "supplier", "part",
                      "orders", "lineitem", "events", "embeddings"):
            pq.write_table(
                pq.read_table(f"{SF0001}/{extra}.parquet").slice(0, 0),
                str(d / f"{extra}.parquet"))
        results = run_check(spark, str(d), only=DOC_QUERIES)
        assert len(results) == len(DOC_QUERIES)
        bad = {n: p for n, p in results.items() if p}
        assert not bad, bad
    finally:
        shutil.rmtree(d, ignore_errors=True)


# second events batch: temporal / SCD / windows / rank / sketch queries
EVENT_QUERIES_2 = [
    "scd2_history", "feature_backfill", "user_value_ranks",
    "duration_percentiles", "quantile_sketch", "distribution_drift",
    "rolling_user_features", "event_time_windows",
    "event_sliding_windows", "session_windows", "forecast_baseline",
    "churn_labels", "time_decay_features", "capped_user_events",
]


@settings(max_examples=2, deadline=None, print_blob=True,
          suppress_health_check=[HealthCheck.too_slow,
                                 HealthCheck.function_scoped_fixture])
@given(events=events_instance())
def test_event_queries_batch2_match_oracles(spark, tmp_path_factory,
                                            events):
    import pyarrow as pa
    import pyarrow.parquet as pq
    from pyarrow import Table

    ev_schema = pa.schema([
        ("event_id", pa.int64()), ("ts", pa.timestamp("us")),
        ("user_id", pa.int64()), ("event_type", pa.string()),
        ("value", pa.float64()), ("props", pa.string()),
    ])
    d = tmp_path_factory.mktemp("microevents2")
    try:
        pq.write_table(Table.from_pandas(events, schema=ev_schema,
                                         preserve_index=False),
                       str(d / "events.parquet"))
        for extra in ("region", "nation", "customer", "supplier", "part",
                      "orders", "lineitem", "documents", "embeddings"):
            pq.write_table(
                pq.read_table(f"{SF0001}/{extra}.parquet").slice(0, 0),
                str(d / f"{extra}.parquet"))
        results = run_check(spark, str(d), only=EVENT_QUERIES_2)
        assert len(results) == len(EVENT_QUERIES_2)
        bad = {n: p for n, p in results.items() if p}
        assert not bad, bad
    finally:
        shutil.rmtree(d, ignore_errors=True)


# --------------------------------------------------- embeddings family

# queries that read ONLY the embeddings table
ANN_QUERIES = [
    "ann_cosine_topk", "ann_lsh_bucket", "ann_lsh_topk", "ann_ivf_topk",
    "embedding_near_pairs", "embedding_dedup", "semantic_dedup",
    "ann_recall_gate", "cluster_balanced_sample",
    "hard_negatives", "knn_label_agreement",
    "d4_select", "ivf_recall_sweep",
]


@st.composite
def embeddings_instance(draw):
    n_vec = draw(st.integers(16, 28))
    dims = 64
    vecs = []
    for i in range(n_vec):
        if i >= 2 and draw(st.integers(0, 3)) == 0:
            # near-duplicate of an earlier vector: same direction with a
            # one-coordinate nudge (exercises the near-dup thresholds)
            base = list(vecs[draw(st.integers(0, i - 1))])
            j = draw(st.integers(0, dims - 1))
            base[j] = round(base[j] + 0.01, 3)
            vecs.append(base)
        else:
            vecs.append([draw(st.integers(-1000, 1000)) / 1000.0
                         for _ in range(dims)])
    emb = pd.DataFrame({
        "vec_id": pd.array(range(n_vec), dtype="int64"),
        "embedding": vecs,
        "label": pd.array([draw(st.integers(0, 3)) for _ in range(n_vec)],
                          dtype="int32"),
    })
    return emb


@settings(max_examples=2, deadline=None, print_blob=True,
          suppress_health_check=[HealthCheck.too_slow,
                                 HealthCheck.function_scoped_fixture])
@given(emb=embeddings_instance())
def test_ann_queries_match_oracles_on_random_vectors(
        spark, tmp_path_factory, emb):
    import pyarrow as pa
    import pyarrow.parquet as pq
    from pyarrow import Table

    emb_schema = pa.schema([
        ("vec_id", pa.int64()),
        ("embedding", pa.list_(pa.float32())),
        ("label", pa.int32()),
    ])
    d = tmp_path_factory.mktemp("microann")
    try:
        pq.write_table(Table.from_pandas(emb, schema=emb_schema,
                                         preserve_index=False),
                       str(d / "embeddings.parquet"))
        for extra in ("region", "nation", "customer", "supplier", "part",
                      "orders", "lineitem", "events", "documents"):
            pq.write_table(
                pq.read_table(f"{SF0001}/{extra}.parquet").slice(0, 0),
                str(d / f"{extra}.parquet"))
        results = run_check(spark, str(d), only=ANN_QUERIES)
        assert len(results) == len(ANN_QUERIES)
        bad = {n: p for n, p in results.items() if p}
        assert not bad, bad
    finally:
        shutil.rmtree(d, ignore_errors=True)


# third events batch: sessions-CTE consumers + ML-feature queries
EVENT_QUERIES_3 = [
    "item_continuation", "top_item_per_day", "retention_yesterday",
    "retention_today", "cohort_vs_global", "dim_gap_features",
    "ab_test", "attribution", "winsorize", "target_encode",
    "negative_samples", "key_skew_profile", "frequency_sketch",
    "hll_union_rollup",
]


@settings(max_examples=2, deadline=None, print_blob=True,
          suppress_health_check=[HealthCheck.too_slow,
                                 HealthCheck.function_scoped_fixture])
@given(events=events_instance())
def test_event_queries_batch3_match_oracles(spark, tmp_path_factory,
                                            events):
    import pyarrow as pa
    import pyarrow.parquet as pq
    from pyarrow import Table

    ev_schema = pa.schema([
        ("event_id", pa.int64()), ("ts", pa.timestamp("us")),
        ("user_id", pa.int64()), ("event_type", pa.string()),
        ("value", pa.float64()), ("props", pa.string()),
    ])
    d = tmp_path_factory.mktemp("microevents3")
    try:
        pq.write_table(Table.from_pandas(events, schema=ev_schema,
                                         preserve_index=False),
                       str(d / "events.parquet"))
        for extra in ("region", "nation", "customer", "supplier", "part",
                      "orders", "lineitem", "documents", "embeddings"):
            pq.write_table(
                pq.read_table(f"{SF0001}/{extra}.parquet").slice(0, 0),
                str(d / f"{extra}.parquet"))
        results = run_check(spark, str(d), only=EVENT_QUERIES_3)
        assert len(results) == len(EVENT_QUERIES_3)
        bad = {n: p for n, p in results.items() if p}
        assert not bad, bad
    finally:
        shutil.rmtree(d, ignore_errors=True)


# second documents batch: fingerprinting / LSH pair / tokenizer /
# sampling / curation / multimodal queries
DOC_QUERIES_2 = [
    "doc_fingerprints", "fingerprint_pairs", "minhash_lsh_pairs",
    "simhash_near_pairs", "dedup_components", "token_surprisal",
    "bpe_pair_counts", "minhash_accuracy", "top_docs_per_source",
    "source_balanced_sample", "split_summary", "contamination",
    "curate_corpus", "bm25_topk", "frequent_tokens",
    "multimodal_decode", "multimodal_frames", "multimodal_resize",
    "multimodal_audio_windows", "incremental_curate",
    "corpus_shuffle", "token_budget_mix", "leakage_safe_split",
    "incremental_leakage_split", "mixture_weights",
    "tokenizer_fertility", "split_leakage_audit", "bpe_merges",
    "bpe_encode", "bigram_surprisal", "perplexity_buckets",
    "dsir_importance", "quality_filter_verdict",
    "quality_survivor_dedup", "curriculum_order",
    "bpe_encode_persisted", "dsir_select", "dsir_select_tokens",
    "quality_rule_report", "ccnet_curate", "dedup_rate_report",
    "tokenizer_drift",
]


@settings(max_examples=2, deadline=None, print_blob=True,
          suppress_health_check=[HealthCheck.too_slow,
                                 HealthCheck.function_scoped_fixture])
@given(docs=docs_instance())
def test_doc_queries_batch2_match_oracles(spark, tmp_path_factory, docs):
    import pyarrow as pa
    import pyarrow.parquet as pq
    from pyarrow import Table

    doc_schema = pa.schema([
        ("doc_id", pa.int64()), ("text", pa.string()),
        ("lang", pa.string()), ("source", pa.string()),
        ("n_chars", pa.int64()),
    ])
    d = tmp_path_factory.mktemp("microdocs2")
    try:
        pq.write_table(Table.from_pandas(docs, schema=doc_schema,
                                         preserve_index=False),
                       str(d / "documents.parquet"))
        for extra in ("region", "nation", "customer", "supplier", "part",
                      "orders", "lineitem", "events", "embeddings"):
            pq.write_table(
                pq.read_table(f"{SF0001}/{extra}.parquet").slice(0, 0),
                str(d / f"{extra}.parquet"))
        results = run_check(spark, str(d), only=DOC_QUERIES_2)
        assert len(results) == len(DOC_QUERIES_2)
        bad = {n: p for n, p in results.items() if p}
        assert not bad, bad
    finally:
        shutil.rmtree(d, ignore_errors=True)


# fourth events batch: temporal joins, graph, quality, skew, sketch
EVENT_QUERIES_4 = [
    "quality_report", "asof_features", "interval_features",
    "training_set", "item_pagerank", "item_triangles",
    "salted_user_agg", "cardinality_sketch", "stratified_sample",
    "weighted_sample", "user_cohort_setops", "volume_anomaly",
]


@settings(max_examples=2, deadline=None, print_blob=True,
          suppress_health_check=[HealthCheck.too_slow,
                                 HealthCheck.function_scoped_fixture])
@given(events=events_instance())
def test_event_queries_batch4_match_oracles(spark, tmp_path_factory,
                                            events):
    import pyarrow as pa
    import pyarrow.parquet as pq
    from pyarrow import Table

    ev_schema = pa.schema([
        ("event_id", pa.int64()), ("ts", pa.timestamp("us")),
        ("user_id", pa.int64()), ("event_type", pa.string()),
        ("value", pa.float64()), ("props", pa.string()),
    ])
    d = tmp_path_factory.mktemp("microevents4")
    try:
        pq.write_table(Table.from_pandas(events, schema=ev_schema,
                                         preserve_index=False),
                       str(d / "events.parquet"))
        for extra in ("region", "nation", "customer", "supplier", "part",
                      "orders", "lineitem", "documents", "embeddings"):
            pq.write_table(
                pq.read_table(f"{SF0001}/{extra}.parquet").slice(0, 0),
                str(d / f"{extra}.parquet"))
        results = run_check(spark, str(d), only=EVENT_QUERIES_4)
        assert len(results) == len(EVENT_QUERIES_4)
        bad = {n: p for n, p in results.items() if p}
        assert not bad, bad
    finally:
        shutil.rmtree(d, ignore_errors=True)


@settings(max_examples=2, deadline=None, print_blob=True,
          suppress_health_check=[HealthCheck.too_slow,
                                 HealthCheck.function_scoped_fixture])
@given(docs=docs_instance(), emb=embeddings_instance())
def test_hybrid_search_matches_oracle_on_random_inputs(
        spark, tmp_path_factory, docs, emb):
    import pyarrow as pa
    import pyarrow.parquet as pq
    from pyarrow import Table

    d = tmp_path_factory.mktemp("microhybrid")
    try:
        pq.write_table(Table.from_pandas(docs, schema=pa.schema([
            ("doc_id", pa.int64()), ("text", pa.string()),
            ("lang", pa.string()), ("source", pa.string()),
            ("n_chars", pa.int64())]), preserve_index=False),
            str(d / "documents.parquet"))
        pq.write_table(Table.from_pandas(emb, schema=pa.schema([
            ("vec_id", pa.int64()),
            ("embedding", pa.list_(pa.float32())),
            ("label", pa.int32())]), preserve_index=False),
            str(d / "embeddings.parquet"))
        for extra in ("region", "nation", "customer", "supplier", "part",
                      "orders", "lineitem", "events"):
            pq.write_table(
                pq.read_table(f"{SF0001}/{extra}.parquet").slice(0, 0),
                str(d / f"{extra}.parquet"))
        results = run_check(spark, str(d), only=["hybrid_search"])
        bad = {n: p for n, p in results.items() if p}
        assert not bad, bad
    finally:
        shutil.rmtree(d, ignore_errors=True)


def test_every_query_is_randomized_parity_covered():
    """The harness's value is the claim 'EVERY query re-runs against its
    oracle on randomized micro-instances' — a query added to QUERIES but
    to no batch list silently escapes the only gate that sees NULLs,
    ties and boundary dates (the fixture gate never does). Enforce the
    claim mechanically; hybrid_search rides its own dedicated test."""
    import __spark_entry__ as entrymod
    covered = (set(REL_QUERIES) | set(EVENT_QUERIES) | set(DOC_QUERIES)
               | set(EVENT_QUERIES_2) | set(ANN_QUERIES)
               | set(EVENT_QUERIES_3) | set(DOC_QUERIES_2)
               | set(EVENT_QUERIES_4) | {"hybrid_search"})
    missing = set(entrymod.QUERIES) - covered
    assert not missing, (
        f"queries with no randomized-parity coverage: {sorted(missing)}")
