"""Driver-contract conformance: entry() smoke + queries↔oracle parity on a
representative subset at sf0.001 (the full 125-query sweep runs via
tools/check_contract.py at sf0.01, mirroring the driver)."""

import hashlib
import json

import duckdb
import pytest

import __spark_entry__ as E
from tools.check_contract import df_multiset

TABLES = "region nation customer supplier part orders lineitem events documents embeddings".split()
SF = "/root/testdata/sf0.001"

# fast representative subset: every operator family is covered
SUBSET = [
    "log_count_requests",
    "log_git_operations",
    "log_max_concurrent",
    "log_duration_percentiles",
    "log_enrich_project",
    "events_sessionize",
    "tpch_pricing_summary",
    "docs_text_stats",
    "docs_fingerprint",
    "emb_knn_bruteforce",
    # session-2 families: segment dedup, Gopher gate, TF-IDF, centroids,
    # rolling RANGE frame, bigram LM, curation chain v2
    "docs_segment_dedup",
    "docs_gopher_quality",
    "docs_tfidf_terms",
    "emb_label_centroids",
    "events_rolling_1h",
    "docs_bigram_lm",
    "docs_curate_v2",
    # session-3 families: Markov transitions, MAD fence, span census,
    # power-iteration PCA, z-order layout, Q21 window shape
    "events_markov_transitions",
    "events_mad_outliers",
    "docs_dup_ngram_spans",
    "emb_pca_power",
    "docs_zorder_key",
    "tpch_waiting_suppliers",
]


@pytest.fixture(scope="module")
def duck():
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{SF}/{t}.parquet')")
    return con


def test_entry_smoke(spark):
    df = E.entry(spark)
    rows = df.collect()
    assert len(rows) > 0
    assert set(df.columns) == {"hour", "n_events", "clicks", "views", "n_users", "n_segments"}


# Pinned registry: the sorted query names, and every oracle string with
# the checkout path replaced by a fixed token (oracles embed the corpus
# path). A changed oracle counts as a regression, not a refresh.
QUERY_NAMES_SHA256 = "419f3565274770e28dc4133d5e5511db919039a724f3cdcc14a2eebfd0ccd304"
ORACLE_SQL_SHA256 = "6e5339f237d32ce610cd12f8a5493c29531e623fc2497060d0cc620f68d5697f"


def test_every_oracle_has_a_query():
    queries, oracles = E.queries(), E.oracle_sql()
    qs, os_ = set(queries), set(oracles)
    assert os_ <= qs
    assert len(os_) >= 25  # the vast majority of operators are oracle-checked
    for name, fn in queries.items():
        assert fn is getattr(E, "_q_" + name)
    names = "\n".join(sorted(queries))
    assert hashlib.sha256(names.encode()).hexdigest() == QUERY_NAMES_SHA256
    normalized = sorted((k, v.replace(E._REPO, "<repo>")) for k, v in oracles.items())
    digest = hashlib.sha256(json.dumps(normalized).encode()).hexdigest()
    assert digest == ORACLE_SQL_SHA256


@pytest.mark.parametrize("name", SUBSET)
def test_query_matches_oracle(spark, duck, name):
    sdf = E.queries()[name](spark, SF).toPandas()
    odf = duck.sql(E.oracle_sql()[name]).df()
    sc, sr = df_multiset(sdf)
    oc, orr = df_multiset(odf)
    assert sc == oc
    assert sr == orr


# every query whose operators read a relation more than once
SHARES_A_RELATION = [
    "docs_kneser_ney",
    "docs_bpe_merges",
    "docs_signal_spearman",
    "docs_chi2_independence",
    "docs_pmi_collocations",
    "docs_word_cond_entropy",
    "docs_heavy_hitters",
    "events_ks_two_sample",
    "events_xcorr_lag",
    "log_arrival_dispersion",
    "log_repo_pagerank",
    "log_repo_kcore",
    "log_repo_hits",
    "emb_kcenter_coreset",
    "docs_curate_corpus_clustered",
]


def test_queries_leave_no_cache_manager_entry(spark):
    """Operators share a relation through ``session.materialize``, never
    the CacheManager: a forced query leaves no cache entry behind, so a
    repeat of it recomputes instead of reading the first run's result."""
    spark.catalog.clearCache()
    cache = spark._jsparkSession.sharedState().cacheManager()
    for name in SHARES_A_RELATION:
        E.queries()[name](spark, SF).write.format("noop").mode("overwrite").save()
        assert cache.isEmpty(), f"{name} left a CacheManager entry"


@pytest.mark.parametrize(
    "name", ["tpch_shipping_priority", "tpch_top_customers", "tpch_local_supplier_volume"]
)
def test_aqe_broadcasts_unhinted_fact_side_joins(spark, name):
    """Round-3 verdict: customer/supplier are fact-proportional, so their
    joins carry NO broadcast hint (a forced broadcast OOMs at 100×).
    This pins the flip side: at test scale AQE still picks a broadcast
    join on its own, so dropping the hints costs nothing locally."""
    df = E.queries()[name](spark, SF)
    df.collect()  # run so AQE finalizes the executed plan
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan, plan[:2000]


def test_rows_only_queries_execute(spark):
    for name in sorted(set(E.queries()) - set(E.oracle_sql())):
        df = E.queries()[name](spark, SF)
        assert df.count() >= 0, name


def test_q6_predicates_reach_the_scan(spark):
    """The round-4 TPC-H Q6 shape must push its date/discount/quantity
    predicates into the parquet scan and read only the four columns the
    query touches — the whole point of a filter-agg at 100 TB."""
    import re

    df = E.queries()["tpch_revenue_forecast"](spark, SF)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "PushedFilters: [" in plan
    pushed = plan.split("PushedFilters: [", 1)[1].split("]", 1)[0]
    for col in ("l_shipdate", "l_discount", "l_quantity"):
        assert col in pushed, (col, pushed)
    schemas = re.findall(r"ReadSchema: struct<([^>]*)>", plan)
    got = {c.split(":")[0] for s in schemas for c in s.split(",") if c}
    assert got <= {"l_shipdate", "l_discount", "l_quantity", "l_extendedprice"}, got


def test_new_tpch_shapes_have_no_fact_side_broadcast_hints(spark):
    """Of the round-4 TPC-H additions, only nation (fixed 25 rows) and
    1-row scalar aggregates may carry explicit broadcast hints;
    customer/orders/supplier/part joins must be AQE-decided."""
    import inspect

    for name in (
        "tpch_order_count_dist", "tpch_promo_revenue", "tpch_small_qty_revenue",
        "tpch_large_orders", "tpch_nation_volume", "tpch_idle_rich_customers",
    ):
        src = inspect.getsource(E.queries()[name])
        for ln in src.splitlines():
            if "F.broadcast" in ln:
                assert "nation" in ln or "pos" in ln or "mx" in ln, (name, ln)


def test_q19_disjunction_pushes_to_both_scans(spark):
    """The OR-of-ANDs predicate must decompose: quantity bands reach
    the lineitem scan, the brand OR-list reaches the part scan."""
    df = E.queries()["tpch_disjunctive_revenue"](spark, SF)
    df.collect()
    plan = df._jdf.queryExecution().executedPlan().toString()
    scans = [ln for ln in plan.splitlines() if "FileScan parquet" in ln]
    li = next(ln for ln in scans if "lineitem" in ln)
    part = next(ln for ln in scans if "/part.parquet" in ln)
    assert "l_quantity" in li.split("PushedFilters: [")[1]
    assert "EqualTo(p_brand,Brand#1)" in part.split("PushedFilters: [")[1]


def test_dau_wau_broadcasts_the_day_dimension(spark):
    """The WAU range join must be a broadcast non-equi join against the
    dimension-sized day list — never a shuffled cartesian."""
    df = E.queries()["events_dau_wau"](spark, SF)
    df.collect()
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastNestedLoopJoin" in plan
    assert "CartesianProduct" not in plan


def test_dup_ratio_never_shuffles_text(spark):
    """The per-source dup census hashes text to md5 BEFORE any
    exchange; no Exchange line may reference the text column."""
    df = E.queries()["docs_dup_ratio_by_source"](spark, SF)
    df.collect()
    plan = df._jdf.queryExecution().executedPlan().toString()
    for ln in plan.splitlines():
        if "Exchange" in ln:
            assert "text#" not in ln, ln


def test_interleave_order_reuses_the_source_exchange(spark):
    """interleave_order's bucket histogram must reuse the per-source
    rank exchange (ReusedExchange), not rescan the corpus; and the
    offset table must arrive via broadcast."""
    df = E.queries()["corpus_interleave_order"](spark, SF)
    df.collect()
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "ReusedExchange" in plan, plan[:2000]
    assert "BroadcastHashJoin" in plan


def test_shuffle_order_sorts_within_shards_not_globally(spark):
    """shuffle_order's rank subplan: the only non-presentational sort
    is per-shard (hash partitioning on shard) — the single range sort
    is the trailing oracle-contract orderBy."""
    df = E.queries()["corpus_shuffle_order"](spark, SF)
    df.collect()
    plan = df._jdf.queryExecution().executedPlan().toString()
    final = plan.split("== Initial Plan ==")[0]
    assert final.count("rangepartitioning") == 1, final[:2000]
    assert "hashpartitioning(shard" in final


def test_rollup_is_one_expand_with_broadcast_nation(spark):
    """The ROLLUP compiles to a single Expand + hash-agg; nation joins
    by broadcast; no fact table carries a hint (AQE decides)."""
    df = E.queries()["tpch_rollup_sales"](spark, SF)
    df.collect()
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Expand") >= 1
    assert "BroadcastHashJoin" in plan
    import inspect

    src = inspect.getsource(E.queries()["tpch_rollup_sales"])
    for ln in src.splitlines():
        if "F.broadcast" in ln:
            assert "nation" in ln, ln


def test_dpp_prunes_fact_day_partitions(spark):
    """The weekday dim filter must reach the day-partitioned fact scan
    as a runtime dynamic-pruning PartitionFilter — the mechanism that
    keeps a dim-filtered scan from opening every day directory of a
    100 TB lake."""
    df = E.dpp_prune_counts(spark, iso_dow=1)
    rows = df.collect()
    # 2012-09-10 is the corpus's only Monday
    assert rows and all(r.day == "2012-09-10" for r in rows)
    plan = df._jdf.queryExecution().executedPlan().toString()
    final = plan.split("== Initial Plan ==")[0]
    assert "dynamicpruning" in final.lower(), final[:3000]
