"""J3/J4 broadcast-enrichment goldens (FIXTURES.md §4 'Enrichment')."""

from pyspark.sql import functions as F

from stash_log_parser_spark.operators.enrich import (
    _IP_DATACENTER,
    _REPO_PROJECT,
    default_ip_datacenter,
    default_repo_project,
    enrich,
)


def test_enrichment_goldens(parsed):
    e = enrich(parsed)
    rows = {r.doc_id: r for r in e.collect()}
    assert rows["L05"].project_key == "CONF" and rows["L05"].datacenter == "dc-syd"
    assert rows["L08"].project_key == "TEAMS" and rows["L08"].datacenter == "external"
    assert rows["L14"].datacenter == "dc-lab"
    assert rows["L13"].project_key is None  # malformed row enriches to nulls


def test_enrichment_preserves_rowcount_and_keys(parsed, fixture_corpus):
    e = enrich(parsed)
    assert e.count() == 14  # left joins never drop or duplicate
    joined = e.join(fixture_corpus, "doc_id")
    assert joined.count() == 14


def test_enrichment_plans_as_broadcast_join(parsed):
    plan = enrich(parsed)._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_default_dimensions_are_local_relations(spark, parsed):
    """The default lookups are literal tables: broadcasting them runs no
    Python-worker task (a createDataFrame(list) dimension is a Python
    RDD scan), and enrich still broadcasts them."""
    for dim, rows in (
        (default_repo_project(spark), _REPO_PROJECT),
        (default_ip_datacenter(spark), _IP_DATACENTER),
    ):
        plan = dim._jdf.queryExecution().executedPlan().toString()
        assert plan.startswith("LocalTableScan"), plan
        assert [tuple(r) for r in dim.collect()] == rows
    plan = enrich(parsed)._jdf.queryExecution().executedPlan().toString()
    assert plan.count("BroadcastHashJoin") == 2
    assert plan.count("LocalTableScan") == 2, plan


class TestCidrEnrich:
    def _df(self, spark, ips):
        return spark.createDataFrame(
            [(ip,) for ip in ips], "client_ip string"
        )

    def test_longest_prefix_wins(self, spark):
        from stash_log_parser_spark.operators.enrich import cidr_enrich

        out = {
            r.client_ip: r
            for r in cidr_enrich(
                self._df(
                    spark,
                    ["10.0.0.7", "10.9.9.9", "172.16.1.5", "172.17.0.1",
                     "192.168.1.1", "192.168.2.1", "8.8.8.8"],
                )
            ).collect()
        }
        # nested /24 beats its covering /8 | /12 | /16
        assert (out["10.0.0.7"].network, out["10.0.0.7"].matched_plen) == (
            "dc-ams", 24,
        )
        assert out["10.9.9.9"].network == "net-corp"        # /8 fallback
        assert out["10.9.9.9"].matched_plen == 8
        assert out["172.16.1.5"].network == "dc-syd"        # /24 over /12
        assert out["172.17.0.1"].network == "net-private"   # /12 fallback
        assert out["192.168.1.1"].network == "dc-lab"       # /24 over /16
        assert out["192.168.2.1"].network == "net-lab"      # /16 fallback
        assert out["8.8.8.8"].network == "unrouted"
        assert out["8.8.8.8"].matched_plen is None

    def test_plan_is_broadcast_joins_only(self, spark):
        from stash_log_parser_spark.operators.enrich import cidr_enrich

        plan = cidr_enrich(
            self._df(spark, ["10.0.0.7"])
        )._jdf.queryExecution().executedPlan().toString()
        assert "BroadcastHashJoin" in plan
        assert "SortMergeJoin" not in plan
        assert "Exchange hashpartitioning" not in plan  # fact never shuffles

    def test_custom_blocks(self, spark):
        from stash_log_parser_spark.operators.enrich import cidr_enrich

        blocks = spark.createDataFrame(
            [("1.2.0.0/16", "blk")], "cidr string, network string"
        )
        r = cidr_enrich(self._df(spark, ["1.2.3.4"]), blocks).collect()[0]
        assert (r.network, r.matched_plen) == ("blk", 16)
