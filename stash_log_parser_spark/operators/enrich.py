"""J3/J4 enrichment: broadcast lookup joins (repo→project, IP→datacenter).

Absent in the reference (a single-process CLI) but required by the
rebuild spec (BASELINE.json:6 "broadcast lookup joins"). Both lookups are
small dimension tables → ``F.broadcast`` forces a BroadcastHashJoin so
the 10^12-row fact side never shuffles for enrichment.

The IP→datacenter match is a /24-prefix match, made equi-joinable by
projecting the first three octets (SURVEY.md §3.4 J4) — broadcast makes
a theta/range join unnecessary.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

# Default lookup contents mirror FIXTURES.md §3 plus the synthetic corpus
# repo universe (corpus.py REPOS).
_REPO_PROJECT = [
    ("conf/confluence", "CONF", "Confluence Project"),
    ("conf/teams", "CONF", "Confluence Project"),
    ("teams/website", "TEAMS", "Teams Project"),
    ("jira/jira-core", "JIRA", "Jira Project"),
    ("bamb/bamboo", "BAMB", "Bamboo Project"),
    ("stash/stash", "STASH", "Stash Project"),
    ("fe/frontend", "FE", "Frontend Project"),
    ("ops/deploy-tools", "OPS", "Ops Project"),
]

_IP_DATACENTER = [
    ("172.16.1", "dc-syd"),
    ("10.0.0", "dc-ams"),
    ("63.246.22", "external"),
    ("192.168.1", "dc-lab"),
]


def _values_table(spark: SparkSession, rows: list[tuple], columns: str) -> DataFrame:
    """A literal ``VALUES`` table. It plans as a LocalRelation
    (LocalTableScan), so broadcasting it starts no Python worker —
    ``createDataFrame(list)`` parallelizes a Python RDD, and each of its
    tasks forks one. Values bind as NAMED parameters: positional ``?``
    markers in a VALUES list bind out of order on Spark 4.1."""
    values = ", ".join(
        "(" + ", ".join(f":v{i}_{j}" for j in range(len(r))) + ")"
        for i, r in enumerate(rows)
    )
    return spark.sql(
        f"SELECT * FROM VALUES {values} AS t({columns})",
        args={f"v{i}_{j}": v for i, r in enumerate(rows) for j, v in enumerate(r)},
    )


def default_repo_project(spark: SparkSession) -> DataFrame:
    return _values_table(spark, _REPO_PROJECT, "repo_slug, project_key, project_name")


def default_ip_datacenter(spark: SparkSession) -> DataFrame:
    return _values_table(spark, _IP_DATACENTER, "ip_prefix, datacenter")


def ip_prefix_expr(ip: Column) -> Column:
    """First three octets of an IPv4 address — the /24 equi-join key."""
    return F.regexp_extract(ip, r"^(\d+\.\d+\.\d+)\.", 1)


def enrich(
    parsed: DataFrame,
    repo_project: DataFrame | None = None,
    ip_datacenter: DataFrame | None = None,
) -> DataFrame:
    """Left-join project and datacenter attributes onto the parsed frame.

    Both joins are explicit broadcasts: the fact side keeps its
    partitioning (no shuffle), each executor hash-probes the ~KB-sized
    dimension. Verified by tests to plan as BroadcastHashJoin.
    """
    spark = parsed.sparkSession
    repo_project = repo_project or default_repo_project(spark)
    ip_datacenter = ip_datacenter or default_ip_datacenter(spark)
    out = parsed.join(F.broadcast(repo_project), on="repo_slug", how="left")
    out = out.withColumn("ip_prefix", ip_prefix_expr(F.col("client_ip")))
    out = out.join(F.broadcast(ip_datacenter), on="ip_prefix", how="left")
    return out.drop("ip_prefix")


_CIDR_BLOCKS = [
    ("10.0.0.0/8", "net-corp"),
    ("10.0.0.0/24", "dc-ams"),
    ("172.16.0.0/12", "net-private"),
    ("172.16.1.0/24", "dc-syd"),
    ("63.246.22.0/24", "external"),
    ("192.168.0.0/16", "net-lab"),
    ("192.168.1.0/24", "dc-lab"),
]


def default_cidr_blocks(spark: SparkSession) -> DataFrame:
    """Mixed-prefix-length CIDR routing table over the corpus IP
    universe — /24 datacenter blocks nested inside /8–/16 network
    blocks, so longest-prefix-match semantics are actually exercised
    (10.0.0.x must resolve to dc-ams, not the covering net-corp)."""
    return spark.createDataFrame(_CIDR_BLOCKS, "cidr string, network string")


def ip_to_int_expr(ip: Column) -> Column:
    """Dotted-quad → 32-bit int as one codegen-friendly projection."""
    o = F.split(ip, r"\.")
    return (
        F.element_at(o, 1).cast("long") * 16777216
        + F.element_at(o, 2).cast("long") * 65536
        + F.element_at(o, 3).cast("long") * 256
        + F.element_at(o, 4).cast("long")
    )


def cidr_enrich(
    df: DataFrame,
    blocks: DataFrame | None = None,
    ip_col: str = "client_ip",
    default_label: str = "unrouted",
) -> DataFrame:
    """Longest-prefix-match CIDR enrichment — the general form of the
    fixed /24 datacenter join: the routing table carries MIXED prefix
    lengths and each row must take the MOST SPECIFIC covering block,
    exactly how a router (or a GeoIP table) resolves.

    Join strategy: a non-equi "ip BETWEEN net AND broadcast-addr, take
    max plen" formulation would be a theta join; instead the dim's
    DISTINCT prefix lengths (≤ 32 by construction — collected driver
    -side like every dimension lookup here) turn it into a CASCADE of
    plain broadcast equi-joins, longest length first, each on the key
    (ip >> (32−L)); the first (most specific) hit wins via coalesce.
    The fact side never shuffles, never explodes, never aggregates —
    |lens| BroadcastHashJoins and one coalesce projection, the plan
    that survives 10^12 rows.

    Adds ``network`` (default ``default_label``) and ``matched_plen``
    (NULL when unrouted)."""
    spark = df.sparkSession
    if blocks is None:
        blocks = default_cidr_blocks(spark)
    parsed = blocks.select(
        F.split(F.col("cidr"), "/").getItem(0).alias("net"),
        F.split(F.col("cidr"), "/").getItem(1).cast("int").alias("plen"),
        "network",
    )
    lens = sorted(
        {r.plen for r in parsed.select("plen").distinct().collect()},
        reverse=True,
    )
    out = df.withColumn("_ip", ip_to_int_expr(F.col(ip_col)))
    label = None
    plen_col = None
    for L in lens:
        # per-length slice with a LITERAL shift (shiftright takes an int)
        dim_l = parsed.filter(F.col("plen") == L).select(
            F.shiftright(ip_to_int_expr(F.col("net")), 32 - L).alias(
                f"_k{L}"
            ),
            F.col("network").alias(f"_n{L}"),
        )
        out = out.withColumn(f"_k{L}", F.shiftright(F.col("_ip"), 32 - L))
        out = out.join(F.broadcast(dim_l), f"_k{L}", "left")
        lbl = F.col(f"_n{L}")
        label = lbl if label is None else F.coalesce(label, lbl)
        pl = F.when(F.col(f"_n{L}").isNotNull(), F.lit(L))
        plen_col = pl if plen_col is None else F.coalesce(plen_col, pl)
    out = out.withColumn(
        "network", F.coalesce(label, F.lit(default_label))
    ).withColumn("matched_plen", plen_col.cast("int"))
    drop = ["_ip"] + [c for L in lens for c in (f"_k{L}", f"_n{L}")]
    return out.drop(*drop)
