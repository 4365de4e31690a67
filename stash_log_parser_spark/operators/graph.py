"""Graph analytics over the repo co-access graph.

The access log induces a natural graph — repos are nodes, and an edge
joins two repos touched by the same user (the capped market-basket
pairs from operators/analyses.py:coaccess_pairs). Reference parity:
the upstream tool stops at flat per-repo counts; ranking repos by
*structural* importance (PageRank) and clustering (triangle census)
is the natural extension a fleet-analytics team runs on this data.

Design for scale
----------------
* PageRank is the textbook bulk-synchronous iteration: ranks live in a
  (node, rank) table co-partitioned with the edge list on ``src``;
  every iteration is ONE co-partitioned join (ranks ⋈ edges) plus ONE
  shuffle (groupBy dst). The edge list is hash-partitioned and
  materialized once — iterations reuse the same partitioning, so only
  the rank table (|V| rows, tiny next to |E|) moves per round.
* The iterate is re-quantized to 1e-6 after every update on BOTH
  engines (`floor(x*1e6+0.5)/1e6`) — the same engine-exact trajectory
  discipline as the PCA power iteration and k-means oracles — so a
  5-iteration run value-hash matches the SQL oracle's unrolled CTEs.
* Triangle counting uses the DEGREE-ORIENTED wedge join: each
  undirected edge is oriented from its (degree, name)-smaller endpoint
  to the larger. Every out-neighborhood then has O(sqrt(|E|)) size on
  any graph (the classic Schank–Wagner / Cohen MapReduce bound), so
  the wedge self-join is near-linear instead of quadratic in the max
  hub degree — the difference between a plan that survives a social
  graph and one that dies on the first celebrity node.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from stash_log_parser_spark.operators.textstats import round6
from stash_log_parser_spark.session import materialize


def undirect(edges: DataFrame, src: str = "repo_a", dst: str = "repo_b") -> DataFrame:
    """Both directions of an undirected (a < b) edge list."""
    fwd = edges.select(F.col(src).alias("src"), F.col(dst).alias("dst"))
    rev = edges.select(F.col(dst).alias("src"), F.col(src).alias("dst"))
    return fwd.unionByName(rev)


def pagerank(
    edges: DataFrame,
    iters: int = 3,
    damping: float = 0.85,
    src: str = "repo_a",
    dst: str = "repo_b",
    checkpoint_every: int | None = None,
) -> DataFrame:
    """Unweighted PageRank over the undirected edge list ``edges``
    (columns src/dst with src < dst per row).

    rank_{t+1}(v) = (1-d)/N + d · Σ_{u→v} rank_t(u)/deg(u),
    quantized to 1e-6 after init and after every iteration so the
    trajectory is bit-exact across engines (see module docstring).
    Every node of the bidirectional edge set has deg ≥ 1, so there is
    no dangling mass.

    The unrolled lineage is fine at the oracle's 3–5 iterations; a
    20-iteration production run wants ``checkpoint_every=5`` — the rank
    table is materialized every N rounds (reliably when
    ``spark.checkpoint.dir`` is set), which cannot change values (the
    trajectory is already 1e-6-quantized per round).

    Returns (node, degree, pagerank) ordered by rank desc, node asc.
    """
    both = undirect(edges, src, dst)
    # Partition the (static) adjacency once on the join key and
    # materialize it, so each iteration reuses the same co-partitioned
    # build side; every iteration also joins the node degrees.
    adj = materialize(both.repartition("src"))
    deg = adj.groupBy("src").agg(F.count("*").alias("deg"))
    nodes = materialize(deg.select(F.col("src").alias("node"), "deg"))
    n_nodes = nodes.count()

    base = (1.0 - damping) / n_nodes
    ranks = nodes.select(
        "node", round6(F.lit(1.0) / F.lit(float(n_nodes))).alias("rank")
    )
    for i in range(iters):
        contrib = (
            ranks.join(nodes, "node")
            .select(
                F.col("node").alias("src"),
                (F.col("rank") / F.col("deg")).alias("w"),
            )
            .join(adj, "src")
            .groupBy(F.col("dst").alias("node"))
            .agg(F.sum("w").alias("s"))
        )
        ranks = contrib.select(
            "node", round6(F.lit(base) + F.lit(damping) * F.col("s")).alias("rank")
        )
        if checkpoint_every and (i + 1) % checkpoint_every == 0 and i + 1 < iters:
            ranks = materialize(ranks)
    out = ranks.join(nodes, "node").select(
        "node",
        F.col("deg").cast("long").alias("degree"),
        F.col("rank").alias("pagerank"),
    )
    return out.orderBy(F.desc("pagerank"), F.asc("node"))


def triangle_census(
    edges: DataFrame, src: str = "repo_a", dst: str = "repo_b"
) -> DataFrame:
    """Per-node triangle counts + degree over the undirected (a < b)
    edge list, via the degree-oriented wedge join (module docstring).

    Orientation key is (degree, node): each edge points at its larger
    endpoint, every triangle {x,y,z} is emitted exactly once (from its
    orientation-minimal vertex), and hub out-degrees are bounded by
    O(sqrt(|E|)). All-integer pipeline — no float parity risk.

    Returns (node, degree, triangles) for every node, ordered by
    triangles desc, degree desc, node asc.
    """
    und = undirect(edges, src, dst)
    deg = und.groupBy(F.col("src").alias("node")).agg(
        F.count("*").alias("deg")
    )
    # Orient: src' = (deg,name)-smaller endpoint.
    e = (
        edges.select(F.col(src).alias("a"), F.col(dst).alias("b"))
        .join(deg.select(F.col("node").alias("a"), F.col("deg").alias("da")), "a")
        .join(deg.select(F.col("node").alias("b"), F.col("deg").alias("db")), "b")
    )
    keep_ab = (F.col("da") < F.col("db")) | (
        (F.col("da") == F.col("db")) & (F.col("a") < F.col("b"))
    )
    oriented = e.select(
        F.when(keep_ab, F.col("a")).otherwise(F.col("b")).alias("u"),
        F.when(keep_ab, F.col("b")).otherwise(F.col("a")).alias("v"),
        F.when(keep_ab, F.col("da")).otherwise(F.col("db")).alias("du"),
        F.when(keep_ab, F.col("db")).otherwise(F.col("da")).alias("dv"),
    )
    # Wedges rooted at u: out-neighbors v < w in orientation order;
    # close the wedge iff oriented edge (v, w) exists.
    o1, o2 = oriented.alias("o1"), oriented.alias("o2")
    wedges = o1.join(o2, F.col("o1.u") == F.col("o2.u")).filter(
        (F.col("o1.dv") < F.col("o2.dv"))
        | ((F.col("o1.dv") == F.col("o2.dv")) & (F.col("o1.v") < F.col("o2.v")))
    )
    closer = oriented.select(
        F.col("u").alias("cv"), F.col("v").alias("cw")
    )
    tris = wedges.join(
        closer,
        (F.col("o1.v") == F.col("cv")) & (F.col("o2.v") == F.col("cw")),
        "left_semi",
    ).select(
        F.col("o1.u").alias("x"), F.col("o1.v").alias("y"), F.col("o2.v").alias("z")
    )
    per_node = (
        tris.select(F.explode(F.array("x", "y", "z")).alias("node"))
        .groupBy("node")
        .agg(F.count("*").alias("triangles"))
    )
    out = deg.join(per_node, "node", "left").select(
        "node",
        F.col("deg").cast("long").alias("degree"),
        F.coalesce(F.col("triangles"), F.lit(0)).cast("long").alias("triangles"),
    )
    return out.orderBy(
        F.desc("triangles"), F.desc("degree"), F.asc("node")
    )


def kcore(
    edges: DataFrame,
    k: int = 2,
    rounds: int = 4,
    src: str = "repo_a",
    dst: str = "repo_b",
) -> DataFrame:
    """k-core decomposition by synchronous peeling: repeatedly drop
    every node whose degree in the surviving subgraph is < k. The
    k-core is the standard "structurally engaged" community filter —
    a node with k co-access partners who are themselves engaged.

    Runs EXACTLY ``rounds`` peel rounds (peeling is idempotent once
    converged, so a fixed unroll is engine-portable — the SQL oracle
    unrolls the same rounds; the k-means/PageRank trajectory
    discipline) and RAISES if the peel had not converged by then, so
    an unconverged result can never be silently reported as the core.
    All arithmetic is integer degree counting — no float anywhere.

    Scale shape: each round is one join of the (static, materialized)
    bidirectional edge list against the shrinking alive-node set plus
    one degree hash-agg — only (node) and (src,dst) keys shuffle; at
    a 10^12-edge scale each round is a semi-join the optimizer can
    run as a broadcast once the alive set collapses.

    Returns (node, degree, core_degree, in_core) for every node of
    the input graph, core_degree = degree inside the k-core (0 when
    peeled)."""
    both = materialize(undirect(edges, src, dst))
    deg0 = both.groupBy("src").agg(F.count("*").alias("degree"))
    alive = deg0.filter(F.col("degree") >= k).select(F.col("src").alias("node"))
    prev_n = None
    for _ in range(rounds):
        e = both.join(
            alive.withColumnRenamed("node", "src"), "src"
        ).join(alive.withColumnRenamed("node", "dst"), "dst")
        d = e.groupBy("src").agg(F.count("*").alias("dg"))
        alive = d.filter(F.col("dg") >= k).select(F.col("src").alias("node"))
        # per-round lineage truncation; the count below reads it too
        alive = materialize(alive)
        n = alive.count()
        if prev_n == n:
            break
        prev_n = n
    else:
        # one verification round: converged iff the alive set is stable
        e = both.join(
            alive.withColumnRenamed("node", "src"), "src"
        ).join(alive.withColumnRenamed("node", "dst"), "dst")
        d = e.groupBy("src").agg(F.count("*").alias("dg"))
        if d.filter(F.col("dg") < k).limit(1).count() > 0:
            raise RuntimeError(
                f"kcore did not converge in {rounds} rounds; raise `rounds`"
            )
    core_e = both.join(
        alive.withColumnRenamed("node", "src"), "src"
    ).join(alive.withColumnRenamed("node", "dst"), "dst")
    core_d = core_e.groupBy(F.col("src").alias("node")).agg(
        F.count("*").cast("long").alias("core_degree")
    )
    out = (
        deg0.select(F.col("src").alias("node"), F.col("degree").cast("long"))
        .join(core_d, "node", "left")
        .select(
            "node",
            "degree",
            F.coalesce("core_degree", F.lit(0)).cast("long").alias(
                "core_degree"
            ),
            (F.coalesce("core_degree", F.lit(0)) >= k).alias("in_core"),
        )
    )
    return out.orderBy(F.desc("core_degree"), F.asc("node"))


def label_propagation(
    edges: DataFrame,
    rounds: int = 3,
    src: str = "repo_a",
    dst: str = "repo_b",
) -> DataFrame:
    """Synchronous label-propagation community detection over the
    undirected edge list (src < dst per row): every node starts
    labelled with itself; each round it adopts the most frequent label
    among its NEIGHBOURS, ties broken by the smaller label — the
    classic near-linear community heuristic (Raghavan et al. 2007),
    made deterministic by the fixed tie-break and a FIXED round count
    (the bulk-synchronous k-means/PageRank trajectory discipline, so
    the SQL oracle unrolls the identical rounds as CTEs).

    Scale shape: each round is one edge⋈label join (label relation is
    node-sized, edges dominate) + one (node, label) hash-agg + one
    node-keyed window — all shuffles keyed on node ids, never more
    than O(E) rows in flight; `rounds` is a small constant, so the
    lineage stays shallow (no iterative checkpoint needed at 3–5
    rounds). All-integer/string — zero float risk."""
    from pyspark.sql import Window

    adj = undirect(edges, src, dst)
    nodes = adj.select(F.col("src").alias("node")).distinct()
    labels = nodes.select("node", F.col("node").alias("label"))
    w = Window.partitionBy("node").orderBy(F.desc("c"), F.asc("label"))
    for _ in range(rounds):
        labels = (
            adj.join(labels, adj["dst"] == labels["node"])
            .select(F.col("src").alias("node"), "label")
            .groupBy("node", "label")
            .agg(F.count("*").alias("c"))
            .withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") == 1)
            .select("node", "label")
        )
    sizes = labels.groupBy("label").agg(
        F.count("*").cast("long").alias("community_size")
    )
    return (
        labels.join(sizes, "label")
        .select("node", "label", "community_size")
        .orderBy("node")
    )


def hits(
    incidence: DataFrame,
    iters: int = 3,
    hub_col: str = "username",
    auth_col: str = "repo_slug",
) -> DataFrame:
    """Bipartite HITS (Kleinberg 1999) over the user→repo access
    incidence: users are HUBS, repos are AUTHORITIES.  a_{t+1} = Eᵀh_t
    and h_{t+1} = E a_{t+1}, each L1-normalized — a repo is important
    when broad-interest users touch it, a user is a good hub when they
    touch important repos.  Distinct from PageRank over the co-access
    projection: HITS keeps the bipartite structure, so one mega-user
    cannot mint edges between otherwise-unrelated repos.

    Engine-exact trajectory discipline (same as pagerank/k-means): the
    score table is re-quantized to 1e-6 after every normalization, so
    a fixed-iteration run value-hash matches the oracle's unrolled
    CTEs.  L1 (sum) normalization instead of the textbook L2: the
    ranking is identical (positive scalar multiple) and the normalizer
    is a plain SUM both engines compute the same way.

    Scale shape: the incidence is hash-partitioned once on the hub key
    and materialized; each half-step is ONE co-partitioned join against a
    score table (|U| or |R| rows — tiny next to |E|) plus one
    hash-agg; the L1 total re-enters as a 1-row broadcast cross join
    (broadcast by construction, never scale-growing).  Feed it the
    CAPPED incidence (analyses.capped_incidence) so a 50k-repo bot
    cannot dominate either side.

    Returns (repo_slug, degree, authority) ordered by authority desc.
    """
    edges = incidence.select(
        F.col(hub_col).alias("hub"), F.col(auth_col).alias("auth")
    )
    edges = materialize(edges.repartition("hub"))
    auth_deg = edges.groupBy("auth").agg(F.count("*").alias("ad"))
    hubs = edges.select("hub").distinct().select("hub", F.lit(1.0).alias("h"))
    auths = None
    for _ in range(iters):
        raw_a = edges.join(hubs, "hub").groupBy("auth").agg(F.sum("h").alias("ra"))
        tot_a = raw_a.agg(F.sum("ra").alias("ta"))
        auths = raw_a.crossJoin(F.broadcast(tot_a)).select(
            "auth", round6(F.col("ra") / F.col("ta")).alias("a")
        )
        raw_h = edges.join(auths, "auth").groupBy("hub").agg(F.sum("a").alias("rh"))
        tot_h = raw_h.agg(F.sum("rh").alias("th"))
        hubs = raw_h.crossJoin(F.broadcast(tot_h)).select(
            "hub", round6(F.col("rh") / F.col("th")).alias("h")
        )
    out = auths.join(auth_deg, "auth").select(
        F.col("auth").alias(auth_col),
        F.col("ad").cast("long").alias("degree"),
        F.col("a").alias("authority"),
    )
    return out.orderBy(F.desc("authority"), F.asc(auth_col))


def adamic_adar(
    incidence: DataFrame,
    top_pairs: int = 30,
    hub_col: str = "username",
    auth_col: str = "repo_slug",
) -> DataFrame:
    """Adamic–Adar link prediction over the bipartite incidence: for
    each repo pair sharing at least one user, AA(x, y) =
    Σ_{u ∈ Γ(x)∩Γ(y)} 1/ln(deg(u)) — common neighbors weighted
    inversely by how promiscuous they are (a user who touches 2 repos
    is strong evidence those repos relate; one who touches 20 says
    almost nothing).  The score behind "repos likely to be co-cloned
    NEXT" — the predictive sibling of the descriptive co-access count
    (analyses.repo_coaccess).

    Every common neighbor of a pair has degree ≥ 2 by construction, so
    ln(deg) ≥ ln 2 and the weight is always finite.  Weights are
    summed as doubles and round6-quantized once at the end (Σ of ≤ cap
    terms each ≤ 1/ln2 — far inside 1e-6 resolution).

    Scale shape: identical to coaccess_pairs — feed the CAPPED
    incidence so the within-user self-join is bounded at C(cap, 2)
    pairs per user; the per-user degree join is hub-keyed (the same
    key the self-join shuffles on, one exchange reused); global top-k
    is TakeOrderedAndProject, never a full sort.
    """
    inc = incidence.select(
        F.col(hub_col).alias("hub"), F.col(auth_col).alias("auth")
    )
    deg = inc.groupBy("hub").agg(F.count("*").alias("du"))
    weighted = inc.join(deg, "hub").select(
        "hub", "auth", (F.lit(1.0) / F.log(F.col("du").cast("double"))).alias("w")
    )
    a, b = weighted.alias("a"), weighted.alias("b")
    pairs = (
        a.join(b, "hub")
        .filter(F.col("a.auth") < F.col("b.auth"))
        .groupBy(
            F.col("a.auth").alias("repo_a"),
            F.col("b.auth").alias("repo_b"),
        )
        .agg(
            F.count("*").cast("long").alias("common_users"),
            round6(F.sum(F.col("a.w"))).alias("aa_score"),
        )
    )
    return pairs.orderBy(
        F.desc("aa_score"), F.asc("repo_a"), F.asc("repo_b")
    ).limit(top_pairs)
