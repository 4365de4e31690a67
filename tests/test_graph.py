"""Graph operators (operators/graph.py): PageRank + triangle census.

Hand-built edge lists with pure-python mirrors — same discipline as the
packing/CUSUM reference tests.
"""

import math
from itertools import combinations

import pytest

from stash_log_parser_spark.operators.graph import pagerank, triangle_census


def _edges_df(spark, pairs):
    return spark.createDataFrame(
        [(a, b) for a, b in pairs], "repo_a string, repo_b string"
    )


def _q6(x):
    return math.floor(x * 1e6 + 0.5) / 1e6


def _pagerank_ref(pairs, iters=3, d=0.85):
    adj = {}
    for a, b in pairs:
        adj.setdefault(a, []).append(b)
        adj.setdefault(b, []).append(a)
    n = len(adj)
    base = (1.0 - d) / n
    r = {v: _q6(1.0 / n) for v in adj}
    for _ in range(iters):
        nxt = {}
        for v in adj:
            s = sum(r[u] / len(adj[u]) for u in adj[v])
            nxt[v] = _q6(base + d * s)
        r = nxt
    return r, {v: len(adj[v]) for v in adj}


class TestPagerank:
    def test_k3_is_uniform_fixed_point(self, spark):
        out = pagerank(_edges_df(spark, [("a", "b"), ("b", "c"), ("a", "c")]))
        rows = {r["node"]: r for r in out.collect()}
        assert set(rows) == {"a", "b", "c"}
        for r in rows.values():
            assert r["pagerank"] == pytest.approx(_q6(1 / 3), abs=1e-9)
            assert r["degree"] == 2

    def test_star_matches_python_mirror(self, spark):
        pairs = [("hub", f"leaf{i}") for i in range(3)]
        ref, deg = _pagerank_ref(pairs, iters=3)
        rows = {r["node"]: r for r in pagerank(_edges_df(spark, pairs)).collect()}
        assert set(rows) == set(ref)
        for v in ref:
            assert rows[v]["pagerank"] == pytest.approx(ref[v], abs=1e-9), v
            assert rows[v]["degree"] == deg[v]
        # hub strictly outranks every leaf and output is rank-ordered
        ordered = pagerank(_edges_df(spark, pairs)).collect()
        assert ordered[0]["node"] == "hub"

    def test_random_graph_matches_python_mirror(self, spark):
        # deterministic pseudo-random graph: 10 nodes, hash-picked edges
        nodes = [f"n{i}" for i in range(10)]
        pairs = [
            (a, b)
            for a, b in combinations(nodes, 2)
            if hash((a, b)) % 3 == 0 or (a, b) in [("n0", "n1"), ("n8", "n9")]
        ]
        ref, _ = _pagerank_ref(pairs, iters=3)
        rows = {r["node"]: r["pagerank"] for r in pagerank(_edges_df(spark, pairs)).collect()}
        assert rows.keys() == ref.keys()
        for v in ref:
            assert rows[v] == pytest.approx(ref[v], abs=1e-9), v


def _triangles_ref(pairs):
    es = set(pairs) | {(b, a) for a, b in pairs}
    nodes = {v for e in pairs for v in e}
    tri = dict.fromkeys(nodes, 0)
    for x, y, z in combinations(sorted(nodes), 3):
        if (x, y) in es and (y, z) in es and (x, z) in es:
            tri[x] += 1
            tri[y] += 1
            tri[z] += 1
    return tri


class TestTriangleCensus:
    def test_triangle_plus_pendant(self, spark):
        pairs = [("a", "b"), ("a", "c"), ("b", "c"), ("c", "d")]
        rows = {r["node"]: r for r in triangle_census(_edges_df(spark, pairs)).collect()}
        assert {v: r["triangles"] for v, r in rows.items()} == {
            "a": 1, "b": 1, "c": 1, "d": 0,
        }
        assert rows["c"]["degree"] == 3
        assert rows["d"]["degree"] == 1

    def test_k5_every_node_in_c42_triangles(self, spark):
        pairs = list(combinations([f"v{i}" for i in range(5)], 2))
        rows = triangle_census(_edges_df(spark, pairs)).collect()
        assert all(r["triangles"] == 6 and r["degree"] == 4 for r in rows)

    def test_random_graph_matches_bruteforce(self, spark):
        nodes = [f"n{i}" for i in range(12)]
        pairs = [
            (a, b) for a, b in combinations(nodes, 2) if hash((a, b)) % 4 != 0
        ]
        ref = _triangles_ref(pairs)
        rows = {
            r["node"]: r["triangles"]
            for r in triangle_census(_edges_df(spark, pairs)).collect()
        }
        assert rows == ref


def test_kcore_peels_tail_and_keeps_clique(spark):
    from stash_log_parser_spark.operators.graph import kcore

    # triangle a-b-c (2-core) with a pendant chain c-d-e (peels off)
    edges = spark.createDataFrame(
        [("a", "b"), ("a", "c"), ("b", "c"), ("c", "d"), ("d", "e")],
        "repo_a string, repo_b string",
    )
    out = {r.node: r for r in kcore(edges, k=2, rounds=4).collect()}
    assert [out[n].in_core for n in "abc"] == [True, True, True]
    assert [out[n].in_core for n in "de"] == [False, False]
    # chain peeling takes 2 rounds: e first (deg 1), then d
    assert out["c"].degree == 3 and out["c"].core_degree == 2
    assert out["e"].core_degree == 0


def test_kcore_raises_when_rounds_too_few(spark):
    import pytest

    from stash_log_parser_spark.operators.graph import kcore

    # a path of 8 nodes has an empty 2-core reached by peeling one end
    # pair per round — 1 round cannot converge and must raise
    edges = spark.createDataFrame(
        [(f"n{i}", f"n{i+1}") for i in range(7)],
        "repo_a string, repo_b string",
    )
    with pytest.raises(RuntimeError, match="did not converge"):
        kcore(edges, k=2, rounds=1)
    # enough rounds: converges to the empty core
    out = kcore(edges, k=2, rounds=4).collect()
    assert all(not r.in_core for r in out)


class TestLabelPropagation:
    def test_two_cliques_with_bridge(self, spark):
        from stash_log_parser_spark.operators.graph import label_propagation

        # two triangles {a,b,c} and {x,y,z} joined by one bridge c-x
        pairs = [
            ("a", "b"), ("a", "c"), ("b", "c"),
            ("x", "y"), ("x", "z"), ("y", "z"),
            ("c", "x"),
        ]
        out = {
            r.node: (r.label, r.community_size)
            for r in label_propagation(_edges_df(spark, pairs), rounds=3).collect()
        }
        # triangle members converge to the min label of their clique
        assert out["a"][0] == out["b"][0] == "a"
        assert out["y"][0] == out["z"][0]
        assert out["a"][1] >= 2
        # every node is labelled
        assert set(out) == {"a", "b", "c", "x", "y", "z"}

    def test_matches_python_mirror(self, spark):
        from stash_log_parser_spark.operators.graph import label_propagation

        # deterministic pseudo-random graph
        import hashlib

        nodes = [f"n{i}" for i in range(12)]
        pairs = []
        for i, u in enumerate(nodes):
            for v in nodes[i + 1:]:
                h = hashlib.md5(f"{u}|{v}".encode()).hexdigest()
                if int(h[:2], 16) < 70:
                    pairs.append((u, v))
        out = {
            r.node: r.label
            for r in label_propagation(_edges_df(spark, pairs), rounds=3).collect()
        }
        # pure-python synchronous mirror
        adj = {}
        for u, v in pairs:
            adj.setdefault(u, []).append(v)
            adj.setdefault(v, []).append(u)
        labels = {n: n for n in adj}
        for _ in range(3):
            nxt = {}
            for n, nbrs in adj.items():
                counts = {}
                for m in nbrs:
                    counts[labels[m]] = counts.get(labels[m], 0) + 1
                nxt[n] = min(counts, key=lambda L: (-counts[L], L))
            labels = nxt
        assert out == labels


def test_pagerank_15_iters_with_reliable_checkpoint(spark, request):
    """A deep (15-iteration) run with checkpointing on completes and is
    value-identical to the unrolled-lineage run: checkpointing only
    truncates lineage — the 1e-6-quantized trajectory cannot change."""
    import os

    from stash_log_parser_spark.operators import graph as G

    edges = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("c", "d"), ("a", "d"), ("a", "c"), ("d", "e")],
        "repo_a string, repo_b string",
    )
    plain = G.pagerank(edges, iters=15).collect()
    ckpt = request.getfixturevalue("checkpoint_dir")
    ck = G.pagerank(edges, iters=15, checkpoint_every=5).collect()
    assert [tuple(r) for r in ck] == [tuple(r) for r in plain]
    assert any(os.scandir(ckpt))


def test_kcore_reliable_checkpoint_dir(spark, request):
    """kcore with a reliable checkpoint dir peels identically; 15
    rounds on an already-converged graph still terminates early."""
    import os

    from stash_log_parser_spark.operators import graph as G

    edges = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("a", "c"), ("c", "d")],
        "repo_a string, repo_b string",
    )
    plain = G.kcore(edges, k=2, rounds=15).collect()
    ckpt = request.getfixturevalue("checkpoint_dir")
    ck = G.kcore(edges, k=2, rounds=15).collect()
    assert [tuple(r) for r in ck] == [tuple(r) for r in plain]
    assert any(os.scandir(ckpt))


def _inc_df(spark, pairs):
    return spark.createDataFrame(
        [(u, r) for u, r in pairs], "username string, repo_slug string"
    )


class TestHits:
    def test_uniform_bipartite_is_uniform(self, spark):
        # 2 users × 2 repos complete bipartite: both repos tie at 0.5
        from stash_log_parser_spark.operators.graph import hits

        inc = [("u1", "r1"), ("u1", "r2"), ("u2", "r1"), ("u2", "r2")]
        rows = {r["repo_slug"]: r for r in hits(_inc_df(spark, inc)).collect()}
        assert set(rows) == {"r1", "r2"}
        for r in rows.values():
            assert r["authority"] == pytest.approx(0.5, abs=1e-9)
            assert r["degree"] == 2

    def test_matches_python_mirror_and_ranks_shared_repo_first(self, spark):
        from stash_log_parser_spark.operators.graph import hits

        # r_shared touched by all 3 users; r_solo by one narrow user
        inc = [
            ("u1", "r_shared"),
            ("u2", "r_shared"),
            ("u3", "r_shared"),
            ("u3", "r_solo"),
            ("u1", "r_other"),
        ]
        h = {u: 1.0 for u in {u for u, _ in inc}}
        a = {}
        for _ in range(3):
            raw_a = {}
            for u, r in inc:
                raw_a[r] = raw_a.get(r, 0.0) + h[u]
            ta = sum(raw_a.values())
            a = {r: _q6(v / ta) for r, v in raw_a.items()}
            raw_h = {}
            for u, r in inc:
                raw_h[u] = raw_h.get(u, 0.0) + a[r]
            th = sum(raw_h.values())
            h = {u: _q6(v / th) for u, v in raw_h.items()}
        out = hits(_inc_df(spark, inc)).collect()
        got = {r["repo_slug"]: r["authority"] for r in out}
        assert got == pytest.approx(a, abs=1e-9)
        assert out[0]["repo_slug"] == "r_shared"  # ordered by authority desc


class TestAdamicAdar:
    def test_weights_inverse_log_degree(self, spark):
        from stash_log_parser_spark.operators.graph import adamic_adar

        # u_narrow (deg 2) links r1-r2 strongly; u_broad (deg 3) links
        # r1-r2, r1-r3, r2-r3 weakly.
        inc = [
            ("u_narrow", "r1"),
            ("u_narrow", "r2"),
            ("u_broad", "r1"),
            ("u_broad", "r2"),
            ("u_broad", "r3"),
        ]
        rows = {
            (r["repo_a"], r["repo_b"]): r
            for r in adamic_adar(_inc_df(spark, inc)).collect()
        }
        w2, w3 = 1.0 / math.log(2.0), 1.0 / math.log(3.0)
        assert rows[("r1", "r2")]["aa_score"] == pytest.approx(
            _q6(w2 + w3), abs=1e-9
        )
        assert rows[("r1", "r2")]["common_users"] == 2
        assert rows[("r1", "r3")]["aa_score"] == pytest.approx(_q6(w3), abs=1e-9)
        assert rows[("r2", "r3")]["common_users"] == 1
        # the strongly-linked pair ranks first
        top = adamic_adar(_inc_df(spark, inc)).collect()[0]
        assert (top["repo_a"], top["repo_b"]) == ("r1", "r2")

    def test_top_pairs_limit(self, spark):
        from stash_log_parser_spark.operators.graph import adamic_adar

        inc = [("u", f"r{i}") for i in range(6)]  # C(6,2)=15 pairs
        assert adamic_adar(_inc_df(spark, inc), top_pairs=4).count() == 4
