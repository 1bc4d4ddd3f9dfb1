"""Web-graph operators (operators/linkgraph.py)."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from pero_ocr_spark.operators import linkgraph as L


def naive_pagerank(n, iters=3, d=0.85):
    edges = []
    for i in range(n):
        for j in range(2 + i % 3):
            t = (i * 7 + j * 13 + 1) % n
            if t != i:
                edges.append((i, t))
    deg = np.zeros(n)
    for s, _ in edges:
        deg[s] += 1
    r = np.full(n, 1.0 / n)
    for _ in range(iters):
        nxt = np.full(n, (1 - d) / n)
        for s, t in edges:
            nxt[t] += d * r[s] / deg[s]
        r = nxt
    return r


@pytest.mark.usefixtures("spark")
class TestPageRank:
    def test_matches_naive_power_iteration(self, spark):
        n = 60
        docs = spark.createDataFrame([(i,) for i in range(n)], "doc_id long")
        got = (
            L.pagerank(docs, n_docs=n, iterations=3)
            .toPandas().sort_values("doc_id").reset_index(drop=True)
        )
        want = naive_pagerank(n)
        assert np.allclose(got["rank"].to_numpy(), want, atol=1e-9)
        # probability mass is conserved by the teleport + inflow split
        # up to dangling leakage (this graph has none: min outdeg 2)
        assert got["rank"].sum() == pytest.approx(1.0, abs=1e-6)

    def test_orphan_gets_teleport_only(self, spark):
        # with n=2: doc 0 -> 1 (both j-targets collide), doc 1 -> 0;
        # no orphans, but check the left-join path with a node whose
        # inflow is zero by pruning edges to it
        n = 12
        docs = spark.createDataFrame([(i,) for i in range(n)], "doc_id long")
        ranks = L.pagerank(docs, n_docs=n, iterations=1).toPandas()
        want = naive_pagerank(n, iters=1)
        assert np.allclose(
            ranks.sort_values("doc_id")["rank"].to_numpy(), want, atol=1e-9
        )

    def test_no_self_loops_in_edges(self, spark):
        docs = spark.createDataFrame([(i,) for i in range(30)], "doc_id long")
        e = L.synth_edges(docs, 30).toPandas()
        assert (e["src"] != e["dst"]).all()
        # out-degree 2 + src%3 minus dropped self-loops
        assert len(e) <= sum(2 + i % 3 for i in range(30))

    def test_rank_vector_is_not_broadcast(self, spark):
        # the iterated join must be shuffle-shaped: at corpus scale the
        # rank vector is as big as the corpus. Neither join input is
        # wrapped in a broadcast hint; with the session threshold
        # zeroed the plan must contain a SortMerge/ShuffledHash join.
        old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        try:
            docs = spark.createDataFrame([(i,) for i in range(20)], "doc_id long")
            plan = L.pagerank(docs, 20, iterations=1)._jdf.queryExecution(
            ).executedPlan().toString()
            assert "SortMergeJoin" in plan or "ShuffledHashJoin" in plan
        finally:
            spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)


@pytest.mark.usefixtures("spark")
class TestHostPriors:
    def test_blend_and_keep(self, spark):
        docs = spark.createDataFrame(
            [
                (1, "alpha beta gamma delta " * 20, "web"),
                (2, "zz " * 10, "web"),
                (3, "one two three four five six seven eight nine ten " * 8,
                 "news"),
            ],
            "doc_id long, text string, source string",
        )
        docs = docs.select(
            "doc_id", F.rtrim(F.col("text")).alias("text"), "source"
        )
        out = (
            L.host_quality_priors(docs)
            .toPandas().set_index("doc_id").sort_index()
        )
        assert set(out["host"]) == {"web.example.com", "news.example.com"}
        web = out[out["host"] == "web.example.com"]
        assert web["host_prior"].nunique() == 1
        assert web["host_prior"].iloc[0] == pytest.approx(
            round(web["doc_quality"].mean(), 6), abs=1e-6
        )
        for _, r in out.iterrows():
            want = 0.5 * r["doc_quality"] + 0.5 * r["host_prior"]
            assert r["combined"] == pytest.approx(want, abs=1e-12)
            assert bool(r["keep"]) == (r["combined"] > 0.55)

    def test_host_join_is_broadcast(self, spark):
        docs = spark.createDataFrame(
            [(i, "alpha beta gamma " * 30, "web") for i in range(10)],
            "doc_id long, text string, source string",
        )
        plan = L.host_quality_priors(docs)._jdf.queryExecution(
        ).executedPlan().toString()
        assert "BroadcastHashJoin" in plan


class TestFrontierSchedule:
    def test_per_host_fifo_and_politeness(self, spark):
        rows = [
            # (doc_id, host, priority, crawl_delay)
            (1, "a", 5, 2), (2, "a", 9, 2), (3, "a", 5, 2),
            (4, "b", 1, 7),
        ]
        df = spark.createDataFrame(
            rows, "doc_id long, host string, priority int, crawl_delay int"
        )
        out = {r.doc_id: (r.slot, r.fetch_at)
               for r in L.frontier_schedule(df).collect()}
        # host a: priority 9 first, then priority-5 ties by doc_id
        assert out[2] == (0, 0)
        assert out[1] == (1, 2)
        assert out[3] == (2, 4)
        # host b schedules independently from slot 0 with its own delay
        assert out[4] == (0, 0)


class TestSnapshotDiff:
    def test_four_way_classification(self, spark):
        old = spark.createDataFrame(
            [("u1", "h1"), ("u2", "h2"), ("u3", "h3")], "url string, h string"
        )
        new = spark.createDataFrame(
            [("u1", "h1"), ("u2", "HX"), ("u4", "h4")], "url string, h string"
        )
        out = {r.url: r.status
               for r in L.snapshot_diff(old, new, cmp_col="h").collect()}
        assert out == {"u1": "unchanged", "u2": "changed",
                       "u3": "removed", "u4": "added"}


def _sparse_edges_py(n):
    e = [(i, i + 1) for i in range(n - 1) if i % 7 != 6]
    e += [(i, i + 15) for i in range(0, n - 15, 35)]
    return e


@pytest.mark.usefixtures("spark")
class TestConnectedComponents:
    def test_matches_union_find(self, spark):
        n = 120
        parent = list(range(n))

        def find(x):
            while parent[x] != x:
                parent[x] = parent[parent[x]]
                x = parent[x]
            return x

        for a, b in _sparse_edges_py(n):
            ra, rb = find(a), find(b)
            if ra != rb:
                parent[max(ra, rb)] = min(ra, rb)
        want = {i: find(i) for i in range(n)}
        # canonicalize to component minimum
        comp_min = {}
        for i in range(n):
            r = find(i)
            comp_min[r] = min(comp_min.get(r, i), i)
        want = {i: comp_min[find(i)] for i in range(n)}

        docs = spark.createDataFrame([(i,) for i in range(n)], "doc_id long")
        edges = L.synth_sparse_edges(docs, n)
        got = L.connected_components(docs, edges).toPandas()
        got = dict(zip(got["doc_id"], got["component"]))
        assert got == want
        # multiple components actually exist (the chains are broken)
        assert len(set(want.values())) > 5

    def test_isolated_nodes_self_label(self, spark):
        docs = spark.createDataFrame([(i,) for i in range(5)], "doc_id long")
        edges = spark.createDataFrame([(0, 1)], "src long, dst long")
        got = L.connected_components(docs, edges).toPandas()
        got = dict(zip(got["doc_id"], got["component"]))
        assert got == {0: 0, 1: 0, 2: 2, 3: 3, 4: 4}

    def test_long_chain_converges_in_log_rounds(self, spark):
        # a pure 40-node chain has diameter 39; large-star/small-star
        # must close it within the 25-iteration cap (it needs ~log n)
        n = 40
        docs = spark.createDataFrame([(i,) for i in range(n)], "doc_id long")
        edges = spark.createDataFrame(
            [(i, i + 1) for i in range(n - 1)], "src long, dst long"
        )
        got = L.connected_components(docs, edges, max_iterations=8).toPandas()
        assert set(got["component"]) == {0}

    def test_unconverged_labeling_raises(self, spark):
        # 3 rounds cannot close a 40-node chain; returning the partial
        # labeling would silently split the component
        n = 40
        docs = spark.createDataFrame([(i,) for i in range(n)], "doc_id long")
        edges = spark.createDataFrame(
            [(i, i + 1) for i in range(n - 1)], "src long, dst long"
        )
        with pytest.raises(RuntimeError, match="max_iterations=3"):
            L.connected_components(docs, edges, max_iterations=3)


@pytest.mark.usefixtures("spark")
class TestLabelPropagation:
    def test_matches_naive_synchronous_lpa(self, spark):
        n = 80
        edges = set()
        for i in range(n):
            for j in range(2 + i % 3):
                t = (i * 7 + j * 13 + 1) % n
                if t != i:
                    edges.add((i, t))
                    edges.add((t, i))
        nbrs = {i: sorted(b for a, b in edges if a == i) for i in range(n)}
        lab = {i: i for i in range(n)}
        for _ in range(3):
            new = {}
            for i in range(n):
                if not nbrs[i]:
                    new[i] = lab[i]
                    continue
                cnt = {}
                for b in nbrs[i]:
                    cnt[lab[b]] = cnt.get(lab[b], 0) + 1
                best = min(cnt.items(), key=lambda kv: (-kv[1], kv[0]))
                new[i] = best[0]
            lab = new
        docs = spark.createDataFrame([(i,) for i in range(n)], "doc_id long")
        got = L.label_propagation(docs, n_docs=n, iterations=3).toPandas()
        got = dict(zip(got["doc_id"], got["community"]))
        assert got == lab


@pytest.mark.usefixtures("spark")
class TestKCore:
    def test_matches_naive_peeling(self, spark):
        n = 90
        edges = set()
        for i in range(n):
            for j in range(2 + i % 3):
                t = (i * 7 + j * 13 + 1) % n
                if t != i:
                    edges.add((min(i, t), max(i, t)))
        und = set()
        for a, b in edges:
            und.add((a, b))
            und.add((b, a))
        k = 3
        while True:
            deg = {}
            for a, _ in und:
                deg[a] = deg.get(a, 0) + 1
            keep = {a for a, d in deg.items() if d >= k}
            nxt = {(a, b) for a, b in und if a in keep and b in keep}
            if nxt == und:
                break
            und = nxt
        deg = {}
        for a, _ in und:
            deg[a] = deg.get(a, 0) + 1
        docs = spark.createDataFrame([(i,) for i in range(n)], "doc_id long")
        got = L.kcore_membership(docs, n_docs=n, k=k).toPandas()
        for _, row in got.iterrows():
            assert row["core_degree"] == deg.get(row["doc_id"], 0)
            assert row["in_core"] == (deg.get(row["doc_id"], 0) >= k)

    def test_sparse_graph_has_no_3core(self, spark):
        # chains have max degree 3 only at bridge endpoints; peeling
        # must dissolve everything (no cycle-rich backbone exists)
        n = 100
        docs = spark.createDataFrame([(i,) for i in range(n)], "doc_id long")
        # run k-core over the sparse graph by substituting edges: the
        # operator synthesizes the dense graph internally, so check the
        # dense result is non-trivial instead
        got = L.kcore_membership(docs, n_docs=n, k=6).toPandas()
        assert not got["in_core"].all()


@pytest.mark.usefixtures("spark")
class TestTrustRank:
    def test_matches_naive_personalized_power_iteration(self, spark):
        n, d, seed_mod = 120, 0.85, 50
        edges = []
        for i in range(n):
            for j in range(2 + i % 3):
                t = (i * 7 + j * 13 + 1) % n
                if t != i:
                    edges.append((i, t))
        deg = np.zeros(n)
        for s, _ in edges:
            deg[s] += 1
        seeds = [i for i in range(n) if i % seed_mod == 0]
        r = np.zeros(n)
        for s in seeds:
            r[s] = 1.0 / len(seeds)
        for _ in range(3):
            nxt = np.zeros(n)
            for s in seeds:
                nxt[s] = (1 - d) / len(seeds)
            for s, t in edges:
                nxt[t] += d * r[s] / deg[s]
            r = nxt
        docs = spark.createDataFrame([(i,) for i in range(n)], "doc_id long")
        got = L.trustrank(docs, n_docs=n, iterations=3).toPandas()
        for _, row in got.iterrows():
            assert abs(row["trust"] - r[row["doc_id"]]) < 1e-8
            assert row["reachable"] == (round(r[row["doc_id"]], 9) > 0.0)

    def test_mass_concentrates_near_seeds(self, spark):
        # a page unreachable from every seed must hold exactly zero
        # trust (uniform-teleport PageRank would give it (1-d)/n)
        n = 120
        docs = spark.createDataFrame([(i,) for i in range(n)], "doc_id long")
        got = L.trustrank(docs, n_docs=n, iterations=3).toPandas()
        unreachable = got[~got["reachable"]]
        assert (unreachable["trust"] == 0.0).all()
        assert got.loc[got["doc_id"] % 50 == 0, "trust"].min() > 0.0


@pytest.mark.usefixtures("spark")
class TestBfsDepth:
    @staticmethod
    def _naive(n, seeds, max_hops=16):
        adj = {i: set() for i in range(n)}
        for i in range(n):
            if i % 7 != 6 and i + 1 < n:
                adj[i].add(i + 1)
                adj[i + 1].add(i)
            if i % 35 == 0 and i + 15 < n:
                adj[i].add(i + 15)
                adj[i + 15].add(i)
        dist = {s: 0 for s in seeds}
        frontier = list(seeds)
        for r in range(1, max_hops + 1):
            nxt = []
            for u in frontier:
                for v in adj[u]:
                    if v not in dist:
                        dist[v] = r
                        nxt.append(v)
            frontier = nxt
            if not frontier:
                break
        return dist

    def test_matches_naive_bfs(self, spark):
        n = 150
        seeds_py = [i for i in range(n) if i % 50 == 0]
        want = self._naive(n, seeds_py)
        docs = spark.createDataFrame([(i,) for i in range(n)], "doc_id long")
        edges = L.synth_sparse_edges(docs, n_docs=n)
        seeds = docs.filter(F.col("doc_id") % 50 == 0)
        got = L.bfs_depth(docs, edges, seeds).toPandas()
        for _, row in got.iterrows():
            assert row["depth"] == want.get(row["doc_id"], -1)
            assert row["reachable"] == (row["doc_id"] in want)

    def test_hop_cap_leaves_far_nodes_unreached(self, spark):
        # one seed at 0, pure chain: nodes > max_hops away report -1
        n = 30
        docs = spark.createDataFrame([(i,) for i in range(n)], "doc_id long")
        edges = spark.createDataFrame(
            [(i, i + 1) for i in range(n - 1)], "src long, dst long"
        )
        seeds = spark.createDataFrame([(0,)], "doc_id long")
        got = L.bfs_depth(docs, edges, seeds, max_hops=5).toPandas()
        got = dict(zip(got["doc_id"], got["depth"]))
        assert got[5] == 5
        assert got[6] == -1 and got[n - 1] == -1


@pytest.mark.usefixtures("spark")
class TestHostGraph:
    def test_matches_naive_condensation(self, spark):
        n = 80
        hosts = {i: f"h{i % 4}.example.com" for i in range(n)}
        want = {}
        srcs = {}
        for i in range(n):
            for j in range(2 + i % 3):
                t = (i * 7 + j * 13 + 1) % n
                if t != i:
                    key = (hosts[i], hosts[t])
                    want[key] = want.get(key, 0) + 1
                    srcs.setdefault(key, set()).add(i)
        docs = spark.createDataFrame(
            [(i, f"h{i % 4}") for i in range(n)], "doc_id long, source string"
        )
        got = L.host_graph(docs, n_docs=n).toPandas()
        assert len(got) == len(want)
        for _, row in got.iterrows():
            key = (row["src_host"], row["dst_host"])
            assert row["n_links"] == want[key]
            assert row["n_src_docs"] == len(srcs[key])
            assert row["intra_host"] == (key[0] == key[1])


class TestRandomWalks:
    def test_matches_serial_replica(self, spark):
        from pero_ocr_spark.operators import linkgraph

        n = 40
        docs = spark.range(n).select(F.col("id").alias("doc_id"))
        got = {r.start: (r.walk, r.end_node) for r in
               linkgraph.random_walks(docs, n_docs=n, steps=3).collect()}

        P = 2_147_483_647
        edges: dict[int, list[int]] = {}
        for s in range(n):
            for j in range(s % 3 + 2):
                d = (s * 7 + j * 13 + 1) % n
                if d != s:
                    edges.setdefault(s, []).append(d)

        def hop(cur, step):
            return min(
                edges[cur],
                key=lambda d: (
                    ((cur * 69069 + d) % P * 48271 + step * 12345) % P,
                    d,
                ),
            )

        for s in range(n):
            cur, walk = s, str(s)
            for step in (1, 2, 3):
                cur = hop(cur, step)
                walk += f"->{cur}"
            assert got[s] == (walk, cur), s

    def test_walks_are_partitioning_invariant(self, spark):
        from pero_ocr_spark.operators import linkgraph

        docs = spark.range(60).select(F.col("id").alias("doc_id"))
        a = set(map(tuple, linkgraph.random_walks(
            docs.repartition(1), 60).collect()))
        b = set(map(tuple, linkgraph.random_walks(
            docs.repartition(13), 60).collect()))
        assert a == b
