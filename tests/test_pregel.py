"""Pregel harness pins (VERDICT r6 item 4): the generic superstep
surface must reproduce the bespoke loops EXACTLY — PageRank via
pregel() == run_pagerank (same oracle), HITS and LPA via pregel() ==
their graph.py twins — and keep the measured loop hygiene: one active
message direction costs exactly ONE Exchange per superstep (the
pagerank.py partitioning argument, re-proven for the edge-list form).
"""

import sys
from concurrent.futures import ThreadPoolExecutor

import pytest
from pyspark.sql import functions as F

from page_rank_hadoop_spark.operators import dedup, graph, pagerank
from page_rank_hadoop_spark.operators.pregel import (
    hits_pregel,
    label_propagation_pregel,
    pagerank_pregel,
    pregel,
)
from page_rank_hadoop_spark.sources.corpus import parse_corpus_lines

CORPUS = [
    "<title>1</title> [[2]] [[4]]",
    "<title>2</title> [[1]] [[3]]",
    "<title>4</title>",
]


@pytest.fixture(scope="module")
def adj(spark):
    parsed = parse_corpus_lines(
        spark.createDataFrame([(line,) for line in CORPUS], ["line"])
    )
    edges = parsed.select(F.col("title").alias("src"), F.explode("links").alias("dst"))
    verts = parsed.select(F.col("title").alias("id")).distinct()
    kept = graph.resolve_edges(edges, verts)
    return graph.adjacency(kept, verts, null_vid="NULL")


@pytest.fixture(scope="module")
def kept_edges(spark):
    parsed = parse_corpus_lines(
        spark.createDataFrame([(line,) for line in CORPUS], ["line"])
    )
    edges = parsed.select(F.col("title").alias("src"), F.explode("links").alias("dst"))
    verts = parsed.select(F.col("title").alias("id")).distinct()
    return graph.resolve_edges(edges, verts)


def test_pagerank_pregel_matches_run_pagerank(adj):
    """Same formula, same rounds, same dangling-mass semantics — values
    equal at 9dp (summation order inside one engine's groupBy is already
    nondeterministic, so exact-bit equality is not the contract; the
    shared 6dp oracle is)."""
    want = {
        r["id"]: r["pr"]
        for r in pagerank.run_pagerank(adj, fixed_iterations=10).ranks.collect()
    }
    got = {r["id"]: r["pr"] for r in pagerank_pregel(adj, n_iter=10).collect()}
    assert set(got) == set(want)
    for k in want:
        assert got[k] == pytest.approx(want[k], abs=1e-9)


def test_pagerank_pregel_one_iteration_formula(adj):
    """One superstep from uniform pr=1 reproduces the reference formula
    exactly (the test_fixed_point_formula twin, via the harness)."""
    got = {r["id"]: r["pr"] for r in pagerank_pregel(adj, n_iter=1).collect()}
    a, n = 0.15, 4
    base = a / n
    assert got["1"] == pytest.approx(base + 0.85 * (1.0 + 1.0 / 3))
    assert got["2"] == pytest.approx(base + 0.85 * (0.5 + 1.0 / 3))
    assert got["4"] == pytest.approx(base + 0.85 * (0.5 + 1.0 / 3))
    assert got["NULL"] == pytest.approx(base + 0.85 * 1.0)


def test_hits_pregel_matches_hits(kept_edges):
    want = {r["id"]: (r["hub"], r["authority"]) for r in graph.hits(kept_edges, n_iter=8).collect()}
    got = {r["id"]: (r["hub"], r["authority"]) for r in hits_pregel(kept_edges, n_iter=8).collect()}
    assert got == want  # both 6dp-rounded — exact dict equality


def test_lpa_pregel_matches_label_propagation(kept_edges):
    want = {r["id"]: r["label"] for r in graph.label_propagation(kept_edges, n_iter=3).collect()}
    got = {r["id"]: r["label"] for r in label_propagation_pregel(kept_edges, n_iter=3).collect()}
    assert got == want


def test_pregel_adaptive_stop_policy(adj):
    """Adaptive mode honors min_iter/tol/max_iter: the tiny graph's
    delta drops below a huge tol immediately, so the loop must still run
    exactly min_iter rounds (the reference's min-10 floor, scaled
    down)."""

    def update(joined):
        n = 4
        return joined.select(
            "id",
            (
                F.lit(0.15) * (1.0 / n)
                + F.lit(0.85) * F.coalesce(F.col("contrib"), F.lit(0.0))
            ).alias("pr"),
            "out_deg",
        )

    def delta(old, new):
        return (
            new.alias("n")
            .join(old.alias("o"), "id")
            .agg(F.sum(F.abs(F.col("n.pr") - F.col("o.pr"))).alias("d"))
            .collect()[0]["d"]
        )

    verts = adj.select(
        "id", F.lit(1.0).alias("pr"), F.size("links").cast("double").alias("out_deg")
    )
    edges = adj.select(F.col("id").alias("src"), F.explode("links").alias("dst"))
    res = pregel(
        vertices=verts,
        edges=edges,
        send_to_dst=[(F.col("pr") / F.col("out_deg")).alias("contrib")],
        agg_to_dst=[F.sum("contrib").alias("contrib")],
        update=update,
        min_iter=3,
        max_iter=50,
        tol=1e9,
        delta_metric=delta,
    )
    assert res.iterations == 3
    assert len(res.deltas) == 3


from tests.test_pagerank import _count_shuffles


def test_pregel_round_single_exchange(spark, adj):
    """The harness's physical contract, proven for the edge-list form:
    edges persisted partitioned by src + state id-partitioned ⇒ the send
    join and the update join are exchange-free and ONE superstep
    shuffles exactly once (the per-recipient message aggregate) — the
    same shape test_pagerank.py pins for the adjacency-list loop."""
    from pyspark.storagelevel import StorageLevel

    edges = (
        adj.select(F.col("id").alias("src"), F.explode("links").alias("dst"))
        .repartition("src")
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    edges.count()
    state = (
        adj.select(
            "id", F.lit(1.0).alias("pr"), F.size("links").cast("double").alias("out_deg")
        )
        .repartition("id")
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    state.count()
    msgs = (
        edges.join(state.withColumnRenamed("id", "src"), "src")
        .select(F.col("dst").alias("id"), (F.col("pr") / F.col("out_deg")).alias("contrib"))
        .groupBy("id")
        .agg(F.sum("contrib").alias("contrib"))
    )
    new_state = state.join(msgs, "id", "left").select(
        "id",
        (F.lit(0.15) / 4 + 0.85 * F.coalesce("contrib", F.lit(0.0))).alias("pr"),
        "out_deg",
    )
    new_state.count()
    n_shuffles = _count_shuffles(new_state._jdf.queryExecution().executedPlan())
    assert n_shuffles == 1, new_state._jdf.queryExecution().executedPlan().toString()
    edges.unpersist()
    state.unpersist()


def test_pregel_checkpointed_round_single_exchange(adj, monkeypatch):
    """The same contract over the harness's OWN round: superstep 2 reads
    the state round 1 checkpointed, and still shuffles exactly once and
    broadcasts nothing. Under AQE that checkpoint reported
    UnknownPartitioning(0), so the round re-shuffled the state and
    broadcast the edge frame."""
    from pyspark.sql.classic.dataframe import DataFrame

    rounds: list = []  # the frame each superstep checkpoints
    orig = DataFrame.localCheckpoint

    def spy(self, eager=True):
        rounds.append(self)
        return orig(self, eager=eager)

    monkeypatch.setattr(DataFrame, "localCheckpoint", spy)
    pagerank_pregel(adj, n_iter=3).collect()
    assert len(rounds) == 3
    plan = rounds[1]._jdf.queryExecution().executedPlan()
    assert "ExistingRDD" in plan.toString()  # state = round 1's checkpoint
    assert _count_shuffles(plan) == 1, plan.toString()
    assert _count_shuffles(plan, "BroadcastExchange") == 0, plan.toString()


def _pagerank_program(adj, update):
    """pagerank_pregel's vertex program around a caller-supplied update."""
    verts = adj.select(
        "id", F.lit(1.0).alias("pr"), F.size("links").cast("double").alias("out_deg")
    )
    edges = adj.select(F.col("id").alias("src"), F.explode("links").alias("dst"))
    return pregel(
        vertices=verts,
        edges=edges,
        send_to_dst=[(F.col("pr") / F.col("out_deg")).alias("contrib")],
        agg_to_dst=[F.sum("contrib").alias("contrib")],
        update=update,
        n_iter=3,
        shuffle_partitions="auto",
    )


def _damp(joined):
    return joined.select(
        "id",
        (F.lit(0.15 / 4) + 0.85 * F.coalesce("contrib", F.lit(0.0))).alias("pr"),
        "out_deg",
    )


def test_pregel_fused_update_contract(adj):
    """An update returning a tuple must return exactly (DataFrame, True);
    anything else is a TypeError naming the contract, not a silent
    unpack."""
    for bad in (
        lambda j: (_damp(j), False),
        lambda j: (_damp(j),),
        lambda j: (_damp(j), True, None),
        lambda j: ("state", True),
    ):
        with pytest.raises(TypeError, match="fused-superstep contract"):
            _pagerank_program(adj, bad)


AQE, PARTS = "spark.sql.adaptive.enabled", "spark.sql.shuffle.partitions"


def _settings(spark):
    return spark.conf.get(AQE), spark.conf.get(PARTS)


def _recorded_pagerank(adj, seen: list) -> dict:
    """Run the program, recording the settings each superstep is planned
    under."""
    spark = adj.sparkSession

    def update(joined):
        seen.append(_settings(spark))
        return _damp(joined)

    return {r["id"]: r["pr"] for r in _pagerank_program(adj, update).vertices.collect()}


NUM_EDGES = [(1, 2), (2, 3), (3, 1), (3, 4), (4, 5), (6, 7)]

# bespoke driver loops over a frame with NUM_EDGES' (src, dst) columns
BESPOKE_LOOPS = {
    "shortest_paths": lambda e: graph.shortest_paths(e, source=1),
    "hits": lambda e: graph.hits(e, n_iter=3),
    "near_dup_components": lambda e: dedup.near_dup_components(
        e.select(F.col("src").alias("doc_a"), F.col("dst").alias("doc_b"))
    ),
    "strongly_connected_components": graph.strongly_connected_components,
}


def _run_bespoke(spark, loop) -> set:
    return set(BESPOKE_LOOPS[loop](spark.createDataFrame(NUM_EDGES, ["src", "dst"])).collect())


def _record_round_checkpoints(monkeypatch, spark, seen: list, fail: bool) -> None:
    """Record the settings under which each round's lazy checkpoint is
    taken (the bespoke loops snapshot every round that way); with
    ``fail`` the second one raises, mid-loop."""
    from pyspark.sql.classic.dataframe import DataFrame

    orig = DataFrame.localCheckpoint

    def spy(self, eager=True):
        if not eager:
            seen.append(_settings(spark))
            if fail and len(seen) == 2:
                raise RuntimeError("round failed")
        return orig(self, eager=eager)

    monkeypatch.setattr(DataFrame, "localCheckpoint", spy)


@pytest.mark.parametrize("loop", ["pregel", *BESPOKE_LOOPS])
def test_loop_scope_pins_and_restores_session_settings(spark, adj, monkeypatch, loop):
    """Every round plans with AQE off and the auto-sized partition count
    (the session has 8; these small graphs get the floor, 4); the
    session gets its own values back after the loop and after a round
    that raises. Pregel rounds are recorded in the update, the bespoke
    loops' rounds at their lazy checkpoints."""
    before = _settings(spark)
    seen: list = []
    if loop == "pregel":
        _recorded_pagerank(adj, seen)
        assert seen == [("false", "4")] * 3
    else:
        _record_round_checkpoints(monkeypatch, spark, seen, fail=False)
        _run_bespoke(spark, loop)
        assert len(seen) >= 2 and set(seen) == {("false", "4")}
    assert _settings(spark) == before

    def boom(joined):
        raise RuntimeError("round failed")

    with pytest.raises(RuntimeError, match="round failed"):
        if loop == "pregel":
            _pagerank_program(adj, boom)
        else:
            seen.clear()
            monkeypatch.undo()
            _record_round_checkpoints(monkeypatch, spark, seen, fail=True)
            _run_bespoke(spark, loop)
    assert _settings(spark) == before


def test_pregel_releases_initial_state(spark, adj):
    """The harness persists the vertices at the loop's width for round
    1 and releases them when the loop ends, normally or by a raising
    update: a later reader of the same plan must find it uncached."""
    from pyspark import StorageLevel

    verts = adj.select(
        "id", F.lit(1.0).alias("pr"), F.size("links").cast("double").alias("out_deg")
    )
    edges = adj.select(F.col("id").alias("src"), F.explode("links").alias("dst"))
    seen: list = []

    def run(fail: bool):
        def update(joined):
            parts = int(spark.conf.get(PARTS))
            seen.append((parts, verts.repartition(parts, "id").storageLevel))
            if fail:
                raise RuntimeError("update failed")
            return _damp(joined)

        return pregel(
            vertices=verts,
            edges=edges,
            send_to_dst=[(F.col("pr") / F.col("out_deg")).alias("contrib")],
            agg_to_dst=[F.sum("contrib").alias("contrib")],
            update=update,
            n_iter=2,
            shuffle_partitions="auto",
        )

    assert run(fail=False).vertices.count() == 4
    with pytest.raises(RuntimeError, match="update failed"):
        run(fail=True)
    assert len(seen) == 3
    for parts, level in seen:
        assert level == StorageLevel.MEMORY_AND_DISK
        assert verts.repartition(parts, "id").storageLevel == StorageLevel.NONE


def test_concurrent_loops_keep_their_pins(spark, adj):
    """Loops started together from several threads on one session: each
    superstep still plans with its loop's settings, every answer equals
    the single-thread run, and the session ends with its own settings —
    without the scope lock, one loop restores the values another pinned
    and the session can end with AQE off."""
    want_pregel = _recorded_pagerank(adj, [])
    want_bespoke = {
        r["id"]: r["pr"]
        for r in pagerank.run_pagerank(adj, fixed_iterations=3).ranks.collect()
    }
    other_loops = ["shortest_paths", "strongly_connected_components"]
    want_other = {loop: _run_bespoke(spark, loop) for loop in other_loops}
    before = _settings(spark)
    seen: dict[int, list] = {k: [] for k in range(0, 5, 2)}

    def work(k):
        if k in seen:
            return _recorded_pagerank(adj, seen[k])
        if k >= 5:
            return _run_bespoke(spark, other_loops[k - 5])
        res = pagerank.run_pagerank(adj, fixed_iterations=3)
        return {r["id"]: r["pr"] for r in res.ranks.collect()}

    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-5)
    try:
        with ThreadPoolExecutor(max_workers=7) as ex:
            futures = [ex.submit(work, k) for k in range(7)]
            got = [f.result(timeout=600) for f in futures]
    finally:
        sys.setswitchinterval(interval)
    assert _settings(spark) == before
    for k, answer in enumerate(got[:5]):
        want = want_pregel if k in seen else want_bespoke
        assert answer == pytest.approx(want, abs=1e-12)
    assert got[5:] == [want_other[loop] for loop in other_loops]
    assert all(s == [("false", "4")] * 3 for s in seen.values())


def test_kcore_pregel_matches_k_core(spark):
    """The vertex-deactivation shape: k-core via pregel equals
    graph.k_core on a graph with a known 2-core (a triangle with
    pendant chains that peel away over multiple rounds)."""
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 1), (3, 4), (4, 5), (5, 6)], ["src", "dst"]
    )
    from page_rank_hadoop_spark.operators.pregel import k_core_pregel

    want = {
        (r["id"], r["degree"]) for r in graph.k_core(edges, k=2).collect()
    }
    got = {
        (r["id"], r["degree"]) for r in k_core_pregel(edges, k=2).collect()
    }
    assert got == want == {(1, 2), (2, 2), (3, 2)}


def test_bfs_pregel_matches_shortest_paths(spark):
    """Frontier mode (round 8): BFS via pregel(frontier_col=...) is
    row-identical to graph.shortest_paths on a graph with branches, a
    diamond (min-combine must pick the shorter hop), an unreachable
    component, and a cycle."""
    from page_rank_hadoop_spark.operators.pregel import bfs_pregel

    edges = spark.createDataFrame(
        [(0, 1), (0, 2), (1, 3), (2, 3), (3, 4), (4, 0), (7, 8)],
        ["src", "dst"],
    )
    want = {(r["id"], r["dist"]) for r in graph.shortest_paths(edges, source=0).collect()}
    got = {(r["id"], r["dist"]) for r in bfs_pregel(edges, source=0).collect()}
    assert got == want == {(0, 0), (1, 1), (2, 1), (3, 2), (4, 3)}


def test_bfs_pregel_votes_to_halt_and_tracks_frontier(spark):
    """The loop stops when the frontier empties (NOT at max_iter) and
    deltas records per-round frontier sizes — the chain 0→1→2 reaches
    everyone in 2 hops, so round 3 sees an empty frontier and halts
    even with max_hops=10. An isolated source halts after one round."""
    from page_rank_hadoop_spark.operators.pregel import bfs_pregel, pregel

    edges = spark.createDataFrame([(0, 1), (1, 2)], ["src", "dst"])
    # drive through the public wrapper, then inspect via the raw harness
    assert {(r["id"], r["dist"]) for r in bfs_pregel(edges, source=0).collect()} == {
        (0, 0), (1, 1), (2, 2)
    }
    verts = (
        edges.select(F.col("src").alias("id"))
        .unionByName(edges.select(F.col("dst").alias("id")))
        .distinct()
        .select(
            "id",
            F.when(F.col("id") == 0, F.lit(0)).alias("dist"),
            (F.col("id") == 0).alias("active"),
        )
    )
    res = pregel(
        vertices=verts,
        edges=edges,
        send_to_dst=[(F.col("dist") + 1).alias("d")],
        agg_to_dst=[F.min("d").alias("d")],
        update=lambda j: j.select(
            "id",
            F.coalesce("dist", "d").alias("dist"),
            (F.col("dist").isNull() & F.col("d").isNotNull()).alias("active"),
        ),
        frontier_col="active",
        max_iter=10,
    )
    assert res.iterations == 3  # 2 expansion rounds + the empty round
    assert res.deltas == [1.0, 1.0, 0.0]

    # unreachable-from-source graph: one round, immediate halt
    lone = pregel(
        vertices=verts.withColumn("active", F.lit(False)).withColumn(
            "dist", F.lit(None).cast("int")
        ),
        edges=edges,
        send_to_dst=[(F.col("dist") + 1).alias("d")],
        agg_to_dst=[F.min("d").alias("d")],
        update=lambda j: j.select(
            "id", "dist", F.lit(False).alias("active")
        ),
        frontier_col="active",
        max_iter=10,
    )
    assert lone.iterations == 1 and lone.deltas == [0.0]


def test_sssp_pregel_reactivation(spark):
    """Weighted SSSP exercises the RE-ACTIVATION shape: vertex 1 is
    first reached directly (0→1, w=10) and later improved through the
    longer-hop cheaper path 0→2→3→1 (w=3), which must re-activate it
    and re-propagate to its out-neighbor 4."""
    from page_rank_hadoop_spark.operators.pregel import sssp_pregel

    edges = spark.createDataFrame(
        [(0, 1, 10), (0, 2, 1), (2, 3, 1), (3, 1, 1), (1, 4, 1)],
        ["src", "dst", "weight"],
    )
    got = {(r["id"], r["dist"]) for r in sssp_pregel(edges, source=0).collect()}
    assert got == {(0, 0), (1, 3), (2, 1), (3, 2), (4, 4)}


def test_sssp_pregel_hop_bound(spark):
    """max_rounds caps the HOP count: with 2 rounds the cheap 3-hop
    path to vertex 1 is not yet found and the direct edge wins."""
    from page_rank_hadoop_spark.operators.pregel import sssp_pregel

    edges = spark.createDataFrame(
        [(0, 1, 10), (0, 2, 1), (2, 3, 1), (3, 1, 1)],
        ["src", "dst", "weight"],
    )
    got = {(r["id"], r["dist"]) for r in sssp_pregel(edges, source=0, max_rounds=2).collect()}
    assert got == {(0, 0), (1, 10), (2, 1), (3, 2)}


def test_components_pregel_matches_near_dup_components(spark):
    """CC via the frontier mode equals the bespoke pointer-jumping loop
    on a graph with two components, a chain (multi-round propagation)
    and a triangle: label = min reachable id, pair participants only."""
    from page_rank_hadoop_spark.operators.dedup import near_dup_components
    from page_rank_hadoop_spark.operators.pregel import components_pregel

    pairs = spark.createDataFrame(
        [(5, 3), (3, 9), (9, 11), (20, 21), (21, 22), (22, 20)],
        ["doc_a", "doc_b"],
    )
    want = {(r["doc_id"], r["component_id"]) for r in near_dup_components(pairs).collect()}
    edges = pairs.select(F.col("doc_a").alias("src"), F.col("doc_b").alias("dst"))
    got = {(r["id"], r["label"]) for r in components_pregel(edges).collect()}
    assert got == want == {(3, 3), (5, 3), (9, 3), (11, 3), (20, 20), (21, 20), (22, 20)}


def test_components_pregel_raises_without_fixpoint(spark):
    from page_rank_hadoop_spark.operators.pregel import components_pregel

    chain = spark.createDataFrame(
        [(i, i + 1) for i in range(6)], ["src", "dst"]
    )
    with pytest.raises(RuntimeError, match="no fixpoint"):
        components_pregel(chain, max_iter=2)  # a 7-chain needs >2 rounds


def test_pregel_frontier_col_must_exist(spark):
    from page_rank_hadoop_spark.operators.pregel import pregel

    edges = spark.createDataFrame([(0, 1)], ["src", "dst"])
    verts = edges.select(F.col("src").alias("id"), F.lit(0).alias("dist"))
    with pytest.raises(ValueError, match="frontier_col"):
        pregel(
            vertices=verts,
            edges=edges,
            send_to_dst=[F.col("dist").alias("d")],
            agg_to_dst=[F.min("d").alias("d")],
            update=lambda j: j,
            frontier_col="nope",
        )


def test_kcore_pregel_raises_without_fixpoint(spark):
    """max_iter exhaustion raises instead of returning a non-k-core —
    the same contract as graph.k_core (a long chain peels one vertex
    per round from each end, so max_iter=1 cannot reach fixpoint)."""
    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(1, 8)], ["src", "dst"]
    )
    from page_rank_hadoop_spark.operators.pregel import k_core_pregel

    with pytest.raises(RuntimeError, match="no fixpoint"):
        k_core_pregel(edges, k=2, max_iter=1)
