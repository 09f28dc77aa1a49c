"""Iterative PageRank with the reference's exact policy, Spark-native.

Reference (/root/reference/src/main/scala/pageRank.scala):
- formula  pr' = α·(1/N) + (1−α)·Σ contribs, α = 0.15 (:294, :310)
- policy   min 10 iterations, stop when avgChange ≤ 0.2, cap 50 (:360-371)
  DEVIATION (documented): the reference's counter is NOT a true rank
  delta — pageRankMap emits the links record with rank 0 (:280), so
  prevPageRank is always 0 in pageRankReduce and the counter accumulates
  |Σ contribs| per node (pre-damping contribution mass), scaled by 1000
  and truncated per record (:307). We compute the exact float Σ|Δpr|/N
  (true average rank change), which can stop at a different iteration in
  convergence mode; the adaptive stop rule is HASH-checked against a
  DuckDB oracle (q_pagerank_converged: an unrolled, capped 50-level
  MATERIALIZED CTE chain evaluates the same min10/≤0.2/cap50 decision
  in SQL).
- N counts every adjacency row including the virtual NULL node (:258).

Physical hygiene (SURVEY.md §7 hard-part 1): the reference wrote a
SequenceFile per iteration, which implicitly truncated lineage. In Spark an
unpersisted loop builds an O(iterations)-deep plan → re-execution blowup,
and Catalyst re-analyzes the full lineage each iteration even when every
level is persisted (measured: per-iteration latency grows ~1s → 95s by
iteration 10 without checkpoints at sf0.1). Each iteration therefore ends
in a ``localCheckpoint`` (eager in fixed mode — the iteration's one job;
lazy in adaptive mode, where the avgChange read materializes it). The loop
runs inside ``session.loop_scope`` (AQE off, partitions pinned to P): the
adjacency is repartitioned by id at P ONCE and persisted, and each
checkpoint keeps ``hashpartitioning(id, P)``, so the executed iteration
plan has exactly ONE Exchange (the contribs gather groupBy) — the scatter
join feeds off the id-partitioned cache and the rank-update join aligns
adj(id) with contribs(id) shuffle-free (pinned in tests/test_pagerank.py);
both are shuffled-hash joins, so no round pays a broadcast job.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.storagelevel import StorageLevel

from page_rank_hadoop_spark.session import loop_scope

ALPHA = 0.15  # pageRank.scala:294


@dataclass
class PageRankResult:
    ranks: DataFrame  # (id, pr)
    iterations: int
    avg_changes: list[float]


def run_pagerank(
    adj: DataFrame,
    alpha: float = ALPHA,
    min_iter: int = 10,
    max_iter: int = 50,
    tol: float = 0.2,
    fixed_iterations: int | None = None,
    teleport: DataFrame | None = None,
    initial_ranks: DataFrame | None = None,
    shuffle_partitions: int | str | None = "auto",
) -> PageRankResult:
    """Iterate PageRank over an adjacency DataFrame ``(id, links)``.

    ``fixed_iterations`` overrides the convergence policy (the declared
    oracle query runs exactly 10 for determinism). With the policy active,
    each iteration costs one extra tiny agg action for avgChange — the
    Spark analog of the reference's counter read (pageRank.scala:366-371).

    DELIBERATE METRIC DEVIATION from the reference: our avg_change is the
    true mean |Δpr| between consecutive iterations. The reference's
    counter is NOT — its mapper accumulates |contribution − prevPageRank|
    where prevPageRank is always 0.0 (Writables default,
    pageRank.scala:277-281), so the reference actually averages the
    PRE-DAMPING contribution mass of the new iteration, a quantity that
    does not go to 0 at the fixpoint. We keep the same stopping POLICY
    surface (min 10 iterations, threshold 0.2, cap 50) but drive it with
    the honest delta. Since true mean |Δpr| is ≤ the pre-damping
    contribution mass once ranks stabilize, the honest metric can only
    stop at the same iteration or earlier, never later. Policy
    invariants (floor, cap, threshold) are pinned in
    tests/test_pagerank.py.

    ``teleport`` switches to PERSONALIZED PageRank: a DataFrame of source
    ``id`` rows; the restart distribution becomes uniform over that set
    (t(v) = 1/|S| for v∈S, else 0) instead of 1/N, and ranks initialize
    to t — random-walk-with-restart relevance to the source set, the
    standard seed-biased ranking (Haveliwala, "Topic-Sensitive
    PageRank"). The teleport table is tiny: it broadcasts into the
    update join, so the loop's physical shape (ONE Exchange per
    iteration) is unchanged.

    ``initial_ranks`` (round 7) WARM-STARTS the loop from a stored
    ranks table instead of uniform 1.0 — the incremental-recompute
    path: a daily link-graph refresh re-ranks from yesterday's stored
    ranks and converges in a few iterations instead of 10-50 (the
    iteration chain is identical to continuing the original run, so
    resume(10-iter ranks, 2) ≡ a straight 12-iteration run —
    hash-checked as q_pagerank_resume against a 12-round unrolled
    oracle). Vertices added by the refresh and absent from the stored
    ranks enter at rank 0 (they earn mass on the first resumed
    iteration); mutually exclusive with ``teleport``.
    """
    if teleport is not None and initial_ranks is not None:
        raise ValueError("run_pagerank: teleport and initial_ranks are exclusive")
    n = adj.count()
    if n == 0:  # nothing to rank; α/N is undefined
        return PageRankResult(
            ranks=adj.select("id", F.lit(0.0).alias("pr")), iterations=0, avg_changes=[]
        )
    # Pre-partition the adjacency by id ONCE, at the loop's width
    # (session.loop_scope sizes it), into our own persisted copy: every
    # per-iteration join then reshuffles only the small ranks side (the
    # contribs aggregate), never the big adjacency, and the caller's cache
    # is never persisted/unpersisted (that evicted the shared graph MV). n
    # comes from the caller's frame — a cached scan of the adjacency MV in
    # every hot path — so sizing needs no second repartition+persist.
    with loop_scope(adj.sparkSession, shuffle_partitions, lambda: n) as parts:
        adj = adj.repartition(parts, "id").persist(StorageLevel.MEMORY_AND_DISK)
        try:
            return _run_pagerank_loop(
                adj, n, alpha, min_iter, max_iter, tol, fixed_iterations,
                teleport, initial_ranks,
            )
        finally:
            adj.unpersist()


def _run_pagerank_loop(
    adj, n, alpha, min_iter, max_iter, tol, fixed_iterations, teleport, initial_ranks,
) -> PageRankResult:
    """The iteration loop proper — split out so the loop scope and the
    adjacency cache are released exception-safely without indenting the
    loop."""
    if teleport is not None:
        # Restart mass is spread over teleport ids PRESENT in the graph:
        # normalizing by the raw teleport count would silently lose the
        # 1/n share of any id absent from adj (ranks would sum < 1).
        # Broadcast the tiny teleport set into the big side's semi-join.
        tel_present = (
            adj.select("id")
            .join(F.broadcast(teleport.select("id").distinct()), "id", "left_semi")
        )
        n_src = tel_present.count()
        if n_src == 0:
            raise ValueError(
                "personalized PageRank: teleport set is empty or disjoint from the graph"
            )
        tel = tel_present.select("id", F.lit(1.0 / n_src).alias("t"))
        ranks = (
            adj.select("id")
            .join(F.broadcast(tel), "id", "left")
            .select("id", F.coalesce("t", F.lit(0.0)).alias("pr"))
            .persist(StorageLevel.MEMORY_AND_DISK)
        )
    elif initial_ranks is not None:
        tel = None
        # left join onto the graph's vertex set: ranks for ids no longer
        # in the graph are dropped, new ids start at 0.0 (they earn
        # contribution mass on the first resumed iteration)
        ranks = (
            adj.select("id")
            .join(initial_ranks.select("id", F.col("pr").cast("double").alias("pr")), "id", "left")
            .select("id", F.coalesce("pr", F.lit(0.0)).alias("pr"))
            .persist(StorageLevel.MEMORY_AND_DISK)
        )
    else:
        tel = None
        ranks = adj.select("id", F.lit(1.0).alias("pr")).persist(StorageLevel.MEMORY_AND_DISK)

    avg_changes: list[float] = []
    i = 0
    limit = fixed_iterations if fixed_iterations is not None else max_iter
    while i < limit:
        i += 1
        # shuffled-hash joins building the ranks / contribs side: both
        # inputs are partitioned at P, so no exchange and no broadcast job
        contribs = (
            adj.join(ranks.hint("shuffle_hash"), "id")
            .select(
                F.explode("links").alias("id"),
                (F.col("pr") / F.size("links")).alias("contrib"),
            )
            .groupBy("id")
            .agg(F.sum("contrib").alias("contrib"))
        )
        base = adj.select("id").join(contribs.hint("shuffle_hash"), "id", "left")
        if tel is not None:
            new_ranks = base.join(F.broadcast(tel), "id", "left").select(
                "id",
                (
                    F.lit(alpha) * F.coalesce(F.col("t"), F.lit(0.0))
                    + F.lit(1.0 - alpha) * F.coalesce(F.col("contrib"), F.lit(0.0))
                ).alias("pr"),
            )
        else:
            new_ranks = base.select(
                "id",
                (
                    F.lit(alpha) * (1.0 / n)
                    + F.lit(1.0 - alpha) * F.coalesce(F.col("contrib"), F.lit(0.0))
                ).alias("pr"),
            )
        # fixed mode: the eager checkpoint IS the iteration's one job;
        # adaptive mode: the delta read below materializes a lazy one and
        # returns the scalar in the same job (round 12)
        prev, ranks = ranks, new_ranks.localCheckpoint(eager=fixed_iterations is not None)
        if fixed_iterations is None:
            delta = (
                ranks.alias("n")
                .join(prev.alias("o").hint("shuffle_hash"), "id")
                .agg(F.sum(F.abs(F.col("n.pr") - F.col("o.pr"))).alias("d"))
                .collect()[0]["d"]
            )
            avg_change = (delta or 0.0) / n
            avg_changes.append(avg_change)
            if i >= min_iter and avg_change <= tol:
                break
    return PageRankResult(ranks=ranks, iterations=i, avg_changes=avg_changes)


def top_k(ranks: DataFrame, k: int | None = None) -> DataFrame:
    """Reference O1: global sort desc by (pr, id); ``limit`` makes it a
    distributed top-k (TakeOrderedAndProject) instead of a total sort."""
    out = ranks.orderBy(F.desc("pr"), F.col("id"))
    return out.limit(k) if k is not None else out
