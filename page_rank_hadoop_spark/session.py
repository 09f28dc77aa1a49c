"""SparkSession factory with scale-aware defaults.

Local testing runs on ``local[$SPARK_GRAFT_CPUS]`` (single JVM); the same
settings are what we would ship to a 1000-executor cluster, with the two
local-only knobs (master, driver memory) overridden by the cluster
submitter. AQE is on so shuffles re-plan at runtime (partition coalescing,
skew-join splitting) — at 100 TB that is the difference between a static
200-partition guess and right-sized stages.
"""

from __future__ import annotations

import contextlib
import os
import threading
from typing import Callable, Iterator

from pyspark.sql import SparkSession

DEFAULT_SHUFFLE_PARTITIONS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))

_PARTS_KEY = "spark.sql.shuffle.partitions"
_AQE_KEY = "spark.sql.adaptive.enabled"
_MIN_LOOP_PARTS = 4
_ROWS_PER_LOOP_PART = 50_000
# Re-entrant: a loop scope opened inside another on the same thread (a
# vertex program that runs a loop in its update) must not deadlock.
_LOOP_LOCK = threading.RLock()


def _loop_partitions(
    session_parts: int, shuffle_partitions: int | str | None, rows: Callable[[], int]
) -> int:
    if shuffle_partitions is None:
        return session_parts
    if shuffle_partitions != "auto":
        return min(session_parts, int(shuffle_partitions))
    if session_parts <= _MIN_LOOP_PARTS:
        return session_parts  # the floor already covers it: skip the count
    return min(session_parts, max(_MIN_LOOP_PARTS, rows() // _ROWS_PER_LOOP_PART + 1))


@contextlib.contextmanager
def loop_scope(
    spark: SparkSession,
    shuffle_partitions: int | str | None,
    rows: Callable[[], int],
) -> Iterator[int]:
    """Session settings for a driver loop that re-plans every round and
    snapshots its state with ``localCheckpoint``; yields the loop's
    partition count.

    AQE is off inside the scope. ``AdaptiveSparkPlanExec`` is a leaf, so
    a checkpoint of an adaptive plan reports ``UnknownPartitioning(0)``:
    the next round then re-shuffles the state it just wrote, and AQE's
    runtime join rewrites add a broadcast job per round. With AQE off the
    checkpoint keeps ``hashpartitioning(id, P)`` and the round's joins
    line up with the id/src-partitioned inputs laid out at P.

    ``spark.sql.shuffle.partitions`` is pinned to P: ``'auto'`` sizes
    ~50k rows per partition from ``rows()`` (floor 4, never above the
    session setting, so a cluster-sized graph keeps its width and only
    provably small loops shrink); an int is capped at the session
    setting; None keeps it. ``rows`` is only called when it can change P.
    Float-sum combines stay within the declared 6dp rounding at any P
    (partial-agg merge order is already nondeterministic run to run).

    Both settings are session-global, so scopes are serialized by one
    lock: two overlapping loops must not restore each other's pins and
    leave the session with AQE off. Restored on exit, exception or not.
    """
    with _LOOP_LOCK:
        saved = {k: spark.conf.get(k) for k in (_PARTS_KEY, _AQE_KEY)}
        parts = _loop_partitions(int(saved[_PARTS_KEY]), shuffle_partitions, rows)
        spark.conf.set(_PARTS_KEY, str(parts))
        spark.conf.set(_AQE_KEY, "false")
        try:
            yield parts
        finally:
            for k, v in saved.items():
                spark.conf.set(k, v)


def get_spark(
    app_name: str = "page_rank_hadoop_spark",
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) the engine SparkSession.

    Deterministic-comparison settings (UTC session timezone, ANSI off) are
    pinned so results hash-match the DuckDB oracles; performance settings
    (AQE, Arrow, partition sizing) are the ones we want at scale.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
    n_shuffle = shuffle_partitions or DEFAULT_SHUFFLE_PARTITIONS
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(n_shuffle))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "48g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.debug.maxToStringFields", "200")
        # 10MB (Spark's default) measured better than 64MB here: the dedup
        # self-joins' shingle/band tables fall under a bigger threshold and
        # the driver-side hashed-relation build is slower + GC-noisier than
        # the sort-merge join it replaces. Dimension tables stay broadcast.
        .config("spark.sql.autoBroadcastJoinThreshold", "10MB")
        # ANSI mode off: we want permissive casts identical to the lenient
        # semantics the oracles assume (no runtime errors on edge values).
        .config("spark.sql.ansi.enabled", "false")
        # Round 11 (guide §3.1): let the planner pick shuffled-hash join
        # when its build side fits, and let AQE rewrite sort-merge→SHJ at
        # runtime when every post-shuffle partition is under the local-map
        # threshold. A/B over the shuffle-join-heavy queries (alternating,
        # same session, 4 rounds): q_ngram_jaccard_prefix 4.23→3.44s,
        # q_market_basket 2.44→1.66s, q_repeated_chunks 1.55→1.08s,
        # q_containment_pairs 1.84→1.50s, q_waiting_suppliers 2.41→2.09s,
        # no regressions (worst wash: +0.07s min on band_index_compacted
        # with a better median). Both paths are SIZE-GUARDED — the planner
        # only builds a local hash map it estimates to fit, and the AQE
        # rewrite checks real partition bytes — so the OOM risk SMJ
        # protects against stays bounded; at cluster scale tune the
        # threshold (or restore SMJ) via the env knobs.
        .config(
            "spark.sql.join.preferSortMergeJoin",
            os.environ.get("SPARK_GRAFT_PREFER_SMJ", "false"),
        )
        .config(
            "spark.sql.adaptive.maxShuffledHashJoinLocalMapThreshold",
            os.environ.get("SPARK_GRAFT_SHJ_THRESHOLD", "64MB"),
        )
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
