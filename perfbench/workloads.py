"""The benchmark's workloads. Each is a closed loop with one client in one
process: the next operation starts only when the previous one returned.

- ``search_serving``: the reference ``Query`` tool as the serving lane runs
  it. Set-up writes the keyed search tables and a PQ/SQ-capable IVF index;
  the timed phase reads them through the cursors, mixing
  ``search_with_snippets``, two-term ``phrase`` and ``adc_topk`` 1:1:1. No
  Spark job runs per operation.
- ``spark_queries``: declared query keys run as Spark jobs, in seeded
  order: the Pregel PageRank loop and a streaming replay (bound by
  per-action driver latency) and a single-pass relational key (bound by
  scans and shuffles). The index and similarity operators run in
  ``search_serving``'s set-up, which writes the search tables and trains
  and writes the IVF index.

Every answer is checked: Spark query keys against oracle hashes pinned in
``expected.json``, cursor answers once against the Spark operators over the
same inputs and afterwards against their warm-up answers. ``attempted`` and
``failed`` count the timed operations; the set-up answers and the guards
are counted apart, and a failure in either makes the run incorrect.
"""

from __future__ import annotations

import math
import random
import statistics
import time
from functools import reduce

from answers import answer_hash, load_expected
from datagen import N_EMB, VOCABULARY, WORDS
from tracing import ServingProbe, median, process_cpu_s

# op key -> the engine layer it exercises: two driver-latency-bound loops,
# then a single-pass key bound by its scan and shuffle. Each key costs a
# first call, a warm call and three timed calls per run, and a run must
# stay near a minute, so the set is kept this small.
SPARK_OPS = {
    "q_pagerank_pregel": "operators.pregel",
    "q_stream_dedup": "streaming.replay",
    "q_pricing_summary": "operators.relational",
}
RANKS_KEY = "q_pagerank_iterate"  # declared (id, pr) key the search tables score with
SERVING_KINDS = ("search", "phrase", "vector")
# Probes whose answers are recomputed through the Spark operators, drawn
# from the seed: one Spark plan per probe is the costly part (all 31
# phrases and vectors took 23 s a run). Search (doc_id, score) pages are
# checked for every term.
N_SNIPPET_CHECKS = 4
N_SPARK_CHECKS = 6
# Spark rounds: one untimed round after the first calls, because the JIT
# is still compiling then (q_pagerank_pregel read 18.8 s on its first call,
# then 5.9 s, then 4.7, 3.5 and 3.8 s), and at least three timed rounds,
# so that round_norm_s is a median of three
SPARK_WARM_ROUNDS = 1
SPARK_MIN_ROUNDS = 3
# A repeat call under MEMO_RATIO of its first call's time that runs at most
# MEMO_MAX_JOBS Spark jobs only reads back a memoized result (the collect of
# a cached frame), so it measures no work. Time alone misjudges the first
# op of a session, whose first call also pays the JVM's cold start:
# q_pricing_summary read 4.5 s and then 0.38 s, with 3 jobs every call.
MEMO_RATIO = 0.1
MEMO_MAX_JOBS = 1


# Host speed. On a shared host the same code runs up to 1.4x slower or
# faster from one minute to the next, and process CPU time moves with wall
# time, so it is the CPUs that slow down, not the scheduler. Fixed
# reference work, timed after every timed operation, samples that speed:
# each round's times are scaled by the reference's nominal time over its
# mean time in that round, so the end-to-end times read as on a host
# where the reference takes its nominal time. The reference runs where the
# operations run: a pure-Python loop for the cursor reads; for Spark keys,
# which split their time between the Python driver and the JVM, the same
# loop and a JDK BigInteger power computed in the driver JVM through the
# Py4J gateway, combined as the geometric mean of the two factors. Neither
# touches the engine. Measured on a 4-vCPU VM: the spread of 10-second
# medians of serving reads fell from 0.14 to 0.06 of the median, and over
# six seeds of spark_queries round times from 0.13 to 0.07. The mean, not
# the median: the loop's times are bimodal (5.5 or 8 ms there), and a
# median flips between the modes.
REF_LOOP_N = 100_000
REF_LOOP_S = 0.007
REF_JVM_POW = 200_000
REF_JVM_S = 0.016
# reference samples after each Spark query key (loop, JVM); after each
# cursor read the loop runs once
SPARK_REF_SAMPLES = (10, 4)


def ref_loop_s() -> float:
    """One timed pass of the Python reference loop."""
    t0 = time.perf_counter()
    acc = 0
    for i in range(REF_LOOP_N):
        acc += i * i
    return time.perf_counter() - t0


def ref_jvm_s(spark) -> float:
    """One timed JVM reference: 7**REF_JVM_POW in java.math.BigInteger."""
    big = spark.sparkContext._jvm.java.math.BigInteger
    t0 = time.perf_counter()
    big.valueOf(7).pow(REF_JVM_POW).bitLength()
    return time.perf_counter() - t0


class Run:
    """State of one benchmark run: the session, the seeded generator, the
    tallies of operations and guards and the in-memory span log."""

    def __init__(self, spark, data_dir, work_dir, seed, seconds, trace, jvm_pid):
        self.spark = spark
        self.data_dir = data_dir
        self.work_dir = work_dir
        self.seconds = seconds
        self.trace = trace
        self.jvm_pid = jvm_pid
        self.spans: list[dict] = []
        self.rng = random.Random(seed)
        self.attempted = 0
        self.failed = 0
        self.guards = 0
        self.guards_failed = 0
        self.errors: list[str] = []
        self.setup: dict[str, float] = {}
        self._ref: dict[str, list[float]] = {"loop": [], "jvm": []}

    def span(self, **fields) -> dict:
        self.spans.append(fields)
        return fields

    def check(self, ok: bool, what: str) -> bool:
        """Count one timed operation; a wrong or failed one is recorded."""
        self.attempted += 1
        if not ok:
            self.failed += 1
            self.errors.append(what)
        return ok

    def guard(self, ok: bool, what: str) -> bool:
        """Count one set-up answer check or guard; a failed one is recorded."""
        self.guards += 1
        if not ok:
            self.guards_failed += 1
            self.errors.append(what)
        return ok

    def sample_host(self, loops: int = 1, jvm: int = 0) -> None:
        """Time the reference work for the current round."""
        self._ref["loop"].extend(ref_loop_s() for _ in range(loops))
        self._ref["jvm"].extend(ref_jvm_s(self.spark) for _ in range(jvm))

    @property
    def correct(self) -> bool:
        return self.failed == 0 and self.guards_failed == 0

    def timed_rounds(self, do_round, min_rounds: int = 1) -> list[dict]:
        """Rounds until ``seconds`` are spent: a further round starts only
        if the last one's length still fits, but at least ``min_rounds``.
        Traced runs interleave plain and instrumented rounds as plain,
        instrumented, instrumented, plain (so a warm-up trend cancels out
        of their difference), at least four rounds. Each round keeps the
        reference times ``sample_host`` took during it."""
        t_start = time.perf_counter()
        rounds: list[dict] = []
        if self.trace:
            min_rounds = max(min_rounds, 4)
        while True:
            instrumented = self.trace and len(rounds) % 4 in (1, 2)
            self._ref = {"loop": [], "jvm": []}
            r0 = time.perf_counter()
            ops = do_round(instrumented)
            r1 = time.perf_counter()
            rounds.append(
                {"instrumented": instrumented, "wall_s": r1 - r0, "ops": ops, "ref": self._ref}
            )
            if len(rounds) >= min_rounds and (r1 - t_start) + (r1 - r0) > self.seconds:
                return rounds


def _queries():
    import __spark_entry__

    return __spark_entry__.queries()


def host_scale(rnd: dict) -> float:
    """The factor that brings one round's times to the reference speed."""
    ref = rnd["ref"]
    scale = REF_LOOP_S / statistics.fmean(ref["loop"])
    if ref["jvm"]:
        scale = math.sqrt(scale * REF_JVM_S / statistics.fmean(ref["jvm"]))
    return scale


def end_to_end(rounds: list[dict]) -> dict[str, float]:
    """Over the uninstrumented rounds, at the reference host speed:
    ``round_norm_s``, the median time of one pass over every operation of
    a round; ``op_geomean_norm_ms``, the geometric mean of every
    operation's latency, which weighs a short operation's relative change
    like a long one's. Both are sums over many operations rather than one
    operation's median: a cursor read of one term ranged from 28 to 66 ms
    over 40 repeats in one process, as the host's speed changed from
    second to second. The unscaled figures go to the artifact as
    ``round_s`` and ``op_geomean_ms``, with the median reference times as
    ``ref_loop_ms`` and ``ref_jvm_ms``."""
    plain = [r for r in rounds if not r["instrumented"]]

    def geomean_ms(values: list[float]) -> float:
        return math.exp(sum(math.log(t) for t in values) / len(values)) * 1e3

    round_s = [sum(s["wall_s"] for s in r["ops"]) for r in plain]
    return {
        "round_norm_s": median(t * host_scale(r) for t, r in zip(round_s, plain)),
        "op_geomean_norm_ms": geomean_ms(
            [s["wall_s"] * host_scale(r) for r in plain for s in r["ops"]]
        ),
        "round_s": median(round_s),
        "op_geomean_ms": geomean_ms([s["wall_s"] for r in plain for s in r["ops"]]),
        "ref_loop_ms": median(t * 1e3 for r in plain for t in r["ref"]["loop"]),
        "ref_jvm_ms": median(t * 1e3 for r in plain for t in r["ref"]["jvm"]),
    }


# ------------------------------------------------------------- Spark query keys


def _last_job_id(spark) -> int:
    return max(spark.sparkContext.statusTracker().getJobIdsForGroup(None) or [-1])


def _call_spark_op(run: Run, key: str, fn, want: str, phase: str, instrumented: bool):
    """One call of a query key, timed up to its collected answer; the answer
    hash is checked after the clock stops, as a timed operation in the
    timed phase and as a set-up check otherwise."""
    check = run.check if phase == "timed" else run.guard
    cpu0 = process_cpu_s(run.jvm_pid) if instrumented else 0.0
    job0 = _last_job_id(run.spark)
    w0 = time.time()
    t0 = time.perf_counter()
    try:
        df = fn(run.spark, run.data_dir)
        t1 = time.perf_counter()
        rows = [tuple(r) for r in df.collect()]
        t2 = time.perf_counter()
    except Exception as exc:  # noqa: BLE001 — a failed op is counted, the loop goes on
        check(False, f"{key}: {type(exc).__name__}: {exc}"[:500])
        return None
    span = run.span(
        kind="spark_op",
        op=key,
        phase=phase,
        instrumented=instrumented,
        start_ms=w0 * 1e3,
        end_ms=time.time() * 1e3,
        build_s=t1 - t0,
        action_s=t2 - t1,
        wall_s=t2 - t0,
        jvm_cpu_s=process_cpu_s(run.jvm_pid) - cpu0 if instrumented else None,
        jobs_seen=_last_job_id(run.spark) - job0,
    )
    got = answer_hash(df.columns, rows)
    span["correct"] = check(got == want, f"{key}: answer hash {got} != expected {want}")
    return span


def spark_queries(run: Run) -> tuple[dict, list[dict]]:
    """Set-up: the first call of every op, which builds the session MVs the
    way users pay for them. Then untimed warm rounds and seeded-order timed
    rounds of all ops."""
    ops = list(SPARK_OPS)
    queries = _queries()
    expected = load_expected()["answers"]

    def call(key: str, phase: str, instrumented: bool):
        return _call_spark_op(run, key, queries[key], expected[key]["hash"], phase, instrumented)

    def do_round(instrumented: bool, phase: str = "timed") -> list[dict]:
        order = ops[:]
        run.rng.shuffle(order)
        spans = []
        for key in order:
            span = call(key, phase, instrumented)
            run.sample_host(*SPARK_REF_SAMPLES)
            if span is not None:
                spans.append(span)
        return spans

    first = {key: s["wall_s"] for key in ops if (s := call(key, "setup", run.trace))}
    run.setup["warmup_s"] = sum(first.values())
    for _ in range(SPARK_WARM_ROUNDS):
        do_round(False, "warm")

    rounds = run.timed_rounds(do_round, SPARK_MIN_ROUNDS)
    for key, first_s in first.items():
        repeat = [s for r in rounds for s in r["ops"] if s["op"] == key]
        repeat_s = median(s["wall_s"] for s in repeat)
        jobs = median(s["jobs_seen"] for s in repeat)
        run.guard(
            repeat_s >= MEMO_RATIO * first_s or jobs > MEMO_MAX_JOBS,
            f"{key}: repeat call {repeat_s:.3f}s with {jobs:.0f} job(s) is under "
            f"{MEMO_RATIO} of its first call {first_s:.3f}s: a memoized read, not real work",
        )
    return end_to_end(rounds), rounds


# --------------------------------------------------------------- search serving


def _vector_probes(data_dir: str, vec_ids: list[int]) -> dict[int, list[float]]:
    import pyarrow as pa
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    t = pq.read_table(f"{data_dir}/embeddings.parquet", columns=["vec_id", "embedding"])
    t = t.filter(pc.is_in(t["vec_id"], value_set=pa.array(vec_ids)))
    return {r["vec_id"]: [float(x) for x in r["embedding"]] for r in t.to_pylist()}


def _spark_search_answers(docs, ranks, terms: list[str], snippet_terms: list[str]) -> dict:
    """Top-10 (doc_id, score, snippet) per term through the Spark operators
    (tfidf_scores + snippet_window), the path the cursor must reproduce.
    Snippets come back for ``snippet_terms`` only (one snippet_window plan
    per term is the costly part); other terms carry None."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from page_rank_hadoop_spark.operators import index

    w = Window.partitionBy("term").orderBy(F.desc("score"), "doc_id")
    top = (
        index.tfidf_scores(docs, ranks, terms, cutoff=10**9)
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 10)
    )
    snippets = reduce(
        lambda a, b: a.unionByName(b),
        [index.snippet_window(docs, t).withColumn("term", F.lit(t)) for t in snippet_terms],
    )
    out: dict[str, list[tuple]] = {t: [] for t in terms}
    for r in top.join(snippets, ["term", "doc_id"], "left").collect():
        out[r["term"]].append((r["doc_id"], r["score"], r["snippet"]))
    return {t: sorted(v, key=lambda x: (-x[1], x[0])) for t, v in out.items()}


def _spark_phrase_answers(docs, phrases: list[tuple]) -> dict[tuple, list[tuple]]:
    from pyspark.sql import functions as F

    from page_rank_hadoop_spark.operators import index

    union = reduce(
        lambda a, b: a.unionByName(b),
        [
            index.phrase_matches(docs, list(p)).withColumn("pid", F.lit(i))
            for i, p in enumerate(phrases)
        ],
    )
    out: dict[tuple, list[tuple]] = {p: [] for p in phrases}
    for r in union.collect():
        out[phrases[r["pid"]]].append((r["doc_id"], r["phrase_tf"], r["first_pos"]))
    return {p: sorted(v) for p, v in out.items()}


def _spark_adc_answers(spark, ivf_dir: str, probes: dict[int, list[float]]) -> dict:
    from pyspark.sql import functions as F

    from page_rank_hadoop_spark.operators.similarity import probe_ivf_index_adc

    union = reduce(
        lambda a, b: a.unionByName(b),
        [
            probe_ivf_index_adc(spark, ivf_dir, vec, k=5).withColumn("pid", F.lit(pid))
            for pid, vec in probes.items()
        ],
    )
    out: dict[int, list[tuple]] = {pid: [] for pid in probes}
    for r in union.collect():
        out[r["pid"]].append((r["vec_id"], r["adc_dist"]))
    return {pid: sorted(v) for pid, v in out.items()}


def search_serving(run: Run) -> tuple[dict, list[dict]]:
    import os

    from page_rank_hadoop_spark.operators.similarity import pq_train_codebooks, write_ivf_index
    from page_rank_hadoop_spark.sources.catalog import load_table
    from page_rank_hadoop_spark.sources.search import (
        SearchCursor,
        VectorSearchCursor,
        build_search_tables,
    )

    spark, data = run.spark, run.data_dir
    expected = load_expected()["answers"]
    docs = load_table(spark, data, "documents")
    emb = load_table(spark, data, "embeddings")

    t0 = time.perf_counter()
    ranks_df = _queries()[RANKS_KEY](spark, data)
    ranks_rows = [tuple(r) for r in ranks_df.collect()]
    t_ranks = time.perf_counter() - t0
    run.guard(
        answer_hash(ranks_df.columns, ranks_rows) == expected[RANKS_KEY]["hash"],
        f"{RANKS_KEY}: answer differs from the pinned oracle hash",
    )
    ranks = ranks_df.withColumnRenamed("id", "doc_id")

    tables_dir = os.path.join(run.work_dir, "search_tables")
    ivf_dir = os.path.join(run.work_dir, "ivf_index")
    t0 = time.perf_counter()
    build_search_tables(docs, ranks, tables_dir, cutoff=10**9)
    run.setup["search_tables_s"] = time.perf_counter() - t0
    t0 = time.perf_counter()
    write_ivf_index(emb, ivf_dir, pq_books=pq_train_codebooks(emb), sq=True)
    run.setup["ivf_index_s"] = time.perf_counter() - t0
    t0 = time.perf_counter()
    scur = SearchCursor(tables_dir)
    vcur = VectorSearchCursor(ivf_dir)
    run.setup["cursor_open_ms"] = (time.perf_counter() - t0) * 1e3

    # probes: every vocabulary term, and as many phrases and vectors drawn
    # from the seed. Search latency differs by term up to tenfold, so a
    # timed round takes every probe once, so that no seed draws cheaper or
    # dearer terms than another.
    terms = list(VOCABULARY)
    pairs = [(a, b) for a in WORDS for b in WORDS if a != b]
    phrases = run.rng.sample(pairs, len(terms))
    vec_ids = run.rng.sample(range(N_EMB), len(terms))
    probes = _vector_probes(data, vec_ids)

    # warm-up: every probe once through the cursors. The same answers then
    # come from the Spark operators over the same inputs; that check is the
    # benchmark's own work, so it is timed apart from set-up
    t0 = time.perf_counter()
    warm = {
        "search": {t: scur.search_with_snippets(t, k=10) for t in terms},
        "phrase": {p: scur.phrase(list(p)) for p in phrases},
        "vector": {pid: vcur.adc_topk(vec, k=5) for pid, vec in probes.items()},
    }
    run.setup["warmup_s"] = t_ranks + (time.perf_counter() - t0)

    t0 = time.perf_counter()
    served = [t for t, rows in warm["search"].items() if rows]
    run.guard(len(served) > 1, f"search index serves {len(served)} term(s), not the vocabulary")
    for t, rows in warm["search"].items():
        run.guard(bool(rows), f"search probe {t!r} returned no rows")
    # every top-10 page holds the term as a token, so none drops out for
    # lack of a literal hit and the cursor must return the whole top 10
    snippet_terms = run.rng.sample(terms, N_SNIPPET_CHECKS)
    want = _spark_search_answers(docs, ranks, terms, snippet_terms)
    for t, rows in warm["search"].items():
        got = [(r["doc_id"], r["score"], r["snippet"] if t in snippet_terms else None) for r in rows]
        run.guard(got == want[t], f"search {t!r}: cursor answer differs from the Spark path")
    for p, rows in warm["phrase"].items():
        run.guard(bool(rows), f"phrase {p} returned no rows")
    want = _spark_phrase_answers(docs, run.rng.sample(phrases, N_SPARK_CHECKS))
    for p, rows in want.items():
        got = [(r["doc_id"], r["phrase_tf"], r["first_pos"]) for r in warm["phrase"][p]]
        run.guard(got == rows, f"phrase {p}: cursor differs from the Spark path")
    checked = run.rng.sample(list(probes), N_SPARK_CHECKS)
    want = _spark_adc_answers(spark, ivf_dir, {pid: probes[pid] for pid in checked})
    for pid, rows in want.items():
        got = sorted((r["vec_id"], r["adc_dist"]) for r in warm["vector"][pid])
        run.guard(got == rows, f"adc probe {pid}: cursor differs from the Spark path")
    run.setup["spark_check_s"] = time.perf_counter() - t0

    pools = {"search": terms, "phrase": phrases, "vector": list(probes)}
    calls = {
        "search": lambda t: scur.search_with_snippets(t, k=10),
        "phrase": lambda p: scur.phrase(list(p)),
        "vector": lambda pid: vcur.adc_topk(probes[pid], k=5),
    }
    serving = ServingProbe()

    def do_round(instrumented: bool) -> list[dict]:
        """Every probe once: a seeded permutation of each pool, taken one
        operation of each kind at a time in seeded kind order."""
        orders = {kind: run.rng.sample(pool, len(pool)) for kind, pool in pools.items()}
        steps = []
        for i in range(len(terms)):
            kinds = list(SERVING_KINDS)
            run.rng.shuffle(kinds)
            steps += [(kind, orders[kind][i]) for kind in kinds]
        spans = []
        for kind, arg in steps:
            if instrumented:
                with serving.active():
                    t0 = time.perf_counter()
                    ans = calls[kind](arg)
                    wall = time.perf_counter() - t0
                ms, row_groups = serving.take()
            else:
                t0 = time.perf_counter()
                ans = calls[kind](arg)
                wall = time.perf_counter() - t0
                ms, row_groups = None, None
            run.sample_host()
            run.check(ans == warm[kind][arg], f"{kind} {arg!r}: answer differs from warm-up")
            spans.append(
                run.span(
                    kind="serving_op", op=kind, probe=str(arg), instrumented=instrumented,
                    wall_s=wall, lookup_ms=ms, row_groups=row_groups,
                )
            )
        return spans

    rounds = run.timed_rounds(do_round)
    return end_to_end(rounds), rounds
