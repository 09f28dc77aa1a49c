"""spark-graft benchmark.

Runs one workload (see ``workloads.py``) at sf0.1 on inputs generated from
a fixed seed, checks every answer, and prints the metrics named in the
repository's ``BENCHMARK.json`` as the last line of standard output:

    python3 perfbench/run.py --workload spark_queries --seed 1 --seconds 10 --trace 0

``--trace 0`` prints the end-to-end metrics; ``--trace 1`` runs with
Spark's event log on and instrumented rounds, and prints the per-layer
metrics instead. The timed phase's end-to-end times are scaled to a
reference host speed, sampled by fixed reference work between the
operations (``workloads.host_scale``); ``setup_s`` is wall time.
``--seed`` picks the probes and the operation order; the tables
themselves are always the pinned ``datagen.DATA_SEED`` ones, so the stored
oracle hashes apply. Generated tables are cached under ``perfbench/.data``;
per-run scratch and result artifacts (environment, every span) go under
``perfbench/.work``. Exits 1 on any failed or wrong
operation or failed set-up check, 2 when the engine sources are not next
to this directory.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
DATA_DIR = os.path.join(HERE, ".data", "sf0.1")
WORK_DIR = os.path.join(HERE, ".work")
# Spark cores: on a 4-vCPU VM, two leave room for the JIT compiler, GC and
# the Python client. Measured there over four seeds: the timed round read
# 11.7 s with an interquartile spread of 3% at local[2], against 12.3 s and
# 15% at local[4].
MAX_CORES = 2
DRIVER_MEMORY = "3g"
WORKLOADS = ("search_serving", "spark_queries")

sys.path.insert(0, HERE)


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def _git_sha() -> str | None:
    """The checkout's commit, or None where it carries no git data."""
    try:
        out = subprocess.run(
            ["git", f"--git-dir={os.path.join(ROOT, '.git')}", "rev-parse", "HEAD"],
            capture_output=True, text=True, timeout=30,
        )
    except OSError:
        return None
    return out.stdout.strip() if out.returncode == 0 else None


def pin_environment(run_dir: str) -> dict:
    """Cores, memory, import path and scratch locations, set before the
    engine or the JVM is started so that every process inherits them."""
    nproc = len(os.sched_getaffinity(0))
    cores = min(MAX_CORES, nproc)
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp)
    os.environ["SPARK_GRAFT_CPUS"] = str(cores)
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEMORY
    # Python workers import the engine for Arrow UDFs; without this they
    # fail with ModuleNotFoundError when the cwd is not the repository root
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(run_dir, "spark-local")
    # spark-submit first runs a launcher JVM, which would write
    # /tmp/hsperfdata_* outside the checkout
    os.environ["SPARK_LAUNCHER_OPTS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"
    os.environ["SPARK_GRAFT_STREAM_SCRATCH"] = tmp
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = tmp
    sys.path.insert(0, ROOT)
    os.chdir(run_dir)  # spark-warehouse/ and friends land in the run dir
    return {"cores": cores, "nproc": nproc, "driver_memory": DRIVER_MEMORY, "tmp": tmp}


def ensure_data() -> str:
    """Generate the input tables once per checkout and check that they are
    the ones the expected answers were pinned on."""
    from answers import load_expected
    from datagen import fingerprint, generate

    want = load_expected()["data_fingerprint"]
    marker = os.path.join(DATA_DIR, "_fingerprint")
    if os.path.isfile(marker):
        with open(marker) as fh:
            if fh.read().strip() == want:
                return DATA_DIR
    staging = DATA_DIR + f".tmp{os.getpid()}"
    generate(staging)
    got = fingerprint(staging)
    if got != want:
        shutil.rmtree(staging, ignore_errors=True)
        raise SystemExit(
            f"perfbench: generated tables have fingerprint {got}, expected {want}; "
            "the generator or its libraries changed, re-pin with make_expected.py"
        )
    with open(os.path.join(staging, "_fingerprint"), "w") as fh:
        fh.write(got + "\n")
    shutil.rmtree(DATA_DIR, ignore_errors=True)
    os.rename(staging, DATA_DIR)
    return DATA_DIR


def stop_spark(spark) -> None:
    """Stop the session, end the JVM it runs in and wait until every
    process this run started (JVM, Python workers) has exited."""
    from pyspark import SparkContext

    from tracing import descendant_pids

    spark.stop()
    gateway = SparkContext._gateway
    if gateway is not None:
        gateway.shutdown()
        proc = getattr(gateway, "proc", None)
        if proc is not None:
            proc.stdin.close()
            proc.wait(timeout=60)
    deadline = time.monotonic() + 30
    while (left := descendant_pids(os.getpid())) and time.monotonic() < deadline:
        time.sleep(0.1)
    for pid in left:
        try:
            os.kill(pid, signal.SIGKILL)
        except ProcessLookupError:
            pass


def layer_metrics(run, rounds: list[dict], log: dict) -> dict[str, float]:
    """The per-layer values of one traced run; layers this workload does
    not exercise read 0."""
    from tracing import attribute_spark_work, median
    from workloads import SPARK_OPS

    out: dict[str, float] = {}
    timed = [s for s in run.spans if s["kind"] == "spark_op" and s["phase"] == "timed"]
    for key in SPARK_OPS:
        calls = [s for s in timed if s["op"] == key]
        work = [attribute_spark_work(s, log) for s in calls]
        for s, w in zip(calls, work):
            s.update(w)
        jobs = [w["jobs"] for w in work]
        out[f"{key}.build_s"] = median(s["build_s"] for s in calls)
        out[f"{key}.action_s"] = median(s["action_s"] for s in calls)
        out[f"{key}.jobs"] = median(jobs)
        out[f"{key}.jobs_spread"] = float(max(jobs) - min(jobs)) if jobs else 0.0
        for m in ("stages", "executor_s", "shuffle_mb", "driver_gap_s"):
            out[f"{key}.{m}"] = median(w[m] for w in work)
        out[f"{key}.jvm_cpu_s"] = median(
            s["jvm_cpu_s"] for s in calls if s["jvm_cpu_s"] is not None
        )

    serving = [s for r in rounds for s in r["ops"] if s["kind"] == "serving_op"]
    traced = [s for s in serving if s["instrumented"]]
    search = [s for s in traced if s["op"] == "search"]
    phrase = [s for s in traced if s["op"] == "phrase"]
    for table in ("postings", "ranks", "docs"):
        out[f"search.{table}_ms"] = median(s["lookup_ms"].get(table, 0.0) for s in search)
    out["search.score_ms"] = median(
        s["wall_s"] * 1e3 - sum(s["lookup_ms"].values()) for s in search
    )
    out["search.row_groups"] = median(s["row_groups"] for s in search)
    out["phrase.positions_ms"] = median(s["lookup_ms"].get("positions", 0.0) for s in phrase)
    out["phrase.intersect_ms"] = median(
        s["wall_s"] * 1e3 - sum(s["lookup_ms"].values()) for s in phrase
    )
    out["phrase.row_groups"] = median(s["row_groups"] for s in phrase)
    for kind in ("search", "phrase", "vector"):
        out[f"{kind}.p50_ms"] = median(
            s["wall_s"] * 1e3 for s in serving if s["op"] == kind and not s["instrumented"]
        )

    for name in ("session_s", "warmup_s", "search_tables_s", "ivf_index_s"):
        out[f"setup.{name}"] = run.setup.get(name, 0.0)
    out["setup.cursor_open_ms"] = run.setup.get("cursor_open_ms", 0.0)

    def round_s(instrumented: bool) -> float:
        return median(
            sum(s["wall_s"] for s in r["ops"]) for r in rounds if r["instrumented"] == instrumented
        )

    plain, instr = round_s(False), round_s(True)
    out["trace.round_s"] = plain
    out["trace.overhead_pct"] = (instr / plain - 1.0) * 100.0 if plain else 0.0
    for ref in ("loop", "jvm"):
        out[f"host.ref_{ref}_ms"] = median(t * 1e3 for r in rounds for t in r["ref"][ref])
    return out


def main(argv=None) -> int:
    args = parse_args(argv)
    if not (
        os.path.isfile(os.path.join(ROOT, "__spark_entry__.py"))
        and os.path.isdir(os.path.join(ROOT, "page_rank_hadoop_spark"))
    ):
        print(f"perfbench: engine sources not found under {ROOT}", file=sys.stderr)
        return 2
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)

    os.makedirs(WORK_DIR, exist_ok=True)
    run_dir = tempfile.mkdtemp(prefix=f"{args.workload}-", dir=WORK_DIR)
    env = pin_environment(run_dir)
    env.update(
        workload=args.workload, seed=args.seed, seconds=args.seconds, trace=args.trace,
        git_sha=_git_sha(), loadavg_before=os.getloadavg(),
    )
    data_dir = ensure_data()

    import workloads
    from tracing import find_jvm_pid, read_event_log

    events_dir = os.path.join(run_dir, "events")
    # -XX:-UsePerfData: HotSpot would otherwise write /tmp/hsperfdata_*,
    # outside the checkout
    conf = {"spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={env['tmp']} -XX:-UsePerfData"}
    if args.trace:
        os.makedirs(events_dir)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": events_dir,
            "spark.eventLog.compress": "false",
        })
    t0 = time.perf_counter()
    from page_rank_hadoop_spark import get_spark

    spark = get_spark("perfbench", extra_conf=conf)
    session_s = time.perf_counter() - t0
    run = workloads.Run(
        spark, data_dir, run_dir, args.seed, args.seconds, bool(args.trace), find_jvm_pid()
    )
    run.setup["session_s"] = session_s
    try:
        if args.workload == "search_serving":
            e2e, rounds = workloads.search_serving(run)
        else:
            e2e, rounds = workloads.spark_queries(run)
    finally:
        stop_spark(spark)
    setup = run.setup
    e2e["setup_s"] = (
        setup["session_s"] + setup["warmup_s"] + setup.get("search_tables_s", 0.0)
        + setup.get("ivf_index_s", 0.0) + setup.get("cursor_open_ms", 0.0) / 1e3
    )
    env["loadavg_after"] = os.getloadavg()

    if args.trace:
        values = layer_metrics(run, rounds, read_event_log(events_dir))
        wanted = spec["per_layer"]
    else:
        values = e2e
        wanted = spec["end_to_end"]
    metrics = {m["name"]: {"value": values[m["name"]], "unit": m["unit"]} for m in wanted}
    result = {
        "correct": run.correct,
        "attempted": run.attempted,
        "failed": run.failed,
        "metrics": metrics,
    }

    results_dir = os.path.join(WORK_DIR, "results")
    os.makedirs(results_dir, exist_ok=True)
    artifact = os.path.join(
        results_dir, f"{args.workload}-seed{args.seed}-trace{args.trace}-{int(time.time())}.json"
    )
    with open(artifact, "w") as fh:
        json.dump(
            {"env": env, "setup": run.setup, "end_to_end": e2e, "errors": run.errors,
             "guards": run.guards, "guards_failed": run.guards_failed,
             "result": result, "spans": run.spans},
            fh,
        )
    os.chdir(ROOT)
    shutil.rmtree(run_dir, ignore_errors=True)

    for err in run.errors[:20]:
        print(f"perfbench: FAILED {err}", file=sys.stderr)
    print(json.dumps({
        "env": env, "guards": run.guards, "guards_failed": run.guards_failed,
        "artifact": os.path.relpath(artifact, ROOT),
    }))
    print(json.dumps(result))
    return 0 if result["correct"] else 1


if __name__ == "__main__":
    sys.exit(main())
