"""Streaming replays under the session's scoped-settings primitive.

Every replay starts its stream inside ``session.stream_start_scope``:
state partitions are the replay's constant capped at the session width,
the pin is held around ``start()`` only (under the one lock the driver
loops use), and a memory-sink replay returns its rows with the sink's
temp view dropped. These pins are structural (partition counts, settings,
views, jobs), not timings."""

import sys
import threading
from concurrent.futures import ThreadPoolExecutor

import pytest
from pyspark.sql.streaming import DataStreamWriter
from pyspark.sql.streaming.listener import StreamingQueryListener

from page_rank_hadoop_spark.session import loop_scope
from page_rank_hadoop_spark.streaming import replay
from tests.conftest import SF0001
from tests.test_pregel import PARTS, _recorded_pagerank, _settings
from tests.test_pregel import adj  # noqa: F401 (pytest fixture)
from tests.test_round12_opt import _count_jobs


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


def _temp_views(spark):
    return {t.name for t in spark.catalog.listTables() if t.isTemporary}


class _StateOperators(StreamingQueryListener):
    """Records every state operator's partition count, per query."""

    def __init__(self):
        self.parts: list[int] = []
        self.terminated = threading.Semaphore(0)

    def onQueryStarted(self, event):
        pass

    def onQueryProgress(self, event):
        self.parts += [op.numShufflePartitions for op in event.progress.stateOperators]

    def onQueryIdle(self, event):
        pass

    def onQueryTerminated(self, event):
        self.terminated.release()


def test_state_partitions_capped_at_session_width(spark):
    """A session two partitions wide runs the dedup replay (constant 8)
    and the stream-stream join replay (constant 4) with every state
    operator at 2 partitions, and gets its own settings back."""
    listener = _StateOperators()
    spark.streams.addListener(listener)
    width = spark.conf.get(PARTS)
    spark.conf.set(PARTS, "2")
    try:
        before = _settings(spark)
        replay.run_stream_dedup_replay(spark, SF0001)
        replay.run_stream_join_replay(spark, SF0001)
        assert _settings(spark) == before
        # the listener bus is asynchronous: a query's progress events
        # reach it before its termination event
        for _ in range(2):
            assert listener.terminated.acquire(timeout=60)
    finally:
        spark.conf.set(PARTS, width)
        spark.streams.removeListener(listener)
    assert listener.parts and set(listener.parts) == {2}


def test_replay_restores_settings_even_when_start_raises(spark, monkeypatch):
    """The pin covers ``start()``: the writer starts with the capped
    partition count and the session's own AQE setting, and both come
    back after a replay and after a replay whose ``start()`` raises."""
    before = _settings(spark)
    replay.run_stream_dedup_replay(spark, SF0001)
    assert _settings(spark) == before

    at_start = []

    def failing_start(self, *args, **kwargs):
        at_start.append(_settings(spark))
        raise RuntimeError("start failed")

    monkeypatch.setattr(DataStreamWriter, "start", failing_start)
    with pytest.raises(RuntimeError, match="start failed"):
        replay.run_stream_dedup_replay(spark, SF0001)
    with pytest.raises(RuntimeError, match="start failed"):
        replay.run_cms_alert_replay(spark, SF0001)
    session_parts = int(before[1])
    assert at_start == [(before[0], str(min(8, session_parts)))] * 2
    assert _settings(spark) == before


def test_replays_and_pregel_loops_on_several_threads(spark, adj):
    """Replays and pregel loops started together on one session, more
    threads than cores: every answer equals its single-thread run, every
    superstep still plans with its loop's pins, and the session ends with
    its own settings."""
    want_loop = _recorded_pagerank(adj, [])
    want_replay = _rows(replay.run_stream_dedup_replay(spark, SF0001))
    before = _settings(spark)
    seen: dict[int, list] = {k: [] for k in range(0, 5, 2)}

    def work(k):
        if k in seen:
            return _recorded_pagerank(adj, seen[k])
        return _rows(replay.run_stream_dedup_replay(spark, SF0001))

    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-5)
    try:
        with ThreadPoolExecutor(max_workers=5) as ex:
            futures = [ex.submit(work, k) for k in range(5)]
            got = [f.result(timeout=600) for f in futures]
    finally:
        sys.setswitchinterval(interval)
    assert _settings(spark) == before
    for k, answer in enumerate(got):
        if k in seen:
            assert answer == pytest.approx(want_loop, abs=1e-12)
        else:
            assert answer == want_replay
    assert all(s == [("false", "4")] * 3 for s in seen.values())


def test_foreachbatch_body_may_open_a_loop_scope(spark, monkeypatch):
    """A ``foreachBatch`` body runs on the stream's own thread; one that
    opens a loop scope must finish, which it cannot if the replay held
    the settings lock past ``start()``."""
    gate = replay.cms_alert_gate_batch
    scopes = []

    def gate_in_loop_scope(batch_df, *args, **kwargs):
        with loop_scope(batch_df.sparkSession, None, lambda: 0) as parts:
            scopes.append(parts)
            gate(batch_df, *args, **kwargs)

    want = _rows(replay.run_cms_alert_replay(spark, SF0001))
    monkeypatch.setattr(replay, "cms_alert_gate_batch", gate_in_loop_scope)
    got = []
    worker = threading.Thread(
        target=lambda: got.append(_rows(replay.run_cms_alert_replay(spark, SF0001))),
        daemon=True,
    )
    worker.start()
    worker.join(timeout=180)
    assert not worker.is_alive(), "foreachBatch body deadlocked on the settings lock"
    assert scopes and got == [want]


def test_stream_dedup_replay_job_ceiling(spark):
    """The dedup replay hands back the memory sink's rows without a
    ``localCheckpoint`` copy: outside the stream's own jobs, the call and
    a full write of its answer run two jobs (three with the copy)."""
    replay.run_stream_dedup_replay(spark, SF0001)  # stage the input once
    jobs = _count_jobs(
        spark, "stream_dedup_ceiling", lambda: replay.run_stream_dedup_replay(spark, SF0001)
    )
    assert jobs <= 2


def test_no_temp_view_survives_a_replay(spark):
    """Every memory-sink replay drops the sink's temp view, and its
    returned frame still reads the rows."""
    from page_rank_hadoop_spark.streaming.join import run_join_replay_to_memory

    before = _temp_views(spark)
    for run in (
        replay.run_stream_dedup_replay,
        replay.run_watermark_replay,
        replay.run_stream_join_replay,
        replay.run_stateful_sessionize_replay,
        replay.run_stateful_zscore_replay,
        replay.run_replay_to_memory,
        replay.run_session_replay_to_memory,
        run_join_replay_to_memory,
    ):
        out = run(spark, SF0001)
        assert _temp_views(spark) == before, run.__name__
        assert out.count() > 0, run.__name__
