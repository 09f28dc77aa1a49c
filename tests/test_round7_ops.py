"""Round-7 hardening pins: compaction crash RECOVERY (the round-6
ADVICE-high — a re-run after a mid-swap crash must restore, never
destroy, the dangling index copies), the self-describing IVF codebook
meta (probe/append/gate load the index's own codebook instead of
trusting per-call parameters), and the ANN gate's exact-id replay guard
(zero-norm vectors defeat the cosine self-match, so redelivery must be
caught by identity).
"""

import glob
import math
import os
import shutil

import pytest
from pyspark.sql import functions as F

from page_rank_hadoop_spark.operators import similarity
from page_rank_hadoop_spark.sources.catalog import load_table

SF0001 = "/root/testdata/sf0.001"
DIM = 64


@pytest.fixture(scope="module")
def emb(spark):
    return load_table(spark, SF0001, "embeddings")


def _index_content(spark, path):
    return sorted(
        (r["vec_id"], r["centroid"])
        for r in spark.read.parquet(path).select("vec_id", "centroid").collect()
    )


def test_compact_ivf_recovers_from_mid_swap_crash_finished_staging(
    spark, emb, tmp_path
):
    """Crash point: between rename(live → __old) and rename(__staging →
    live). Live is MISSING; the only copies are __old and the FINISHED
    staging (its _SUCCESS was written before the first rename). A re-run
    must restore one of them first — the pre-fix code rmtree'd both
    before reading, losing the index entirely (round-6 ADVICE-high)."""
    d = str(tmp_path / "ivf_idx")
    similarity.write_ivf_index(emb, d, n_centroids=16, dim=DIM)
    want = _index_content(spark, d)

    # forge the dangling state: staging == a finished compaction copy
    shutil.copytree(d, d + "__staging")
    os.rename(d, d + "__old")
    assert not os.path.isdir(d)

    reported = similarity.compact_ivf_index(spark, d)
    assert reported >= 1
    assert _index_content(spark, d) == want
    assert not os.path.exists(d + "__staging")
    assert not os.path.exists(d + "__old")
    # the codebook meta rides the recovery + swap
    assert similarity.load_ivf_meta(d) is not None


def test_compact_ivf_recovers_from_mid_swap_crash_torn_staging(
    spark, emb, tmp_path
):
    """Same dangling state but the staging copy is TORN (no _SUCCESS —
    a crash mid-staging-write followed by a crash after the first
    rename can't happen in one run, but a half-swept leftover can look
    like this): recovery must fall back to __old, never promote a
    half-written staging."""
    d = str(tmp_path / "ivf_idx")
    similarity.write_ivf_index(emb, d, n_centroids=16, dim=DIM)
    want = _index_content(spark, d)

    shutil.copytree(d, d + "__staging")
    os.remove(os.path.join(d + "__staging", "_SUCCESS"))
    # tear a bucket out of staging so promoting it WOULD lose data
    victim = glob.glob(os.path.join(d + "__staging", "centroid=*"))[0]
    shutil.rmtree(victim)
    os.rename(d, d + "__old")

    similarity.compact_ivf_index(spark, d)
    assert _index_content(spark, d) == want


def test_compact_ivf_unrecoverable_is_loud(spark, tmp_path):
    d = str(tmp_path / "nonexistent_idx")
    with pytest.raises(FileNotFoundError, match="no recoverable"):
        similarity.compact_ivf_index(spark, d)


def test_compact_band_index_recovers_dangling_table(spark, emb):
    """Catalog twin of the IVF recovery: crash between the two ALTER
    RENAMEs leaves the live band-index NAME dangling with the data
    under __old. A re-run of compact_band_index must rename it back and
    finish, preserving every row (pre-fix it dropped __old first)."""
    from page_rank_hadoop_spark.operators import dedup
    from tests.conftest import drop_warehouse_table

    table = "t_r7_recover_band"
    for t in (table, f"{table}__compacting", f"{table}__old"):
        drop_warehouse_table(spark, t)
    docs = load_table(spark, SF0001, "documents").limit(50)
    bands = dedup.minhash_band_table(docs)
    dedup.append_band_index(bands, table)
    want = sorted(
        tuple(r) for r in spark.table(table).select("doc_id", "band", "key").collect()
    )

    spark.sql(f"ALTER TABLE {table} RENAME TO {table}__old")
    assert not spark.catalog.tableExists(table)

    n_files = dedup.compact_band_index(spark, table)
    assert n_files >= 1
    got = sorted(
        tuple(r) for r in spark.table(table).select("doc_id", "band", "key").collect()
    )
    assert got == want
    for t in (table, f"{table}__compacting", f"{table}__old"):
        drop_warehouse_table(spark, t)


def test_ivf_meta_is_authoritative_for_probe(spark, emb, tmp_path):
    """Index built with C=32; a probe with the DEFAULT parameters
    (C=16) must still use the index's own codebook — identical results
    to an explicit C=32 probe. Pre-fix this silently probed the wrong
    buckets (round-6 ADVICE-medium)."""
    d = str(tmp_path / "ivf32")
    similarity.write_ivf_index(emb, d, n_centroids=32, dim=DIM)
    meta = similarity.load_ivf_meta(d)
    assert meta["n_centroids"] == 32 and meta["dim"] == DIM

    probe_vec = [
        float(x) for x in emb.filter(F.col("vec_id") == 0).collect()[0]["embedding"]
    ]
    with_defaults = similarity.probe_ivf_index(spark, d, probe_vec, k=5).collect()
    explicit = similarity.probe_ivf_index(
        spark, d, probe_vec, k=5, centroids=similarity.seed_centroids(32, DIM)
    ).collect()
    assert [tuple(r) for r in with_defaults] == [tuple(r) for r in explicit]
    assert with_defaults[0]["vec_id"] == 0 and with_defaults[0]["cos_sim"] == 1.0


def test_ivf_meta_rejects_mismatched_codebook(spark, emb, tmp_path):
    d = str(tmp_path / "ivf32")
    similarity.write_ivf_index(emb, d, n_centroids=32, dim=DIM)
    wrong = similarity.seed_centroids(16, DIM)
    probe_vec = [0.0] * DIM
    with pytest.raises(ValueError, match="codebook mismatch"):
        similarity.probe_ivf_index(spark, d, probe_vec, k=5, centroids=wrong)
    batch = spark.createDataFrame(
        [(777, [0.1] * DIM)], ["vec_id", "embedding"]
    )
    with pytest.raises(ValueError, match="codebook mismatch"):
        similarity.append_ivf_index(batch, d, centroids=wrong)


def test_ann_gate_zero_vector_replay_is_idempotent(spark, tmp_path):
    """An all-zero embedding has NaN cosine to everything (0/0), so the
    cosine-1.0 self-match can never drop its replay — the exact vec_id
    anti-join must (round-6 ADVICE). Redelivering the same batch twice
    leaves exactly one copy of the zero vector in the index."""
    from page_rank_hadoop_spark.streaming.ingest import ann_gate_batch

    dim = 8
    idx = str(tmp_path / "ivf_gate")
    v_a = [math.sin(1 + j) for j in range(dim)]
    batch = spark.createDataFrame(
        [(1, v_a), (2, [0.0] * dim)], ["vec_id", "embedding"]
    )
    out1 = ann_gate_batch(batch, idx, min_cosine=0.999, n_centroids=4, dim=dim)
    assert sorted(r["vec_id"] for r in out1.collect()) == [1, 2]
    # at-least-once redelivery of the SAME batch: nothing survives,
    # nothing is re-appended (including the zero vector)
    out2 = ann_gate_batch(batch, idx, min_cosine=0.999, n_centroids=4, dim=dim)
    assert out2.count() == 0
    stored = spark.read.parquet(idx).groupBy("vec_id").count().collect()
    assert sorted((r["vec_id"], r["count"]) for r in stored) == [(1, 1), (2, 1)]


def test_compact_ivf_recovery_carries_meta_from_old(spark, emb, tmp_path):
    """Crash window between the staging parquet write and the meta copy:
    staging is data-complete (_SUCCESS) but meta-less. Recovery must
    carry the codebook meta over from __old so the promoted index never
    silently downgrades to a legacy (trust-the-caller) index."""
    d = str(tmp_path / "ivf_idx")
    similarity.write_ivf_index(emb, d, n_centroids=32, dim=DIM)
    want_meta = similarity.load_ivf_meta(d)

    shutil.copytree(d, d + "__staging")
    os.remove(os.path.join(d + "__staging", similarity._IVF_META))
    os.rename(d, d + "__old")

    similarity.compact_ivf_index(spark, d)
    got = similarity.load_ivf_meta(d)
    assert got is not None
    assert got["fingerprint"] == want_meta["fingerprint"]
    assert got["n_centroids"] == 32


def test_append_to_legacy_index_does_not_cement_a_guessed_codebook(
    spark, emb, tmp_path
):
    """Appending to a pre-meta (legacy) index keeps the trust-the-caller
    contract WITHOUT persisting a meta file: a codebook guessed from the
    append call was never validated against the index, and writing it
    would make a wrong guess authoritative (hard-rejecting the true
    codebook forever after)."""
    d = str(tmp_path / "legacy_idx")
    similarity.write_ivf_index(emb, d, n_centroids=32, dim=DIM)
    os.remove(os.path.join(d, similarity._IVF_META))  # forge a legacy index

    batch = spark.createDataFrame([(777, [0.1] * DIM)], ["vec_id", "embedding"])
    similarity.append_ivf_index(batch, d, n_centroids=16, dim=DIM)
    assert similarity.load_ivf_meta(d) is None  # still legacy, not cemented
    # the TRUE codebook still works (explicit, legacy contract)
    out = similarity.probe_ivf_index(
        spark, d, [0.1] * DIM, k=3, centroids=similarity.seed_centroids(32, DIM)
    )
    assert out.count() == 3


def test_cursor_coerces_numeric_keys_and_rejects_partitioned_layouts(
    spark, emb, tmp_path
):
    """String values from argv work against a bigint key (coerced from
    the arrow schema), and pointing the cursor at a PARTITIONED layout
    fails loudly instead of silently returning zero rows."""
    from pyspark.sql import functions as F

    from page_rank_hadoop_spark.sources.serving import PointLookupCursor, write_keyed

    df = spark.range(100).select(F.col("id").alias("vec_id"), (F.col("id") * 2).alias("x"))
    path = str(tmp_path / "numkey")
    write_keyed(df, path, "vec_id", n_files=2)
    cur = PointLookupCursor(path, "vec_id")
    rows = cur.lookup(["42"]).to_pylist()  # argv-style string against bigint
    assert [(r["vec_id"], r["x"]) for r in rows] == [(42, 84)]

    part = str(tmp_path / "part")
    df.withColumn("p", F.col("vec_id") % 2).write.partitionBy("p").parquet(part)
    with pytest.raises(ValueError, match="FLAT write_keyed"):
        PointLookupCursor(part, "vec_id")
