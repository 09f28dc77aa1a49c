"""load_table infers a parquet file's schema once per file version: a
warm call runs no Spark job before its action, and a rewritten file is
inferred afresh."""

import os
import shutil

from tests.conftest import SF0001


def _jobs_in_group(spark, group, fn):
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return out, sc.statusTracker().getJobIdsForGroup(group)


def test_warm_load_table_runs_no_job(spark):
    from page_rank_hadoop_spark.sources.catalog import load_table

    for name in ("documents", "events"):
        cold = load_table(spark, SF0001, name)
        warm, jobs = _jobs_in_group(
            spark, f"warm_load_{name}", lambda: load_table(spark, SF0001, name)
        )
        assert jobs == [], name
        assert warm.schema == cold.schema
        assert warm.count() == cold.count() > 0
    # the events inference flips the nanos setting only inside the scope
    assert spark.conf.get("spark.sql.legacy.parquet.nanosAsLong") == "false"


def test_rewritten_file_is_inferred_again(spark, tmp_path):
    import pyarrow as pa
    import pyarrow.parquet as pq

    from page_rank_hadoop_spark.sources.catalog import load_table

    src = os.path.join(SF0001, "region.parquet")
    sf = str(tmp_path)
    path = os.path.join(sf, "region.parquet")
    shutil.copy(src, path)
    first = load_table(spark, sf, "region")
    t = pq.read_table(src)
    pq.write_table(t.append_column("r_extra", pa.array(range(t.num_rows), pa.int64())), path)
    second, jobs = _jobs_in_group(
        spark, "rewritten_load", lambda: load_table(spark, sf, "region")
    )
    assert jobs, "the rewritten file's schema was not inferred again"
    assert second.columns == first.columns + ["r_extra"]
    assert [r["r_extra"] for r in second.orderBy("r_extra").collect()] == list(range(t.num_rows))
