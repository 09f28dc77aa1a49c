"""Pin the expected answer of each query key the benchmark runs.

Runs the DuckDB oracle (``__spark_entry__.oracle_sql()``) of every key in
``workloads.SPARK_OPS`` and of ``workloads.RANKS_KEY`` over the generated
tables and stores its answer hash in ``perfbench/expected.json`` together
with the data fingerprint. The Spark answer is computed too and must
hash-match the oracle; the file is written only when every key does. Some
oracles take minutes in DuckDB (recursive components), which is why the
hashes are stored rather than recomputed on every benchmark run.

Usage (from the repository root, on tables written by datagen.py):
    python3 perfbench/make_expected.py <data_dir>
"""

from __future__ import annotations

import json
import os
import sys
import time

import duckdb

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
sys.path.insert(0, os.path.dirname(HERE))

from answers import EXPECTED_PATH, answer_hash  # noqa: E402
from datagen import TABLES, fingerprint  # noqa: E402
from workloads import RANKS_KEY, SPARK_OPS  # noqa: E402


def main(argv: list[str]) -> int:
    if len(argv) != 1:
        sys.exit(__doc__)
    data_dir, keys = os.path.abspath(argv[0]), [*SPARK_OPS, RANKS_KEY]
    import __spark_entry__ as entry_mod
    from page_rank_hadoop_spark import get_spark

    oracles = entry_mod.oracle_sql()
    queries = entry_mod.queries()
    expected = {"data_fingerprint": fingerprint(data_dir), "answers": {}}

    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{data_dir}/{t}.parquet'")
    spark = get_spark("make_expected")
    failures = 0
    for key in keys:
        t0 = time.time()
        res = con.execute(oracles[key])
        want = answer_hash([d[0] for d in res.description], res.fetchall())
        t_oracle = time.time() - t0
        df = queries[key](spark, data_dir)
        rows = [tuple(r) for r in df.collect()]
        got = answer_hash(df.columns, rows)
        status = "ok" if got == want else "MISMATCH"
        print(f"{status:8s} {key:28s} rows={len(rows):6d} oracle={t_oracle:6.1f}s "
              f"oracle_hash={want} spark_hash={got}", flush=True)
        if got != want:
            failures += 1
            continue
        expected["answers"][key] = {"hash": want, "rows": len(rows)}
    spark.stop()
    if failures:
        return 1
    with open(EXPECTED_PATH, "w") as fh:
        json.dump(expected, fh, indent=1, sort_keys=True)
        fh.write("\n")
    return 0


if __name__ == "__main__":
    raise SystemExit(main(sys.argv[1:]))
