"""Physical layout of keyed serving tables.

    python3 tools/serving_layout.py <dir>

``<dir>`` is a ``build_search_tables`` output, any directory whose
subdirectories are parquet tables, or one table directory. Printed per
table (each directory holding top-level ``.parquet`` files): the file
count, row groups, total file bytes and footer bytes, then one line per
column with its encodings, compression codecs and whether its chunks
carry statistics, each gathered over every row group of every file.
Reads footers only.
"""

from __future__ import annotations

import os
import sys


def parquet_files(table_dir: str) -> list[str]:
    return sorted(
        os.path.join(table_dir, n)
        for n in os.listdir(table_dir)
        if n.endswith(".parquet") and not n.startswith("_")
    )


def table_layout(table_dir: str) -> dict:
    """Files, row groups, bytes and footer bytes of one table, and per
    column (by schema path, in schema order) the encodings, codecs and
    statistics state seen across all its column chunks."""
    import pyarrow.parquet as pq

    out = {"files": 0, "row_groups": 0, "bytes": 0, "footer_bytes": 0, "columns": {}}
    for fp in parquet_files(table_dir):
        md = pq.ParquetFile(fp).metadata
        out["files"] += 1
        out["row_groups"] += md.num_row_groups
        out["bytes"] += os.path.getsize(fp)
        out["footer_bytes"] += md.serialized_size
        for g in range(md.num_row_groups):
            rg = md.row_group(g)
            for i in range(rg.num_columns):
                col = rg.column(i)
                seen = out["columns"].setdefault(
                    col.path_in_schema,
                    {"encodings": set(), "compression": set(), "statistics": set()},
                )
                seen["encodings"].update(col.encodings)
                seen["compression"].add(col.compression)
                seen["statistics"].add("yes" if col.is_stats_set else "no")
    return out


def tables(root: str) -> list[str]:
    """``root`` itself when it holds parquet files, else its
    subdirectories that do, by name."""
    if parquet_files(root):
        return [root]
    return [
        os.path.join(root, n)
        for n in sorted(os.listdir(root))
        if os.path.isdir(os.path.join(root, n)) and parquet_files(os.path.join(root, n))
    ]


def main(argv: list[str]) -> int:
    if len(argv) != 1 or not os.path.isdir(argv[0]):
        print(__doc__.strip().split("\n\n")[1], file=sys.stderr)
        return 2
    found = tables(argv[0])
    if not found:
        print(f"no parquet tables under {argv[0]}", file=sys.stderr)
        return 1
    for table_dir in found:
        t = table_layout(table_dir)
        print(
            f"{os.path.basename(os.path.normpath(table_dir))}: {t['files']} files, "
            f"{t['row_groups']} row groups, {t['bytes']} bytes, "
            f"footer {t['footer_bytes']} bytes"
        )
        for path, seen in t["columns"].items():
            print(
                f"  {path}: encodings {'/'.join(sorted(seen['encodings']))}; "
                f"compression {'/'.join(sorted(seen['compression']))}; "
                f"statistics {'/'.join(sorted(seen['statistics']))}"
            )
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
