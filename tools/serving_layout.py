"""Physical layout of keyed serving tables.

    python3 tools/serving_layout.py <dir>

``<dir>`` is a ``build_search_tables`` output, any directory whose
subdirectories are keyed tables, or one table directory. A table is a
directory holding top-level ``.parquet`` or ``.arrow`` part files.
Printed per parquet table: the file count, row groups, total file bytes
and footer bytes, then one line per column with its encodings,
compression codecs and whether its chunks carry statistics, each
gathered over every row group of every file. Printed per Arrow IPC
table (``serving.write_arrow_files`` output): the file count, record
batches and total file bytes, then one line per column with its type.
Reads footers and IPC schemas only.
"""

from __future__ import annotations

import os
import sys


def part_files(table_dir: str, suffix: str) -> list[str]:
    return sorted(
        os.path.join(table_dir, n)
        for n in os.listdir(table_dir)
        if n.endswith(suffix) and not n.startswith(("_", "."))
    )


def parquet_files(table_dir: str) -> list[str]:
    return part_files(table_dir, ".parquet")


def arrow_files(table_dir: str) -> list[str]:
    return part_files(table_dir, ".arrow")


def table_layout(table_dir: str) -> dict:
    """Files, row groups, bytes and footer bytes of one parquet table,
    and per column (by schema path, in schema order) the encodings,
    codecs and statistics state seen across all its column chunks."""
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


def arrow_layout(table_dir: str) -> dict:
    """Files, record batches and bytes of one Arrow IPC table, and each
    column's type (by name, in schema order) across its files."""
    import pyarrow as pa

    out = {"files": 0, "record_batches": 0, "bytes": 0, "columns": {}}
    for fp in arrow_files(table_dir):
        with pa.memory_map(fp) as source:
            reader = pa.ipc.open_file(source)
            out["files"] += 1
            out["record_batches"] += reader.num_record_batches
            out["bytes"] += os.path.getsize(fp)
            for field in reader.schema:
                out["columns"].setdefault(field.name, set()).add(str(field.type))
    return out


def tables(root: str) -> list[str]:
    """``root`` itself when it holds part files, else its
    subdirectories that do, by name."""

    def is_table(d: str) -> bool:
        return bool(parquet_files(d) or arrow_files(d))

    if is_table(root):
        return [root]
    return [
        os.path.join(root, n)
        for n in sorted(os.listdir(root))
        if os.path.isdir(os.path.join(root, n)) and is_table(os.path.join(root, n))
    ]


def main(argv: list[str]) -> int:
    if len(argv) != 1 or not os.path.isdir(argv[0]):
        print(__doc__.strip().split("\n\n")[1], file=sys.stderr)
        return 2
    found = tables(argv[0])
    if not found:
        print(f"no parquet or arrow tables under {argv[0]}", file=sys.stderr)
        return 1
    for table_dir in found:
        name = os.path.basename(os.path.normpath(table_dir))
        if parquet_files(table_dir):
            t = table_layout(table_dir)
            print(
                f"{name}: {t['files']} parquet files, "
                f"{t['row_groups']} row groups, {t['bytes']} bytes, "
                f"footer {t['footer_bytes']} bytes"
            )
            for path, seen in t["columns"].items():
                print(
                    f"  {path}: encodings {'/'.join(sorted(seen['encodings']))}; "
                    f"compression {'/'.join(sorted(seen['compression']))}; "
                    f"statistics {'/'.join(sorted(seen['statistics']))}"
                )
        if arrow_files(table_dir):
            t = arrow_layout(table_dir)
            print(
                f"{name}: {t['files']} arrow files, "
                f"{t['record_batches']} record batches, {t['bytes']} bytes"
            )
            for col, types in t["columns"].items():
                print(f"  {col}: {' / '.join(sorted(types))}")
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
