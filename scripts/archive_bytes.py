"""Where an archive's bytes go.

Usage: python scripts/archive_bytes.py WORK_ROOT [--input-bytes N]

WORK_ROOT is the work root of an ``IngestPipeline``. Prints, reading only
files and parquet footers (no Spark session):

- bytes by table: every directory that holds parquet data files (the
  three sinks, both dictionaries, the ledger, GLT), data files only;
- compressed bytes by sink column, summed over the column chunks of every
  sink file's footer;
- per-file overhead of the sink files: file bytes not in any column chunk
  (footer, page indexes, magic numbers), in total and per file;
- side files (``_SUCCESS``, ``.crc`` checksums and other ``_``/``.``
  names), which hold no data;
- the total, and with ``--input-bytes`` (the input text's UTF-8 bytes)
  the ratio total / input, perfbench's ``archive_bytes_per_input_byte``.
"""

from __future__ import annotations

import argparse
import os
from collections import Counter

import pyarrow.parquet as pq


def _is_side(name: str) -> bool:
    return name.startswith(("_", "."))


def _table_of(root: str, dirpath: str) -> str:
    """The table a data file's directory belongs to: its path below
    ``root`` up to the first ``key=value`` partition directory."""
    parts = []
    for p in os.path.relpath(dirpath, root).split(os.sep):
        if "=" in p:
            break
        parts.append(p)
    return "/".join(parts) or "."


def measure(root: str) -> dict:
    tables: Counter = Counter()
    columns: Counter = Counter()
    side = side_files = 0
    sink_files = sink_bytes = sink_chunks = sink_footer = 0
    for dirpath, _dirs, files in os.walk(root):
        for name in files:
            path = os.path.join(dirpath, name)
            size = os.path.getsize(path)
            if _is_side(name):
                side += size
                side_files += 1
                continue
            table = _table_of(root, dirpath)
            tables[table] += size
            if not table.startswith("sinks/"):
                continue
            md = pq.read_metadata(path)
            chunks = 0
            for g in range(md.num_row_groups):
                rg = md.row_group(g)
                for c in range(rg.num_columns):
                    col = rg.column(c)
                    columns[col.path_in_schema.split(".")[0]] += col.total_compressed_size
                    chunks += col.total_compressed_size
            sink_files += 1
            sink_bytes += size
            sink_chunks += chunks
            sink_footer += md.serialized_size
    return {
        "tables": tables, "columns": columns, "side": side, "side_files": side_files,
        "sink_files": sink_files, "sink_bytes": sink_bytes,
        "sink_overhead": sink_bytes - sink_chunks, "sink_footer": sink_footer,
        "total": sum(tables.values()) + side,
    }


def _kb(n: int) -> str:
    return f"{n / 1000:10.1f} KB"


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("work_root")
    ap.add_argument("--input-bytes", type=int, default=None)
    args = ap.parse_args()
    m = measure(args.work_root)

    print("bytes by table (data files)")
    for t, n in sorted(m["tables"].items()):
        print(f"  {t:28s}{_kb(n)}")
    print("sink bytes by column (compressed column chunks)")
    for c, n in sorted(m["columns"].items(), key=lambda kv: -kv[1]):
        print(f"  {c:28s}{_kb(n)}")
    files = m["sink_files"]
    print(f"sink files: {files}")
    if files:
        print(f"  {'footer + page indexes':28s}{_kb(m['sink_overhead'])}"
              f"  ({m['sink_overhead'] / files:.0f} B per file,"
              f" footers alone {m['sink_footer'] / files:.0f} B)")
    print(f"  {'side files':28s}{_kb(m['side'])}  ({m['side_files']} files)")
    print(f"  {'total':28s}{_kb(m['total'])}")
    if args.input_bytes:
        print(f"ratio to input ({args.input_bytes} B): {m['total'] / args.input_bytes:.4f}")


if __name__ == "__main__":
    main()
