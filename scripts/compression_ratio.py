"""Measure the storage ratio of the CLP-style encoded representation.

CLP's headline claim is compression (README.md:14-31). Our equivalent:
(raw transcripts parquet-zstd) vs (encoded table + logtype dict + var
dict, all parquet-zstd). Both sides get the same columnar/zstd treatment,
so the delta isolates the dictionary-encoding win itself.

Usage: python scripts/compression_ratio.py [input_path] [hash|dense]
Prints one JSON line and exits.
"""

from __future__ import annotations

import json
import os
import shutil
import sys

sys.path.insert(0, ".")

from clp_core_spark.operators import encode_pipeline  # noqa: E402
from clp_core_spark.session import get_spark  # noqa: E402

WORK = "/tmp/clp_bench/ratio"


def du(path: str) -> int:
    total = 0
    for root, _dirs, files in os.walk(path):
        for f in files:
            total += os.path.getsize(os.path.join(root, f))
    return total


def main() -> None:
    path = sys.argv[1] if len(sys.argv) > 1 else "/tmp/clp_bench/transcripts_sf0.1"
    spark = get_spark("ratio", extra_conf={
        "spark.sql.files.maxPartitionBytes": "4m",
        "spark.sql.files.openCostInBytes": "0",
    })
    spark.sparkContext.setLogLevel("ERROR")

    df = spark.read.parquet(path)
    n = df.count()

    shutil.rmtree(WORK, ignore_errors=True)
    # raw text-only baseline (the metadata cols exist on both sides; keep
    # the comparison about the text column vs its encoded form)
    df.select("conv_id", "turn_idx", "text").write.parquet(f"{WORK}/raw")

    mode = sys.argv[2] if len(sys.argv) > 2 else "hash"
    enc, lt, vd = encode_pipeline.encode(
        df, key_cols=["conv_id", "turn_idx"], var_id_mode=mode
    )
    # CLP writes segments in stable (group, ts, path) order
    # (clp/streaming_archive/writer/Archive.hpp:199-226); the GLT variant
    # groups by logtype for a further ratio win. Same here: cluster rows
    # before writing so parquet RLE/dict encodings see the locality.
    (
        enc.select("conv_id", "turn_idx", "logtype_id", "encoded_vars")
        .repartitionByRange(8, "logtype_id", "conv_id", "turn_idx")
        .sortWithinPartitions("logtype_id", "conv_id", "turn_idx")
        .write.parquet(f"{WORK}/encoded")
    )
    lt.write.parquet(f"{WORK}/lt_dict")
    vd.write.parquet(f"{WORK}/var_dict")

    raw_b = du(f"{WORK}/raw")
    enc_b = du(f"{WORK}/encoded") + du(f"{WORK}/lt_dict") + du(f"{WORK}/var_dict")
    print(json.dumps({
        "mode": mode,
        "rows": n,
        "raw_parquet_zstd_bytes": raw_b,
        "encoded_plus_dicts_bytes": enc_b,
        "ratio": round(raw_b / enc_b, 3),
    }))
    spark.stop()


if __name__ == "__main__":
    main()
