"""Benchmark entry point.

    python3 perfbench/run.py --workload search --seed 1 --seconds 10 --trace 0

Run from the root of a checkout. The last line of standard output is one
JSON object: ``correct``, ``attempted``, ``failed`` and ``metrics`` (the
``end_to_end`` metrics of BENCHMARK.json, or its ``per_layer`` metrics
with ``--trace 1``). The line before it is a fuller record without spans;
the full record, spans included, is written under ``.perfbench_out/``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]


def parse_args(argv):
    p = argparse.ArgumentParser(prog="perfbench/run.py")
    p.add_argument("--workload", required=True, choices=("job", "search"))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--turns", type=int, default=None,
                   help="input size override, for smoke tests")
    return p.parse_args(argv)


def main(argv=None) -> int:
    args = parse_args(argv)
    sys.path.insert(0, str(ROOT))
    import clp_core_spark  # noqa: F401 — fail fast when the program is absent

    from perfbench import bench

    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    declared = spec["per_layer" if args.trace else "end_to_end"]

    work = ROOT / ".perfbench_work" / f"{args.workload}-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    work.mkdir(parents=True)
    # Spark's JVM and Python workers inherit these: imports resolve to this
    # checkout, and scratch files stay inside it
    os.environ["PYTHONPATH"] = os.pathsep.join(
        filter(None, [str(ROOT), os.environ.get("PYTHONPATH")])
    )
    os.environ.setdefault("PYSPARK_PYTHON", sys.executable)
    os.environ["SPARK_GRAFT_LOCAL_DIR"] = str(work / "spark-local")
    os.environ["TMPDIR"] = str(work / "tmp")

    cfg = bench.Config(
        root=ROOT, work=work, workload=args.workload, seed=args.seed,
        seconds=args.seconds, trace=bool(args.trace),
        turns=args.turns or bench.DEFAULT_TURNS,
    )
    try:
        values, record = bench.run(cfg)
    finally:
        shutil.rmtree(work, ignore_errors=True)

    metrics = {
        m["name"]: {"value": values[m["name"]], "unit": m["unit"]} for m in declared
    }
    out_dir = ROOT / ".perfbench_out"
    out_dir.mkdir(exist_ok=True)
    record["metrics"] = metrics
    name = f"{args.workload}-seed{args.seed}-trace{args.trace}.json"
    (out_dir / name).write_text(json.dumps(record, indent=1, default=str))
    summary = {k: v for k, v in record.items() if k != "spans"}
    print(json.dumps(summary, default=str))
    print(json.dumps({
        "correct": record["failed"] == 0,
        "attempted": max(record["attempted"], 1),
        "failed": record["failed"],
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
