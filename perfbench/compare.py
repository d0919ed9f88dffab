#!/usr/bin/env python3
"""Compare run records of two benchmark sets.

    python3 perfbench/compare.py --base A1.json A2.json ... --new B1.json B2.json ...

Each record is a file kept by ``run.py`` under ``.perfbench/records/``.
Records are compared only when their environments match (nproc,
``local[N]``, driver heap, Spark and Python versions, the filesystem of
``SPARK_LOCAL_DIRS``) and their workload and trace mode match; otherwise
the script refuses and exits 1. It prints, per end-to-end metric, each
side's median over its records and the ratio new/base.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import sys

ENV_KEYS = ("nproc", "master", "driver_memory", "spark_version", "python", "local_dirs_fs")


def environment(record: dict) -> tuple:
    env = record.get("env", {})
    return (record.get("workload"), record.get("trace"), record.get("size", "full")) + tuple(
        env.get(k) for k in ENV_KEYS)


def medians(records: list[dict]) -> dict[str, float]:
    values: dict[str, list[float]] = {}
    for r in records:
        for name, m in r.get("end_to_end", {}).items():
            if m.get("value") is not None:
                values.setdefault(name, []).append(m["value"])
    return {k: statistics.median(v) for k, v in values.items()}


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--base", nargs="+", required=True)
    ap.add_argument("--new", nargs="+", required=True)
    args = ap.parse_args()
    base = [json.load(open(p)) for p in args.base]
    new = [json.load(open(p)) for p in args.new]
    envs = {environment(r) for r in base + new}
    if len(envs) != 1:
        print("refusing to compare records from different environments or workloads:",
              file=sys.stderr)
        for e in sorted(envs, key=str):
            print("  ", dict(zip(("workload", "trace", "size") + ENV_KEYS, e)), file=sys.stderr)
        return 1
    mb, mn = medians(base), medians(new)
    for name in sorted(set(mb) | set(mn)):
        b, n = mb.get(name), mn.get(name)
        ratio = f"{n / b:.3f}" if b and n is not None else "-"
        print(f"{name:24s} base={b!s:>22s} new={n!s:>22s} new/base={ratio}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
