#!/usr/bin/env python
"""Dump .explain("formatted") for a list of registered queries to files.

Usage:
  SPARK_GRAFT_CPUS=32 python tools/dump_plans.py --out plans/r13 \
      --suffix _after.txt q67_bloom_prune e_ivfpq_recall ...

Writes <out>/<query><suffix> with the formatted physical plan, the same
capture the optimization-round plan claims are checked against. Streaming
queries drain first (the dumped plan is the drained batch result's plan;
the streaming micro-batch plans are pinned by tests/test_streaming.py).
Each query's persisted relations are released after its dump, so a dumped
plan does not depend on which queries ran before it in the same call.
An unregistered name is named on stderr; the rest still dump, and the tool
then exits non-zero.
"""

from __future__ import annotations

import argparse
import io
import os
import sys
from contextlib import redirect_stdout

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--out", required=True)
    ap.add_argument("--suffix", default="_after.txt")
    ap.add_argument("--sf", default=os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"))
    ap.add_argument("names", nargs="+")
    args = ap.parse_args()

    from udlang_spark.queries import QUERIES
    from udlang_spark.session import get_spark, release_caches

    os.makedirs(args.out, exist_ok=True)
    spark = get_spark("udlang_spark_plan_dump")
    spark.sparkContext.setLogLevel("ERROR")
    unknown = []
    for name in args.names:
        if name not in QUERIES:
            print(f"FAILED {name}: not a registered query", file=sys.stderr)
            unknown.append(name)
            continue
        df = QUERIES[name](spark, args.sf)
        buf = io.StringIO()
        with redirect_stdout(buf):
            df.explain("formatted")
        path = os.path.join(args.out, f"{name}{args.suffix}")
        with open(path, "w") as f:
            f.write(buf.getvalue())
        release_caches()
        print(f"wrote {path} ({len(buf.getvalue())} chars)")
    spark.stop()
    if unknown:
        sys.exit(f"dump_plans: {len(unknown)} unregistered: {', '.join(unknown)}")


if __name__ == "__main__":
    main()
