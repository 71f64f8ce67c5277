"""Dump `.explain("formatted")` for the named keys into plans/<tag>/.

The optimization-round evidence trail: `<key>_before.txt` /
`<key>_after.txt` per touched key (the judge checks plan claims
against these files).  Streaming keys note that the captured plan is
the post-drain batch summary the builder returns — the stream's own
micro-batch plan is not a DataFrame we can explain offline.

Usage:
    python scripts/dump_key_plans.py --tag r13 --suffix before KEY...
"""

from __future__ import annotations

import argparse
import os
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from fanstats_producer_spark import registry
from fanstats_producer_spark.plans.checks import explain_str
from fanstats_producer_spark.session import get_spark

registry.load_all()


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("keys", nargs="+")
    ap.add_argument("--tag", default="r13")
    ap.add_argument("--suffix", required=True, choices=["before", "after"])
    ap.add_argument("--sf-dir", default="/root/testdata/sf0.1")
    args = ap.parse_args()

    unknown = [k for k in args.keys if k not in registry.QUERIES]
    if unknown:
        print(f"unknown keys: {unknown}", file=sys.stderr)
        return 2

    outdir = os.path.join(ROOT, "plans", args.tag)
    os.makedirs(outdir, exist_ok=True)
    spark = get_spark("dump-key-plans")
    from fanstats_producer_spark.operators.layout import ensure_layout

    ensure_layout(spark, args.sf_dir)
    for key in args.keys:
        df = registry.QUERIES[key](spark, args.sf_dir)
        path = os.path.join(outdir, f"{key}_{args.suffix}.txt")
        with open(path, "w") as fh:
            fh.write(explain_str(df, "formatted"))
        print(f"wrote {path}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
