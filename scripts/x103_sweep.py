"""x103 recall-vs-cost sweep over JL projection width and shortlist.

VERDICT r10 item 5: x103's registered knobs (out_dim=16,
shortlist=max(25, n/10)) report recall@5 = [0.8, 0, 0.8] at sf0.1 —
JL-16 loses one noise-floor query entirely.  This script sweeps
out_dim × (min_shortlist, frac_div) through the parameterized
jl_ann_recall surface on BOTH the base fixture (barely-separated
neighborhoods) and the planted-neighbor fixture (true near neighbors
at cosine ≈ 0.9+), prints the recall-vs-wall-clock curve, and writes
X103_SWEEP.json — the artifact behind the registered defaults.

Usage: python scripts/x103_sweep.py [sf]   (default 0.1 → 2000 vectors)
"""

from __future__ import annotations

import json
import os
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from fanstats_producer_spark.session import get_spark


def ensure_fixture(sf: float, planted: int) -> str:
    out = os.path.join(ROOT, "localdata", f"planted{sf}")
    if not os.path.exists(os.path.join(out, "embeddings.parquet")):
        from scripts.gen_sf import generate

        generate(sf, out, planted_neighbors=planted)
    return out


def run(spark, sf_dir: str, out_dim: int, min_sl: int, frac_div: int):
    from fanstats_producer_spark.operators.similarity import jl_ann_recall

    t0 = time.time()
    rows = jl_ann_recall(
        spark, sf_dir, out_dim=out_dim, min_shortlist=min_sl,
        frac_div=frac_div,
    ).collect()
    dt = time.time() - t0
    per_q = {int(r.query_id): r.recall_e6 / 1e6 for r in rows}
    mean = sum(per_q.values()) / len(per_q) if per_q else 0.0
    return mean, per_q, dt


def main() -> None:
    sf = float(sys.argv[1]) if len(sys.argv) > 1 else 0.1
    spark = get_spark("x103-sweep")
    planted_dir = ensure_fixture(sf, planted=10)
    base_dir = f"/root/testdata/sf{sf:g}"

    grid = [
        # (out_dim, min_shortlist, frac_div) — registered: (16, 25, 10)
        (8, 25, 10),
        (16, 25, 10),
        (24, 25, 10),
        (32, 25, 10),
        (16, 50, 10),
        (16, 100, 10),
        (16, 200, 10),
        (16, 25, 5),
        (24, 100, 10),
        (32, 100, 10),
        (32, 200, 5),
    ]
    results = []
    for fixture, sf_dir in (("base", base_dir), ("planted", planted_dir)):
        for out_dim, min_sl, fd in grid:
            mean, per_q, dt = run(spark, sf_dir, out_dim, min_sl, fd)
            rec = {
                "fixture": fixture,
                "out_dim": out_dim,
                "min_shortlist": min_sl,
                "frac_div": fd,
                "mean_recall": round(mean, 4),
                "per_query": per_q,
                "wall_s": round(dt, 2),
            }
            results.append(rec)
            print(
                f"{fixture:8s} d={out_dim:3d} sl>={min_sl:4d}"
                f" div={fd:2d}  recall={mean:.3f}"
                f"  {sorted(per_q.values())}  {dt:.1f}s"
            )
    with open(os.path.join(ROOT, "X103_SWEEP.json"), "w") as fh:
        json.dump({"sf": sf, "results": results}, fh, indent=1)
    print("wrote X103_SWEEP.json")


if __name__ == "__main__":
    main()
