"""x57 recall-vs-cost sweep over the planted-neighbor fixture.

VERDICT r6 item 2: x57b reported recall@5 ≈ 0.73 on the base fixture,
whose neighborhoods are barely separated (top-5 cosine 0.34-0.45 vs p99
0.29) — at that geometry recall measures fixture noise, not index
quality.  This script (a) generates a planted-neighbor variant of the
embeddings fixture (gen_sf.py planted_neighbors: 10 true near
neighbors at cosine ≈ 0.9+ per probe query), (b) sweeps the three
runtime knobs of the composed IVF+PQ pipeline — n_probe, shortlist, m —
through the parameterized ivfpq_recall surface, and (c) prints the
recall-vs-wall-clock curve on BOTH fixtures, so the gap between planted
and base recall quantifies how much of the 0.73 was geometry ceiling.

Usage: python scripts/x57_sweep.py [sf]   (default 0.1 → 2000 vectors)
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


def mean_recall(spark, sf_dir: str, n_probe: int, shortlist: int, m: int):
    from fanstats_producer_spark.operators.similarity import ivfpq_recall

    t0 = time.time()
    rows = ivfpq_recall(spark, sf_dir, n_probe, shortlist, m).collect()
    dt = time.time() - t0
    rec = sum(r.recall_e6 for r in rows) / (1e6 * len(rows))
    return rec, dt


def main() -> None:
    sf = float(sys.argv[1]) if len(sys.argv) > 1 else 0.1
    spark = get_spark("x57-sweep")
    planted_dir = ensure_fixture(sf, planted=10)
    base_dir = f"/root/testdata/sf{sf:g}"

    grid = [
        # (n_probe, shortlist, m) — defaults are (5, 100, 16)
        (1, 100, 16),
        (3, 100, 16),
        (5, 100, 16),
        (8, 100, 16),
        (10, 100, 16),
        (5, 25, 16),
        (5, 50, 16),
        (5, 200, 16),
        (5, 100, 8),
        (5, 100, 32),
        (10, 200, 32),
    ]
    results = []
    for fixture, d in (("planted", planted_dir), ("base", base_dir)):
        if not os.path.exists(os.path.join(d, "embeddings.parquet")):
            print(f"-- skip {fixture}: {d} missing")
            continue
        for np_, sl, m in grid:
            rec, dt = mean_recall(spark, d, np_, sl, m)
            results.append(
                {
                    "fixture": fixture,
                    "n_probe": np_,
                    "shortlist": sl,
                    "m": m,
                    "recall": round(rec, 4),
                    "sec": round(dt, 2),
                }
            )
            print(
                f"{fixture:8s} n_probe={np_:2d} shortlist={sl:3d} m={m:2d} "
                f"recall@5={rec:.3f}  {dt:.1f}s"
            )
    print(json.dumps(results))


if __name__ == "__main__":
    main()
