"""x84 hard-negative mining sweep over the planted-margins fixture.

VERDICT r8 marked x84 `weak`: on the base fixture every anchor's
margin is NEGATIVE (labels are uncorrelated with cosine neighborhoods —
the same geometry fact x57's r7 recall work measured), so the operator
passes its oracle but nothing demonstrates it MINES.  This script (the
x57_sweep.py pattern):

(a) generates a planted-margins variant of the embeddings fixture
    (gen_sf.py planted_margins: N same-label near neighbors at cosine
    ≈ 0.9+ per x84 anchor),
(b) runs x84_hard_negatives AT THE REGISTERED DEFAULTS on both the
    planted and base fixtures,
(c) verifies DuckDB-oracle parity on the planted fixture (the oracle
    must agree on non-degenerate geometry too), and
(d) prints/records per-anchor margins: planted must be POSITIVE for
    every anchor, base documents the degenerate baseline.

Usage: python scripts/x84_sweep.py [sf] [out_json]
       (defaults 0.1, X84_SWEEP_r9.json)
"""

from __future__ import annotations

import json
import os
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from fanstats_producer_spark.session import get_spark


def ensure_fixture(sf: float, margins: int) -> str:
    # ALWAYS regenerate (seconds at sweep SFs): an existence check would
    # silently reuse a fixture generated with a different margins count
    # or an older gen_sf, recording a pass against stale geometry
    out = os.path.join(ROOT, "localdata", f"margins{sf:g}_m{margins}")
    from scripts.gen_sf import generate

    generate(sf, out, planted_margins=margins)
    return out


def run_x84(spark, sf_dir: str):
    from fanstats_producer_spark.operators.similarity import (
        x84_hard_negatives,
    )

    t0 = time.time()
    rows = sorted(
        x84_hard_negatives(spark, sf_dir).collect(),
        key=lambda r: r["query_id"],
    )
    dt = time.time() - t0
    return [
        {
            "query_id": r["query_id"],
            "pos_id": r["pos_id"],
            "pos_sim_e6": r["pos_sim_e6"],
            "neg_id": r["neg_id"],
            "neg_sim_e6": r["neg_sim_e6"],
            "margin_e6": r["margin_e6"],
        }
        for r in rows
    ], dt


def oracle_x84(sf_dir: str):
    import duckdb

    from fanstats_producer_spark import registry

    con = duckdb.connect()
    con.execute(
        "CREATE VIEW embeddings AS SELECT * FROM "
        f"'{sf_dir}/embeddings.parquet'"
    )
    cols = [
        "query_id",
        "pos_id",
        "pos_sim_e6",
        "neg_id",
        "neg_sim_e6",
        "margin_e6",
    ]
    rows = con.execute(
        registry.ORACLE["x84_hard_negatives"]
    ).fetchall()
    return sorted(
        (dict(zip(cols, r)) for r in rows), key=lambda d: d["query_id"]
    )


def main() -> None:
    sf = float(sys.argv[1]) if len(sys.argv) > 1 else 0.1
    out_json = sys.argv[2] if len(sys.argv) > 2 else "X84_SWEEP_r9.json"
    spark = get_spark("x84-sweep")
    planted_dir = ensure_fixture(sf, margins=10)
    base_dir = f"/root/testdata/sf{sf:g}"

    record: dict = {"sf": sf, "planted_margins": 10, "fixtures": {}}
    for fixture, d in (("planted", planted_dir), ("base", base_dir)):
        if not os.path.exists(os.path.join(d, "embeddings.parquet")):
            print(f"-- skip {fixture}: {d} missing")
            continue
        rows, dt = run_x84(spark, d)
        entry = {"dir": d, "sec": round(dt, 2), "anchors": rows}
        if fixture == "planted":
            # oracle parity on the non-degenerate geometry
            want = oracle_x84(d)
            got = sorted(rows, key=lambda r: r["query_id"])
            entry["oracle_match"] = want == got
            entry["all_margins_positive"] = all(
                r["margin_e6"] > 0 for r in rows
            )
        record["fixtures"][fixture] = entry
        margins = [r["margin_e6"] for r in rows]
        print(f"{fixture}: margins_e6={margins}  ({dt:.2f}s)")

    planted = record["fixtures"].get("planted", {})
    ok = planted.get("oracle_match") and planted.get(
        "all_margins_positive"
    )
    record["pass"] = bool(ok)
    with open(out_json, "w") as f:
        json.dump(record, f, indent=2)
    print(f"wrote {out_json}  pass={record['pass']}")
    if not ok:
        raise SystemExit(1)


if __name__ == "__main__":
    main()
