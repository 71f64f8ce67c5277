"""sf1 value-checks for the closure-oracle dedup family (VERDICT r6
item 3): x04e, x59, x61 (recursive-CTE transitive closures) and x60
(quadratic pair-set monitor).

At sf1 the registered recursive-CTE oracles OOM DuckDB reproducibly
("Failed to allocate block...", 122 GB free) — recursive CTE state
cannot spill.  This script restates each oracle as STAGED temp tables
with the closure computed by an ITERATIVE min-label-propagation loop
(the same algorithm the Spark side's connected_components runs:
neighbor-min + pointer-jump per round, O(log diameter) rounds), which
spills fine.  Soundness of the restatement is pinned by running the
staged oracle against the REGISTERED oracle at sf0.01 first — any
drift fails loudly before the sf1 run spends minutes.

The staged closure materializes `reach(node, r)` with ONE row per node
(node, component-min).  Every registered suffix consumes reach only as
`MIN(r) ... GROUP BY node`, for which the single-row form is
equivalent.

Usage:
    python scripts/sf1_closure_check.py                 # validate + sf1
    python scripts/sf1_closure_check.py --validate-only # sf0.01 pin only
"""

from __future__ import annotations

import json
import math
import os
import sys
import time

import duckdb

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from fanstats_producer_spark import registry
from fanstats_producer_spark.io import TABLES

registry.load_all()

SF001 = "/root/testdata/sf0.01"
SF1 = os.path.join(ROOT, "localdata", "sf1")
KEYS = ["x04e_dedup_clusters", "x59_verified_dedup", "x61_semdedup",
        "x60_verify_gate_effect", "x96_image_cluster_dedup"]


def _connect(sf_dir: str) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    con.execute("SET temp_directory='/tmp/duckdb_spill'")
    con.execute("SET preserve_insertion_order=false")
    # an explicit ceiling makes spillable operators spill EARLY instead
    # of racing the default 80%-of-RAM limit against Spark's JVM (the
    # sf10 x59 staged oracle hard-OOMed without it; with it, whatever
    # still fails is genuinely unspillable state — the honest signal).
    # Derived from the host, not hardcoded (ADVICE r12): a flat 60GB on
    # a <75GB host would RAISE the ceiling above DuckDB's default 80%
    # and make hard-OOM more likely — the opposite of the intent.
    # Override with SPARK_GRAFT_DUCKDB_MEM if needed.
    limit = os.environ.get("SPARK_GRAFT_DUCKDB_MEM")
    if not limit:
        try:
            with open("/proc/meminfo") as mf:
                kb = int(
                    next(ln for ln in mf if ln.startswith("MemTotal")).split()[1]
                )
            limit = f"{min(60, max(1, int(kb / 1024 / 1024 * 0.6)))}GB"
        except (OSError, StopIteration, ValueError):
            limit = "60GB"
    con.execute(f"SET memory_limit='{limit}'")
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'"
        )
    return con


def _split_edges_prefix(oracle_sql: str) -> tuple[str, str]:
    """Split a registered closure oracle into (edges-producing query,
    suffix after the recursive reach block).  The four oracles share
    the exact `edges AS (...)` / `reach(node, r) AS (...)` idiom."""
    pre, rest = oracle_sql.split("edges AS (", 1)
    body, rest2 = rest.split("),\n    reach", 1)
    edges_query = (
        pre.replace("WITH RECURSIVE", "WITH", 1)
        + "edges AS ("
        + body
        + ")\n    SELECT src, dst FROM edges"
    )
    # rest2 = "(node, r) AS ( ... ON e.dst = r.node)<suffix>"
    _, suffix = rest2.split("ON e.dst = r.node)", 1)
    return edges_query, suffix


def _iterative_closure(con: duckdb.DuckDBPyConnection) -> int:
    """Temp table `edges(src, dst)` (both directions) -> temp table
    `reach(node, r)` with one row per node holding its component min.
    Neighbor-min propagation + pointer jump per round — the exact
    algorithm operators/dedup.py::connected_components runs."""
    con.execute("DROP TABLE IF EXISTS lbl")
    con.execute(
        "CREATE TEMP TABLE lbl AS SELECT DISTINCT src AS node, src AS label"
        " FROM edges"
    )
    prev = None
    rounds = 0
    while True:
        rounds += 1
        con.execute(
            """
            CREATE TEMP TABLE lbl_p AS
            SELECT l.node,
                   LEAST(l.label, COALESCE(nm.m, l.label)) AS label
            FROM lbl l LEFT JOIN (
              SELECT e.src AS node, MIN(lb.label) AS m
              FROM edges e JOIN lbl lb ON lb.node = e.dst
              GROUP BY e.src) nm USING (node)
            """
        )
        con.execute(
            """
            CREATE TEMP TABLE lbl_j AS
            SELECT l.node, COALESCE(p.label, l.label) AS label
            FROM lbl_p l LEFT JOIN lbl_p p ON p.node = l.label
            """
        )
        con.execute("DROP TABLE lbl")
        con.execute("DROP TABLE lbl_p")
        con.execute("ALTER TABLE lbl_j RENAME TO lbl")
        cur = con.execute("SELECT SUM(label) FROM lbl").fetchone()[0]
        if cur == prev:
            break
        prev = cur
        if rounds > 60:
            raise RuntimeError("closure did not converge")
    con.execute("DROP TABLE IF EXISTS reach")
    con.execute(
        "CREATE TEMP TABLE reach AS SELECT node, label AS r FROM lbl"
    )
    con.execute("DROP TABLE lbl")
    return rounds


def staged_oracle(con: duckdb.DuckDBPyConnection, key: str):
    """Evaluate the registered oracle via staged temp tables; returns
    (columns, rows)."""
    if key == "x61_semdedup":
        # bespoke staging: the suffix references the prefix CTE `asg`
        # (the k-means assignment — also the expensive stage), so
        # materialize it once as a temp table and restate the rest of
        # the registered oracle around it verbatim.
        from fanstats_producer_spark.operators.dedup import _X61_THRESHOLD
        import fanstats_producer_spark.operators.clustering  # noqa: F401

        x24 = registry.ORACLE["x24_kmeans"]
        con.execute("DROP TABLE IF EXISTS asg")
        con.execute(
            f"CREATE TEMP TABLE asg AS SELECT vec_id, cluster_id AS cid,"
            f" dist2_e6 FROM ({x24})"
        )
        con.execute("DROP TABLE IF EXISTS edges")
        con.execute(
            f"""
            CREATE TEMP TABLE edges AS
            WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS v
                       FROM embeddings),
            pairs AS (
              SELECT a.vec_id AS id_a, b.vec_id AS id_b
              FROM asg a JOIN asg b ON a.cid = b.cid
                                   AND a.vec_id < b.vec_id
              JOIN v va ON va.vec_id = a.vec_id
              JOIN v vb ON vb.vec_id = b.vec_id
              WHERE list_cosine_similarity(va.v, vb.v) >= {_X61_THRESHOLD})
            SELECT id_a AS src, id_b AS dst FROM pairs
            UNION SELECT id_b, id_a FROM pairs
            """
        )
        _iterative_closure(con)
        res = con.execute(
            """
            WITH cl AS (SELECT node, MIN(r) AS cluster_id FROM reach
                        GROUP BY node),
            merged AS (
              SELECT asg.vec_id,
                     COALESCE(cl.cluster_id, asg.vec_id) AS sem_cluster,
                     asg.dist2_e6
              FROM asg LEFT JOIN cl ON cl.node = asg.vec_id),
            ranked AS (
              SELECT vec_id, sem_cluster, dist2_e6,
                     row_number() OVER (PARTITION BY sem_cluster
                                        ORDER BY dist2_e6 DESC, vec_id)
                       AS rn
              FROM merged)
            SELECT vec_id, CAST(sem_cluster AS BIGINT) AS sem_cluster,
                   dist2_e6, (rn = 1) AS is_kept
            FROM ranked ORDER BY vec_id
            """
        )
        return [d[0] for d in res.description], res.fetchall()

    if key == "x60_verify_gate_effect":
        # no closure — the OOM risk is the three quadratic pair sets;
        # materialize each once (the registered oracle recomputes the
        # banding inside both x04d and x47) and run the tiny final
        # aggregation over them.
        x04 = registry.ORACLE["x04_neardup_jaccard"]
        x04d = registry.ORACLE["x04d_minhash_native"]
        x47 = registry.ORACLE["x47_edit_verify"]
        for name, src in (("exact_pairs", x04), ("banded", x04d),
                          ("verified", x47)):
            con.execute(f"DROP TABLE IF EXISTS {name}")
            con.execute(
                f"CREATE TEMP TABLE {name} AS SELECT id_a, id_b FROM ({src})"
            )
        res = con.execute(
            """
            WITH base AS (
              SELECT COALESCE(e.id_a, b.id_a) AS id_a,
                     COALESCE(e.id_b, b.id_b) AS id_b,
                     (e.id_a IS NOT NULL) AS in_exact,
                     (b.id_a IS NOT NULL) AS in_banded
              FROM exact_pairs e
              FULL OUTER JOIN banded b
                ON e.id_a = b.id_a AND e.id_b = b.id_b),
            j AS (
              SELECT base.in_exact, base.in_banded,
                     (v.id_a IS NOT NULL) AS in_ver
              FROM base LEFT JOIN verified v
                ON base.id_a = v.id_a AND base.id_b = v.id_b)
            SELECT COUNT(*) FILTER (WHERE in_banded) AS n_banded,
                   COUNT(*) FILTER (WHERE in_ver) AS n_verified,
                   CAST(floor(CAST(COUNT(*) FILTER (WHERE in_exact AND in_banded) AS DOUBLE)
                        / greatest(COUNT(*) FILTER (WHERE in_banded), 1) * 1e6 + 0.5)
                        AS BIGINT) AS banded_precision_e6,
                   CAST(floor(CAST(COUNT(*) FILTER (WHERE in_exact AND in_ver) AS DOUBLE)
                        / greatest(COUNT(*) FILTER (WHERE in_ver), 1) * 1e6 + 0.5)
                        AS BIGINT) AS verified_precision_e6,
                   CAST(floor(CAST(COUNT(*) FILTER (WHERE in_exact AND in_banded) AS DOUBLE)
                        / greatest(COUNT(*) FILTER (WHERE in_exact), 1) * 1e6 + 0.5)
                        AS BIGINT) AS banded_recall_e6,
                   CAST(floor(CAST(COUNT(*) FILTER (WHERE in_exact AND in_ver) AS DOUBLE)
                        / greatest(COUNT(*) FILTER (WHERE in_exact), 1) * 1e6 + 0.5)
                        AS BIGINT) AS verified_recall_e6
            FROM j
            """
        )
        return [d[0] for d in res.description], res.fetchall()

    # x04e / x59: generic surgery — their suffixes reference only
    # `reach` and base views, never a prefix CTE.
    edges_query, suffix = _split_edges_prefix(registry.ORACLE[key])
    con.execute("DROP TABLE IF EXISTS edges")
    con.execute(f"CREATE TEMP TABLE edges AS {edges_query}")
    _iterative_closure(con)
    if suffix.lstrip().startswith(","):
        final = "WITH " + suffix.lstrip().lstrip(",")
    else:
        final = suffix
    res = con.execute(final)
    return [d[0] for d in res.description], res.fetchall()


def _canon(v):
    if isinstance(v, float):
        return "NaN" if math.isnan(v) else f"{v:.9g}"
    if isinstance(v, bool):
        return str(v)
    return repr(v)


def canon_rows(cols, rows):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    out = sorted(tuple(_canon(r[i]) for i in order) for r in rows)
    return sorted(cols), out


def validate_staged(keys=KEYS) -> bool:
    """Pin staged == registered at sf0.01 (where the registered
    recursive oracle still runs)."""
    ok = True
    con = _connect(SF001)
    for key in keys:
        t0 = time.time()
        sc, sr = canon_rows(*staged_oracle(con, key))
        res = con.execute(registry.ORACLE[key])
        rc, rr = canon_rows([d[0] for d in res.description], res.fetchall())
        good = sc == rc and sr == rr
        ok &= good
        print(f"{'PIN-OK' if good else 'PIN-FAIL'} {key}: staged "
              f"{'==' if good else '!='} registered at sf0.01 "
              f"({len(sr)} rows, {time.time()-t0:.1f}s)")
    con.close()
    return ok


def sf1_check(keys=KEYS) -> dict:
    from fanstats_producer_spark.session import get_spark

    spark = get_spark("sf1-closure-check")
    results = {}
    for key in keys:
        t0 = time.time()
        sdf = registry.QUERIES[key](spark, SF1)
        scols, srows = canon_rows(
            sdf.columns, [tuple(r) for r in sdf.collect()]
        )
        t_spark = time.time() - t0
        t0 = time.time()
        con = _connect(SF1)
        try:
            ocols, orows = canon_rows(*staged_oracle(con, key))
        finally:
            con.close()
        t_oracle = time.time() - t0
        match = scols == ocols and srows == orows
        results[key] = {
            "match": match,
            "rows": len(srows),
            "spark_sec": round(t_spark, 1),
            "staged_oracle_sec": round(t_oracle, 1),
        }
        print(f"{'SF1-OK' if match else 'SF1-FAIL'} {key}: "
              f"{len(srows)} rows, spark {t_spark:.1f}s, "
              f"staged oracle {t_oracle:.1f}s")
    return results


def main() -> int:
    os.makedirs("/tmp/duckdb_spill", exist_ok=True)
    if not validate_staged():
        print("staged-oracle pin FAILED — not running sf1")
        return 1
    if "--validate-only" in sys.argv:
        return 0
    results = sf1_check()
    print(json.dumps(results))
    out = os.environ.get(
        "SF1_CLOSURE_OUT", os.path.join(ROOT, "SF1_CLOSURE_LATEST.json")
    )
    with open(out, "w") as f:
        json.dump(results, f, indent=1)
    return 0 if all(r["match"] for r in results.values()) else 1


if __name__ == "__main__":
    raise SystemExit(main())
