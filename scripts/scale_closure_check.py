"""Scale-proof harness for the heavy dedup/ANN family at ANY locally
generated SF (VERDICT r11 item 1 — sf10): the sf1 closure harness
generalized to a target fixture dir, with incremental per-key output
so a long run commits partial evidence.

Two key classes:
- closure keys (x04e/x59/x60/x61/x96): DuckDB's recursive-CTE oracles
  OOM past sf0.1, so the oracle side runs sf1_closure_check's STAGED
  restatement (temp-table edges + iterative min-label propagation —
  the same algorithm the Spark side runs), whose equivalence to the
  registered oracle is pinned at sf0.01 first.
- plain keys (x68/x74/s26b by default): the REGISTERED oracle runs
  directly against the target SF.

Usage:
    python scripts/scale_closure_check.py --sf-dir localdata/sf10 \
        --out SF10_CLOSURE.json
    # subset / reorder:
    python scripts/scale_closure_check.py --sf-dir localdata/sf10 \
        --keys x59_verified_dedup,x61_semdedup --plain ''

Keys run cheapest-first (measured at sf1) so partial results carry the
most coverage per minute; every key's result is flushed to --out as it
lands.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

_HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(_HERE)
sys.path.insert(0, ROOT)
sys.path.insert(0, _HERE)

from sf1_closure_check import (  # noqa: E402
    _connect,
    canon_rows,
    staged_oracle,
    validate_staged,
)

from fanstats_producer_spark import registry  # noqa: E402

registry.load_all()

# cheapest-first by measured sf1 cost (spark + staged oracle seconds:
# x59 151, x61 124, x60 407, x96 430, x04e 665)
CLOSURE_KEYS = [
    "x59_verified_dedup",
    "x61_semdedup",
    "x60_verify_gate_effect",
    "x96_image_cluster_dedup",
    "x04e_dedup_clusters",
]
PLAIN_KEYS = [
    "x68_substring_dup",
    "x74_containment_dup",
    "s26b_stream_decontam_large_eval",
]

# --- staged restatements for PLAIN keys whose registered oracle has a
# shape that cannot finish at the probe SF (same protocol as the
# closure keys: pinned staged==registered at sf0.01 before use).
#
# s26b: the registered oracle ranks the full |stream|x|evals| scored
# relation with row_number() OVER (PARTITION BY vec_id ORDER BY
# sim_e6 DESC, eval_id) — a window that must MATERIALIZE the quadratic
# relation (measured at sf10: 1e10 rows, >50 min spilling, unfinished).
# The per-vector argmax is equivalently MIN over the composite integer
# (1e6 − sim_e6)·1e10 + eval_id — the Spark arm's own decode — which
# hash-aggregates in |vectors| state and streams the cross join
# without materializing it.  Equivalence: sim DESC, eval_id ASC
# lexicographic order == composite ascending order because
# (1e6 − sim_e6) ∈ [0, 2e6] and eval_id < 1e10 never carries.


def _s26b_staged_sql() -> str:
    from fanstats_producer_spark.operators.similarity import _X66_THRESH_E6

    return f"""
    WITH e AS (SELECT vec_id AS eval_id, embedding::DOUBLE[] AS ev
               FROM embeddings WHERE vec_id % 2 = 0),
         c AS (SELECT vec_id, embedding::DOUBLE[] AS v
               FROM embeddings WHERE vec_id % 2 = 1),
         agg AS (
           SELECT c.vec_id,
                  MIN((1000000 - CAST(floor(
                        list_cosine_similarity(c.v, e.ev) * 1e6 + 0.5)
                      AS BIGINT)) * 10000000000 + e.eval_id) AS comp
           FROM c CROSS JOIN e GROUP BY c.vec_id)
    SELECT vec_id,
           comp % 10000000000 AS nearest_eval_id,
           1000000 - comp // 10000000000 AS max_sim_e6,
           CAST((1000000 - comp // 10000000000) >= {_X66_THRESH_E6}
                AS INT) AS contaminated
    FROM agg
    """


STAGED_PLAIN = {"s26b_stream_decontam_large_eval": _s26b_staged_sql}


# --- DEEP staging (VERDICT r12 item 1) --------------------------------------
# At sf10 the sf1-grade staged oracles still build each EDGE SET in one
# statement (the whole shingle -> minhash -> band -> est -> levenshtein
# pipeline as nested CTEs): DuckDB holds several materialized CTEs of
# the 500k-doc run live at once and the x59 attempt died with "Failed
# to allocate block" even at memory_limit=60GB.  Deep staging
# materializes EVERY pipeline stage as its own temp table and drops its
# inputs immediately, so the live working set is one stage, each
# individually spillable.  x96 additionally replaces the registered
# all-pairs hamming join (O(n^2) = 1.25e11 comparisons at sf10) with
# the pigeonhole-exact 9-band pre-filter the Spark arm uses (hamming
# <= 8 over 9 disjoint bands => at least one band matches exactly), then
# verifies bit_count(xor()) <= 8 on the bounded candidate list.
# Protocol unchanged: every deep restatement is pinned row-identical to
# the REGISTERED oracle at sf0.01 before any scale run.


def _ds(con, name: str, sql: str) -> None:
    con.execute(f"DROP TABLE IF EXISTS {name}")
    con.execute(f"CREATE TEMP TABLE {name} AS {sql}")


def _stage_sigl(con) -> None:
    """documents -> t_sigl(doc_id, sig) — the x04d 64-perm MinHash
    signature list, staged as hash table then signature rollup.
    Expressions verbatim from the registered x04d oracle."""
    _ds(
        con,
        "t_post",
        """
        SELECT doc_id,
               CAST(('0x' || substr(md5(shingle), 1, 15)) AS BIGINT)
                 % 2147483647 AS wm
        FROM (
          SELECT doc_id, unnest(shingles) AS shingle FROM (
            SELECT doc_id,
                   list_distinct(list_transform(
                     range(1, greatest(len(toks) - 1, 1)),
                     i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]))
                     AS shingles
            FROM (SELECT doc_id, string_split(text, ' ') AS toks
                  FROM documents)
            WHERE len(toks) >= 3))
        """,
    )
    _ds(
        con,
        "t_sigl",
        """
        SELECT doc_id, list(h ORDER BY i) AS sig FROM (
          SELECT doc_id, i,
                 MIN(((i * 2654435761 + 1) % 2147483647 * wm
                      + (i * 40503 + 12345) % 2147483647) % 2147483647) AS h
          FROM t_post CROSS JOIN range(64) AS t(i)
          GROUP BY doc_id, i)
        GROUP BY doc_id
        """,
    )
    con.execute("DROP TABLE t_post")


def _stage_banded(con) -> None:
    """t_sigl -> banded(id_a, id_b, est_jaccard_e6) — the x04d result
    (16 bands x 4 rows, distinct candidates, signature-estimate filter
    est >= 0.5), each stage its own table."""
    _ds(
        con,
        "t_bands",
        """
        SELECT doc_id, b, sig[4 * b + 1] AS v1, sig[4 * b + 2] AS v2,
               sig[4 * b + 3] AS v3, sig[4 * b + 4] AS v4
        FROM t_sigl CROSS JOIN range(16) AS t(b)
        """,
    )
    _ds(
        con,
        "t_cand",
        """
        SELECT DISTINCT a.doc_id AS id_a, c.doc_id AS id_b
        FROM t_bands a JOIN t_bands c
          ON a.b = c.b AND a.v1 = c.v1 AND a.v2 = c.v2
             AND a.v3 = c.v3 AND a.v4 = c.v4
             AND a.doc_id < c.doc_id
        """,
    )
    con.execute("DROP TABLE t_bands")
    _ds(
        con,
        "banded",
        """
        SELECT id_a, id_b,
               CAST(floor(est_jaccard * 1e6 + 0.5) AS BIGINT)
                 AS est_jaccard_e6
        FROM (
          SELECT id_a, id_b,
                 round(len(list_filter(list_zip(sa.sig, sb.sig),
                                       p -> p[1] = p[2])) / 64.0, 6)
                   AS est_jaccard
          FROM t_cand
          JOIN t_sigl sa ON sa.doc_id = id_a
          JOIN t_sigl sb ON sb.doc_id = id_b)
        WHERE est_jaccard >= 0.5
        """,
    )
    con.execute("DROP TABLE t_cand")


def _stage_verified(con) -> None:
    """banded -> verified — the x47 levenshtein gate over the bounded
    candidate list (expressions verbatim from the registered x47)."""
    _ds(
        con,
        "verified",
        """
        SELECT id_a, id_b, est_jaccard_e6,
               CAST(edit_dist AS BIGINT) AS edit_dist,
               CAST(floor(edit_dist * 1e6 / maxlen + 0.5) AS BIGINT)
                 AS rel_edit_e6
        FROM (
          SELECT c.id_a, c.id_b, c.est_jaccard_e6,
                 levenshtein(da.text, db.text) AS edit_dist,
                 greatest(len(da.text), len(db.text), 1) AS maxlen
          FROM banded c
          JOIN documents da ON da.doc_id = c.id_a
          JOIN documents db ON db.doc_id = c.id_b)
        WHERE 5 * edit_dist <= 2 * maxlen
        """,
    )


def _stage_exact(con) -> None:
    """documents -> exact_pairs(id_a, id_b) — the x04 exact-Jaccard
    pair set (shared by x04e's edges: identical shingling, identical
    quantize-then-compare threshold)."""
    _ds(
        con,
        "t_shsz",
        """
        SELECT doc_id,
               list_distinct(list_transform(
                 range(1, greatest(len(toks) - 1, 1)),
                 i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]))
                 AS shingles
        FROM (SELECT doc_id, string_split(text, ' ') AS toks FROM documents)
        """,
    )
    _ds(con, "t_postx", "SELECT doc_id, unnest(shingles) AS shingle FROM t_shsz")
    _ds(con, "t_sizes", "SELECT doc_id, len(shingles) AS n_sh FROM t_shsz")
    con.execute("DROP TABLE t_shsz")
    _ds(
        con,
        "exact_pairs",
        """
        SELECT id_a, id_b FROM (
          SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS n_inter
          FROM t_postx a JOIN t_postx b
            ON a.shingle = b.shingle AND a.doc_id < b.doc_id
          GROUP BY 1, 2) inter
        JOIN t_sizes sa ON sa.doc_id = id_a
        JOIN t_sizes sb ON sb.doc_id = id_b
        WHERE CAST(floor(CAST(n_inter AS DOUBLE)
                         / (sa.n_sh + sb.n_sh - n_inter) * 1e6 + 0.5)
                   AS BIGINT) >= 500000
        """,
    )
    con.execute("DROP TABLE t_postx")
    con.execute("DROP TABLE t_sizes")


def _stage_phash_pairs(con) -> None:
    """documents -> t_vp(id_a, id_b) — x96's hamming<=8 pair set.  The
    DCT/pHash prefix is reused VERBATIM from the registered oracle
    (sliced at its vp CTE); the all-pairs join is replaced by the
    pigeonhole-exact 9-band candidate pre-filter (8+7x8 = 64 bits;
    hamming <= 8 can touch at most 8 bands, so >= 1 band is equal) and
    the registered bit_count(xor()) <= 8 verify on the candidates."""
    o = registry.ORACLE["x96_image_cluster_dedup"]
    pre = o.split("vp AS (")[0].rstrip().rstrip(",")
    hashes_sql = (
        pre.replace("WITH RECURSIVE", "WITH", 1)
        + "\n    SELECT doc_id, ph FROM hashes"
    )
    _ds(con, "t_hashes", hashes_sql)
    # ph rides INTO the band table so the hamming predicate can run
    # INSIDE the band join, before the DISTINCT — same filter-first
    # shape as the Spark arm (the DISTINCT over raw banding candidates
    # is ~8.7e9 rows at sf10; the survivors are ~1e-3 of that).
    _ds(
        con,
        "t_hbands",
        """
        SELECT doc_id, ph, b,
               CASE WHEN b = 0 THEN ph & 255
                    ELSE (ph >> (8 + (b - 1) * 7)) & 127 END AS bv
        FROM t_hashes CROSS JOIN range(9) AS t(b)
        """,
    )
    _ds(
        con,
        "t_vp",
        """
        SELECT DISTINCT a.doc_id AS id_a, c.doc_id AS id_b
        FROM t_hbands a JOIN t_hbands c
          ON a.b = c.b AND a.bv = c.bv AND a.doc_id < c.doc_id
        WHERE bit_count(xor(a.ph, c.ph)) <= 8
        """,
    )
    con.execute("DROP TABLE t_hbands")
    con.execute("DROP TABLE t_hashes")


def _run_suffix(con, key: str):
    """Run the registered oracle's post-closure suffix against the
    staged `reach` temp table (same mechanics as the sf1 harness)."""
    from sf1_closure_check import _split_edges_prefix

    _, suffix = _split_edges_prefix(registry.ORACLE[key])
    if suffix.lstrip().startswith(","):
        final = "WITH " + suffix.lstrip().lstrip(",")
    else:
        final = suffix
    res = con.execute(final)
    return [d[0] for d in res.description], res.fetchall()


def _deep_x59(con):
    from sf1_closure_check import _iterative_closure

    _stage_sigl(con)
    _stage_banded(con)
    _stage_verified(con)
    con.execute("DROP TABLE t_sigl")
    _ds(
        con,
        "edges",
        "SELECT id_a AS src, id_b AS dst FROM verified"
        " UNION SELECT id_b, id_a FROM verified",
    )
    _iterative_closure(con)
    return _run_suffix(con, "x59_verified_dedup")


def _deep_x04e(con):
    from sf1_closure_check import _iterative_closure

    _stage_exact(con)
    _ds(
        con,
        "edges",
        "SELECT id_a AS src, id_b AS dst FROM exact_pairs"
        " UNION SELECT id_b, id_a FROM exact_pairs",
    )
    _iterative_closure(con)
    return _run_suffix(con, "x04e_dedup_clusters")


def _deep_x96(con):
    from sf1_closure_check import _iterative_closure

    _stage_phash_pairs(con)
    _ds(
        con,
        "edges",
        "SELECT id_a AS src, id_b AS dst FROM t_vp"
        " UNION SELECT id_b, id_a FROM t_vp",
    )
    con.execute("DROP TABLE t_vp")
    _iterative_closure(con)
    return _run_suffix(con, "x96_image_cluster_dedup")


def _deep_x60(con):
    # three staged pair sets, then the tiny final aggregation (verbatim
    # from the sf1 harness's x60 branch, which reads these table names)
    _stage_exact(con)
    _stage_sigl(con)
    _stage_banded(con)
    _stage_verified(con)
    con.execute("DROP TABLE t_sigl")
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


DEEP_STAGED = {
    "x59_verified_dedup": _deep_x59,
    "x04e_dedup_clusters": _deep_x04e,
    "x96_image_cluster_dedup": _deep_x96,
    "x60_verify_gate_effect": _deep_x60,
}


def validate_deep_staged(keys: list[str]) -> bool:
    """Pin each deep restatement row-identical to the REGISTERED oracle
    at sf0.01."""
    import sf1_closure_check as s1

    ok = True
    for key in keys:
        if key not in DEEP_STAGED:
            continue
        con = _connect(s1.SF001)
        try:
            t0 = time.time()
            sc, sr = canon_rows(*DEEP_STAGED[key](con))
            res = con.execute(registry.ORACLE[key])
            rc, rr = canon_rows(
                [d[0] for d in res.description], res.fetchall()
            )
        finally:
            con.close()
        good = sc == rc and sr == rr
        ok &= good
        print(
            f"{'PIN-OK' if good else 'PIN-FAIL'} {key}: deep-staged "
            f"{'==' if good else '!='} registered at sf0.01 "
            f"({len(sr)} rows, {time.time() - t0:.1f}s)"
        )
    return ok


def validate_staged_plain(keys: list[str]) -> bool:
    """Pin each staged-plain restatement against the REGISTERED oracle
    at sf0.01 (where the registered shape still runs)."""
    import sf1_closure_check as s1

    ok = True
    con = _connect(s1.SF001)
    try:
        for key in keys:
            if key not in STAGED_PLAIN:
                continue
            res = con.execute(STAGED_PLAIN[key]())
            sc, sr = canon_rows(
                [d[0] for d in res.description], res.fetchall()
            )
            res = con.execute(registry.ORACLE[key])
            rc, rr = canon_rows(
                [d[0] for d in res.description], res.fetchall()
            )
            good = sc == rc and sr == rr
            ok &= good
            print(
                f"{'PIN-OK' if good else 'PIN-FAIL'} {key}: staged-plain "
                f"{'==' if good else '!='} registered at sf0.01"
            )
    finally:
        con.close()
    return ok


def run_key_phased(
    spark,
    sf_dir: str,
    key: str,
    staged: bool,
    deep: bool,
    phase: str,
    canon_dir: str,
) -> dict:
    """Two-phase variant (round 13): --phase spark runs ONLY the Spark
    arm and pickles its canonical rows + timing under canon_dir;
    --phase oracle loads that pickle, runs the oracle arm, and emits
    the final record.  Lets the hour-scale oracle grind be scheduled
    away from quiet-host timing windows without losing the Spark
    evidence (the r12 lesson: evidence must survive arm boundaries)."""
    import pickle

    os.makedirs(canon_dir, exist_ok=True)
    pkl = os.path.join(canon_dir, f"{key}.pkl")
    if phase == "spark":
        t0 = time.time()
        try:
            sdf = registry.QUERIES[key](spark, sf_dir)
            scols, srows = canon_rows(
                sdf.columns, [tuple(r) for r in sdf.collect()]
            )
        except Exception as e:
            return {
                "match": False,
                "spark_error": f"{type(e).__name__}: {str(e)[:300]}",
                "spark_sec": round(time.time() - t0, 1),
            }
        t_spark = time.time() - t0
        with open(pkl, "wb") as f:
            pickle.dump((scols, srows, t_spark), f)
        return {
            "match": "pending-oracle",
            "rows": len(srows),
            "spark_sec": round(t_spark, 1),
        }
    # phase == "oracle"
    with open(pkl, "rb") as f:
        scols, srows, t_spark = pickle.load(f)
    deep = deep and key in DEEP_STAGED
    okey = (
        ("deep_staged_oracle_sec" if deep else "staged_oracle_sec")
        if staged
        else ("staged_plain_oracle_sec" if key in STAGED_PLAIN else "oracle_sec")
    )
    t0 = time.time()
    try:
        con = _connect(sf_dir)
    except Exception as e:
        return {
            "match": False,
            "rows": len(srows),
            "spark_sec": round(t_spark, 1),
            "oracle_error": f"{type(e).__name__}: {str(e)[:300]}",
            okey: round(time.time() - t0, 1),
        }
    try:
        if deep:
            ocols, orows = canon_rows(*DEEP_STAGED[key](con))
        elif staged:
            ocols, orows = canon_rows(*staged_oracle(con, key))
        else:
            sql = (
                STAGED_PLAIN[key]()
                if key in STAGED_PLAIN
                else registry.ORACLE[key]
            )
            res = con.execute(sql)
            ocols, orows = canon_rows(
                [d[0] for d in res.description], res.fetchall()
            )
    except Exception as e:
        return {
            "match": False,
            "rows": len(srows),
            "spark_sec": round(t_spark, 1),
            "oracle_error": f"{type(e).__name__}: {str(e)[:300]}",
            okey: round(time.time() - t0, 1),
        }
    finally:
        con.close()
    return {
        "match": scols == ocols and srows == orows,
        "rows": len(srows),
        "spark_sec": round(t_spark, 1),
        okey: round(time.time() - t0, 1),
    }


def run_key(spark, sf_dir: str, key: str, staged: bool, deep: bool = False) -> dict:
    """Spark arm, then oracle arm, each timed and error-isolated: an
    oracle that cannot finish at this SF (the x59-at-sf10 finding —
    DuckDB OOM in the STAGED closure, one staging level past the
    recursive-CTE OOM at sf1) must still leave the Spark side's
    completion time and row count in the record, because 'Spark
    finishes, the single-node oracle does not' IS the scale result."""
    t0 = time.time()
    try:
        sdf = registry.QUERIES[key](spark, sf_dir)
        scols, srows = canon_rows(
            sdf.columns, [tuple(r) for r in sdf.collect()]
        )
    except Exception as e:
        return {
            "match": False,
            "spark_error": f"{type(e).__name__}: {str(e)[:300]}",
            "spark_sec": round(time.time() - t0, 1),
        }
    t_spark = time.time() - t0
    t0 = time.time()
    deep = deep and key in DEEP_STAGED
    okey = (
        ("deep_staged_oracle_sec" if deep else "staged_oracle_sec")
        if staged
        else ("staged_plain_oracle_sec" if key in STAGED_PLAIN else "oracle_sec")
    )
    # _connect itself can fail under memory pressure (ADVICE r12: the
    # x59-at-sf10 record lost its spark_sec exactly this way) — treat a
    # connect failure like any other oracle-arm failure so the Spark
    # side's completion evidence survives.
    try:
        con = _connect(sf_dir)
    except Exception as e:
        return {
            "match": False,
            "rows": len(srows),
            "spark_sec": round(t_spark, 1),
            "oracle_error": f"{type(e).__name__}: {str(e)[:300]}",
            okey: round(time.time() - t0, 1),
        }
    try:
        if deep:
            ocols, orows = canon_rows(*DEEP_STAGED[key](con))
        elif staged:
            ocols, orows = canon_rows(*staged_oracle(con, key))
        else:
            sql = (
                STAGED_PLAIN[key]()
                if key in STAGED_PLAIN
                else registry.ORACLE[key]
            )
            res = con.execute(sql)
            ocols, orows = canon_rows(
                [d[0] for d in res.description], res.fetchall()
            )
    except Exception as e:
        return {
            "match": False,
            "rows": len(srows),
            "spark_sec": round(t_spark, 1),
            "oracle_error": f"{type(e).__name__}: {str(e)[:300]}",
            okey: round(time.time() - t0, 1),
        }
    finally:
        con.close()
    t_oracle = time.time() - t0
    return {
        "match": scols == ocols and srows == orows,
        "rows": len(srows),
        "spark_sec": round(t_spark, 1),
        okey: round(t_oracle, 1),
    }


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf-dir", default=os.path.join(ROOT, "localdata", "sf10"))
    ap.add_argument("--out", default=os.path.join(ROOT, "SF10_CLOSURE.json"))
    ap.add_argument("--keys", default=",".join(CLOSURE_KEYS))
    ap.add_argument("--plain", default=",".join(PLAIN_KEYS))
    ap.add_argument(
        "--no-validate",
        action="store_true",
        help="skip the sf0.01 staged==registered pin (already pinned)",
    )
    ap.add_argument(
        "--deep",
        action="store_true",
        help="use the per-stage-materialized DEEP restatements for the"
        " closure keys that have one (sf10 memory envelope)",
    )
    ap.add_argument(
        "--phase",
        choices=["both", "spark", "oracle"],
        default="both",
        help="run only one arm; 'spark' pickles canonical rows under"
        " --canon-dir, 'oracle' loads them and writes the final record",
    )
    ap.add_argument("--canon-dir", default="/tmp/scale_canon")
    args = ap.parse_args()

    closure = [k for k in args.keys.split(",") if k]
    plain = [k for k in args.plain.split(",") if k]

    os.makedirs("/tmp/duckdb_spill", exist_ok=True)
    if closure and not args.no_validate:
        if args.deep:
            if not validate_deep_staged(closure):
                print("deep-staged pin FAILED — not running the scale sweep")
                return 1
            shallow = [k for k in closure if k not in DEEP_STAGED]
        else:
            shallow = closure
        if shallow and not validate_staged(shallow):
            print("staged-oracle pin FAILED — not running the scale sweep")
            return 1
    # staged-plain pins are cheap and not covered by --no-validate's
    # "already pinned" assumption — always run them
    if not validate_staged_plain(plain):
        print("staged-plain pin FAILED — not running the scale sweep")
        return 1

    from fanstats_producer_spark.session import get_spark

    def _fresh_spark():
        return get_spark("scale-closure-check")

    def _ensure_alive(spark):
        """A heap-OOM in one key's Spark arm shuts the whole
        SparkContext down (observed: x60 at sf10), and every later
        key then fails with 'SparkContext was shut down' — cascade
        errors, not evidence.  Probe the session before each key and
        rebuild it if dead."""
        try:
            spark.sql("SELECT 1").collect()
            return spark
        except Exception:
            print("SparkContext dead — rebuilding the session")
            try:
                spark.stop()
            except Exception:
                pass
            from pyspark.sql import SparkSession

            # clear the cached session so get_spark builds a new JVM
            SparkSession._instantiatedSession = None
            SparkSession._activeSession = None
            return _fresh_spark()

    spark = _fresh_spark()
    results: dict = {}
    if os.path.exists(args.out):
        with open(args.out) as f:
            results = json.load(f)

    def flush() -> None:
        with open(args.out, "w") as f:
            json.dump(results, f, indent=1)

    for key, staged in [(k, False) for k in plain] + [
        (k, True) for k in closure
    ]:
        if key in results and results[key].get("match") is True:
            print(f"SKIP {key}: already green in {args.out}")
            continue
        try:
            if args.phase != "both":
                if args.phase == "spark":
                    spark = _ensure_alive(spark)
                results[key] = run_key_phased(
                    spark,
                    args.sf_dir,
                    key,
                    staged,
                    args.deep,
                    args.phase,
                    args.canon_dir,
                )
            else:
                spark = _ensure_alive(spark)
                results[key] = run_key(spark, args.sf_dir, key, staged, args.deep)
        except Exception as e:  # keep sweeping; record the failure
            results[key] = {"match": False, "error": f"{type(e).__name__}: {e}"}
        flush()
        r = results[key]
        print(
            f"{'OK' if r['match'] else 'FAIL'} {key}: "
            + json.dumps(r, default=str)
        )
    flush()
    return 0 if all(r.get("match") for r in results.values()) else 1


if __name__ == "__main__":
    raise SystemExit(main())
