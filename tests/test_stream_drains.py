"""The stream-drain harness (streaming/driver_entries.py's two drain
helpers and jobs.py's one foreachBatch tail): drains leave nothing behind
in the session or on disk, and every foreachBatch job restarted from its
checkpoint ends where an uninterrupted drain of the same files ends.
"""

from __future__ import annotations

import functools
import json
import os

import pytest

from pyspark.sql import functions as F

from fanstats_producer_spark import registry
from fanstats_producer_spark.streaming import jobs

from conftest import SF_DIR
from test_oracle_parity import _canon


def _matches_oracle(key, spark, duck):
    sdf = registry.QUERIES[key](spark, SF_DIR)
    got = _canon(sdf.columns, [tuple(r) for r in sdf.collect()])
    res = duck.execute(registry.ORACLE[key])
    want = _canon([d[0] for d in res.description], res.fetchall())
    return got == want


def _views(spark):
    return {t.name for t in spark.catalog.listTables() if t.isTemporary}


def test_memory_drains_drop_their_sink_views(spark, duck):
    """A memory-sink drain registers a temp view named after its query;
    the drain hands back a frame bound to the sink and drops the view, so
    a long session (a bench pass, the perfbench xlayer loop) does not
    pile up one view, and its rows, per drain.  The returned frames still
    answer their oracle after the drop."""
    before = _views(spark)
    for key in ("s05_watermark", "s16_append_window"):
        assert _matches_oracle(key, spark, duck), key
    left = {v for v in _views(spark) - before if "_mem_" in v}
    assert not left, f"memory-sink views left in the session: {sorted(left)}"


def test_dir_drains_remove_their_work_dirs(spark, duck, tmp_path, monkeypatch):
    """s01's sink output and s09's state table, with both checkpoints,
    live in one scratch work dir per call; the drain materialises the
    result and removes the dir, so repeated calls do not grow scratch."""
    monkeypatch.setenv("SPARK_GRAFT_SCRATCH", str(tmp_path))
    for key in ("s01_stream_ingest", "s09_upsert_state"):
        assert _matches_oracle(key, spark, duck), key
    left = sorted(
        d for d in os.listdir(tmp_path) if d.startswith(("s01_", "s09_"))
    )
    assert not left, f"work dirs left in scratch: {left}"


# --- restart from checkpoint, one case per foreachBatch job -------------------


def _events():
    rows = [
        {
            "event_id": i,
            "ts": f"2024-01-01T{10 + i // 60:02d}:{i % 60:02d}:00Z",
            "user_id": i % 7,
            "event_type": ("click", "view", "purchase")[i % 3],
            "value": float((i * 37) % 200) / 2.0,
            "props": "{}",
        }
        for i in range(200)
    ]
    return jobs.EVENT_SCHEMA, rows[:100], rows[100:]


@functools.lru_cache(maxsize=None)
def _fixture_rows(table, key, n):
    import pyarrow.parquet as pq

    rows = pq.read_table(f"{SF_DIR}/{table}.parquet").to_pylist()
    return sorted(rows, key=lambda r: r[key])[:n]


def _docs():
    """Fixture documents; file B also re-sends ten file-A texts under new
    ids, so the dedup jobs must flag them from the state file A left."""
    docs = [
        {
            "doc_id": d["doc_id"],
            "ts": "2024-01-01T10:00:00Z",
            "text": d["text"],
            "lang": d["lang"],
        }
        for d in _fixture_rows("documents", "doc_id", 120)
    ]
    a, b = docs[:60], docs[60:]
    b += [{**d, "doc_id": d["doc_id"] + 10_000} for d in a[:10]]
    return jobs.DOCUMENT_SCHEMA, a, b


def _docs_by_source():
    rows = [
        {k: d[k] for k in ("doc_id", "text", "lang", "source")}
        for d in _fixture_rows("documents", "doc_id", 120)
    ]
    schema = "doc_id long, text string, lang string, source string"
    return schema, rows[:60], rows[60:]


def _vectors():
    rows = _fixture_rows("embeddings", "vec_id", 80)
    schema = "vec_id long, embedding array<float>, label int"
    return schema, rows[:40], rows[40:]


def _psi_reference(spark):
    _, a, b = _events()
    return (
        spark.createDataFrame(
            [(r["event_type"], int(r["value"] // 8)) for r in a + b],
            "event_type string, bucket long",
        )
        .groupBy("event_type", "bucket")
        .agg(F.count("*").alias("n_ref"))
    )


def _eval_vectors(spark):
    from fanstats_producer_spark.operators.similarity import _as_double

    _, a, b = _vectors()
    evals = [(r["vec_id"], r["embedding"]) for r in a + b if r["vec_id"] % 2 == 0]
    return spark.createDataFrame(evals, "eval_id long, ev array<float>").select(
        "eval_id", _as_double(F.col("ev")).alias("ev")
    )


#: job -> (input, start(spark, stream, path) -> StreamingQuery, output dirs)
_RESTART_JOBS = {
    "upsert_latest_per_key": (
        _events,
        lambda spark, s, p: jobs.upsert_latest_per_key(s, p("state"), p("ckpt")),
        ("state",),
    ),
    "streaming_near_dup": (
        _docs,
        lambda spark, s, p: jobs.streaming_near_dup(
            s, p("state"), p("verdicts"), p("ckpt")
        ),
        ("state", "verdicts"),
    ),
    "streaming_verified_near_dup": (
        _docs,
        lambda spark, s, p: jobs.streaming_verified_near_dup(
            s, p("state"), p("verdicts"), p("ckpt")
        ),
        ("state/buckets", "state/texts", "verdicts"),
    ),
    "streaming_phash_near_dup": (
        _docs,
        lambda spark, s, p: jobs.streaming_phash_near_dup(
            s, p("state"), p("verdicts"), p("ckpt")
        ),
        ("state", "verdicts"),
    ),
    "streaming_decontam_crossjoin": (
        _vectors,
        lambda spark, s, p: jobs.streaming_decontam_crossjoin(
            s.filter(F.col("vec_id") % 2 == 1).select("vec_id", "embedding"),
            _eval_vectors(spark),
            p("verdicts"),
            p("ckpt"),
            scorer="blas",
        ),
        ("verdicts",),
    ),
    "streaming_psi_drift": (
        _events,
        lambda spark, s, p: jobs.streaming_psi_drift(
            s, _psi_reference(spark), p("state"), p("monitor"), p("ckpt")
        ),
        ("state", "monitor"),
    ),
    "streaming_bloom_dedup": (
        _docs,
        lambda spark, s, p: jobs.streaming_bloom_dedup(
            s, p("state"), p("verdicts"), p("ckpt")
        ),
        ("state", "verdicts"),
    ),
    "streaming_sequence_packing": (
        _docs,
        lambda spark, s, p: jobs.streaming_sequence_packing(
            s, p("manifest"), p("state"), p("ckpt")
        ),
        ("state", "manifest"),
    ),
    "streaming_weighted_sample": (
        _docs,
        lambda spark, s, p: jobs.streaming_weighted_sample(s, p("state"), p("ckpt")),
        ("state",),
    ),
    "streaming_quantile_monitor": (
        _events,
        lambda spark, s, p: jobs.streaming_quantile_monitor(
            s, p("state"), p("ckpt")
        ),
        ("state",),
    ),
    "streaming_value_counts_monitor": (
        _events,
        lambda spark, s, p: jobs.streaming_value_counts_monitor(
            s, p("state"), p("ckpt")
        ),
        ("state",),
    ),
    "streaming_contingency_monitor": (
        _docs_by_source,
        lambda spark, s, p: jobs.streaming_contingency_monitor(
            s, p("state"), p("ckpt")
        ),
        ("state",),
    ),
    "streaming_embedding_drift_monitor": (
        _vectors,
        lambda spark, s, p: jobs.streaming_embedding_drift_monitor(
            s, p("state"), p("ckpt")
        ),
        ("state",),
    ),
}


def _land(landing, name, rows, mtime):
    path = os.path.join(landing, name)
    with open(path, "w") as f:
        for r in rows:
            f.write(json.dumps(r) + "\n")
    os.utime(path, (mtime, mtime))


def _data_batches(q):
    return sum(p["numInputRows"] > 0 for p in q.recentProgress)


def test_restart_jobs_cover_every_foreach_batch_job():
    """The restart cases below are the complete list: every public job in
    jobs.py whose source ends in the shared foreachBatch tail (s33's
    streaming_ks_monitor is a named call of the value-counts job)."""
    import inspect

    tails = {
        name
        for name, fn in vars(jobs).items()
        if inspect.isfunction(fn)
        and not name.startswith("_")
        and "_foreach_batch(" in inspect.getsource(fn)
    }
    assert tails == set(_RESTART_JOBS)


@pytest.mark.parametrize("job", sorted(_RESTART_JOBS))
def test_restart_from_checkpoint_matches_uninterrupted_drain(spark, tmp_path, job):
    """Land file A and drain; land file B and restart from the same
    checkpoint and state.  The result equals one uninterrupted drain of A
    then B as two micro-batches (maxFilesPerTrigger=1), and the restart
    reads only B: the checkpointed offsets, not the state, decide what a
    restart reprocesses."""
    source, start, outputs = _RESTART_JOBS[job]
    schema, a, b = source()

    def drain(tag):
        landing = str(tmp_path / f"{tag}_in")
        stream = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .json(landing)
        )
        q = start(spark, stream, lambda name: str(tmp_path / tag / name))
        q.awaitTermination(300)
        assert q.exception() is None
        return _data_batches(q)

    def result(tag):
        return {
            out: sorted(
                map(tuple, spark.read.parquet(str(tmp_path / tag / out)).collect())
            )
            for out in outputs
        }

    for tag in ("restarted", "straight"):
        os.makedirs(tmp_path / f"{tag}_in")
    _land(tmp_path / "restarted_in", "a.json", a, 1_000_000_000)
    assert drain("restarted") == 1
    _land(tmp_path / "restarted_in", "b.json", b, 1_000_000_100)
    assert drain("restarted") == 1

    _land(tmp_path / "straight_in", "a.json", a, 1_000_000_000)
    _land(tmp_path / "straight_in", "b.json", b, 1_000_000_100)
    assert drain("straight") == 2

    restarted, straight = result("restarted"), result("straight")
    assert all(straight.values()), f"{job}: empty output {straight}"
    assert restarted == straight
