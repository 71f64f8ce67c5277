"""Per-layer metrics of a traced run.

Sources: the spans ``run.py`` and ``workloads.py`` record around calls
into each layer, the Spark event log (jobs, stages, task metrics and
Python-worker accumulables, stream progress), and the produce workload's
own meters.  Figures are per timed pass, except ``session.*`` (once per
run) and ratios.  ``session.peak_rss_mb`` is the end-of-run VmHWM of the
JVM plus the driver Python process.
"""

from __future__ import annotations

#: Span names that own the Spark jobs submitted inside them.
LAYER_SPANS = (
    "operators.",
    "streaming.",
    "pipeline",
    "sources.",
    "produce.",
)

UNITS = {
    "session.start_s": "s",
    "session.warmup_s": "s",
    "session.peak_rss_mb": "MiB",
    "sources.scan_s": "s",
    "sources.pages": "count",
    "sources.rows_fetched": "count",
    "sources.write_s": "s",
    "sources.files_written": "count",
    "sources.bytes_per_fetched_byte": "ratio",
    "sources.rows_landed_frac": "ratio",
    "sources.crawl_s": "s",
    "pipeline.self_s": "s",
    "operators.build_s": "s",
    "operators.plan_s": "s",
    "operators.exec_s": "s",
    "operators.jobs": "count",
    "operators.stages": "count",
    "operators.tasks": "count",
    "operators.executor_run_s": "s",
    "operators.executor_cpu_s": "s",
    "operators.gc_s": "s",
    "operators.shuffle_read_bytes": "bytes",
    "operators.shuffle_write_bytes": "bytes",
    "operators.spill_bytes": "bytes",
    "io.checkpoints": "count",
    "io.checkpoint_s": "s",
    "functions.python_start_s": "s",
    "functions.python_run_s": "s",
    "functions.python_bytes_sent": "bytes",
    "functions.python_bytes_returned": "bytes",
    "streaming.batches": "count",
    "streaming.input_rows": "count",
    "streaming.trigger_s": "s",
    "streaming.add_batch_s": "s",
    "streaming.planning_s": "s",
    "streaming.log_commit_s": "s",
    "streaming.state_commit_s": "s",
    "streaming.state_rows": "count",
    "streaming.state_bytes": "bytes",
    "streaming.startup_s": "s",
}


def _is_checkpoint(job) -> bool:
    return job.name.startswith(("localCheckpoint", "checkpoint"))


def per_layer(tr, tracer, wl, events_dir: str, passes: int, session: dict) -> dict:
    """{metric: (value, unit)} for every name in UNITS."""
    spans = tracer.spans
    timed_ops = {s.op for s in spans if s.name == "op" and not s.op.startswith("warm")}
    timed = [s for s in spans if s.op in timed_ops]
    self_s = tr.self_times(spans, timed_ops)

    log = tr.read_event_log(events_dir)
    owner = tr.attribute_jobs(log.jobs, timed, LAYER_SPANS)
    v: dict[str, float] = dict(session)

    # operators: jobs submitted while an operators.* span was innermost
    op_jobs = [j for j in log.jobs if j.id in owner and (owner[j.id][1] or "").startswith("operators.")]
    ops_tasks = tr.TaskTotals()
    for j in op_jobs:
        ops_tasks.add(log.job_tasks.get(j.id, tr.TaskTotals()))
    v["operators.build_s"] = self_s.get("operators.build", 0.0)
    v["operators.plan_s"] = self_s.get("operators.plan", 0.0)
    v["operators.exec_s"] = self_s.get("operators.exec", 0.0)
    v["operators.jobs"] = len(op_jobs)
    v["operators.stages"] = sum(log.completed_stages.get(j.id, 0) for j in op_jobs)
    v["operators.tasks"] = ops_tasks.tasks
    v["operators.executor_run_s"] = ops_tasks.run_s
    v["operators.executor_cpu_s"] = ops_tasks.cpu_s
    v["operators.gc_s"] = ops_tasks.gc_s
    v["operators.shuffle_read_bytes"] = ops_tasks.shuffle_read_bytes
    v["operators.shuffle_write_bytes"] = ops_tasks.shuffle_write_bytes
    v["operators.spill_bytes"] = ops_tasks.spill_bytes

    # io: reuse points materialised by (local)checkpoint jobs, any layer
    ckpt = [j for j in log.jobs if j.id in owner and _is_checkpoint(j)]
    v["io.checkpoints"] = len(ckpt)
    v["io.checkpoint_s"] = sum(j.end - j.submit for j in ckpt)

    # functions: the Python-worker crossing, over every job of the ops
    all_tasks = tr.TaskTotals()
    for jid in owner:
        all_tasks.add(log.job_tasks.get(jid, tr.TaskTotals()))
    v["functions.python_start_s"] = all_tasks.py_start_s
    v["functions.python_run_s"] = all_tasks.py_run_s
    v["functions.python_bytes_sent"] = all_tasks.py_sent_bytes
    v["functions.python_bytes_returned"] = all_tasks.py_returned_bytes

    v.update(_streaming(tr, timed, log))
    v.update(_sources(tr, timed, log, owner, wl))
    out = {}
    for name, unit in UNITS.items():
        val = v.get(name, 0.0)
        if not name.startswith("session.") and unit != "ratio":
            val = val / passes
        out[name] = (val, unit)
    return out


def _streaming(tr, timed, log) -> dict:
    drains = [s for s in timed if s.name == "streaming.drain"]
    v = dict.fromkeys(
        [
            "streaming.batches", "streaming.input_rows", "streaming.trigger_s",
            "streaming.add_batch_s", "streaming.planning_s", "streaming.log_commit_s",
            "streaming.state_commit_s", "streaming.state_rows", "streaming.state_bytes",
        ],
        0.0,
    )
    trigger_in: dict[int, float] = {}
    last: dict[tuple[int, str], dict] = {}
    for p in log.progress:
        t = tr.progress_time(p)
        d = next((i for i, s in enumerate(drains) if s.start <= t <= s.end), None)
        if d is None:
            continue
        ms = p.get("durationMs") or {}
        v["streaming.batches"] += 1
        v["streaming.input_rows"] += sum(
            src.get("numInputRows", 0) for src in p.get("sources") or []
        )
        v["streaming.trigger_s"] += ms.get("triggerExecution", 0) / 1e3
        v["streaming.add_batch_s"] += ms.get("addBatch", 0) / 1e3
        v["streaming.planning_s"] += ms.get("queryPlanning", 0) / 1e3
        v["streaming.log_commit_s"] += (ms.get("walCommit", 0) + ms.get("commitOffsets", 0)) / 1e3
        for st in p.get("stateOperators") or []:
            v["streaming.state_commit_s"] += st.get("commitTimeMs", 0) / 1e3
        trigger_in[d] = trigger_in.get(d, 0.0) + ms.get("triggerExecution", 0) / 1e3
        last[(d, p["id"])] = p
    for p in last.values():  # state held when each drained query finished
        for st in p.get("stateOperators") or []:
            v["streaming.state_rows"] += st.get("numRowsTotal", 0)
            v["streaming.state_bytes"] += st.get("memoryUsedBytes", 0)
    v["streaming.startup_s"] = sum(
        (s.end - s.start) - trigger_in.get(i, 0.0) for i, s in enumerate(drains)
    )
    return v


def _sources(tr, timed, log, owner, wl) -> dict:
    v: dict[str, float] = {}
    pipes = [s for s in timed if s.name == "pipeline"]
    # Reddit and Facebook scan inside sources.scan spans.  Twitter runs on
    # run_pipeline's own wiring: its scan lasts from the collector's first
    # request until the first Spark job after it, the sink's guard job.
    scan_s = sum(s.end - s.start for s in timed if s.name == "sources.scan")
    starts = [t for t in getattr(wl, "twitter_starts", []) if t is not None]
    v["sources.crawl_s"] = sum(s.end - s.start for s in timed if s.name == "sources.crawl")
    # The write is the Spark work run_pipeline submits outside the scans:
    # the sink's empty-guard job and its partitioned write job.
    write_s = 0.0
    for p in pipes:
        jobs = [
            (j.submit, j.end)
            for j in log.jobs
            if j.id in owner and owner[j.id][1] == "pipeline" and p.start <= j.submit <= p.end
        ]
        write_s += tr.union_length(tr.clip(jobs, p.start, p.end))
        for t in starts:
            if p.start <= t <= p.end:
                scan_s += tr.until_first_job(t, [s for s, _ in jobs], p.end)
    v["sources.scan_s"] = scan_s
    v["sources.write_s"] = write_s
    v["pipeline.self_s"] = sum(s.end - s.start for s in pipes) - scan_s - write_s
    stats = getattr(wl, "timed_stats", None)
    if stats:
        v["sources.pages"] = stats["pages"]
        v["sources.rows_fetched"] = stats["rows"]
        v["sources.files_written"] = stats["files"]
        v["sources.bytes_per_fetched_byte"] = stats["bytes_written"] / max(stats["bytes"], 1)
        v["sources.rows_landed_frac"] = stats["rows_landed"] / max(stats["rows"], 1)
    return v
