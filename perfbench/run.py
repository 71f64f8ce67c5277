"""Seeded workload benchmark for fanstats_producer_spark.

    python3 perfbench/run.py --workload {produce,xlayer}
        --seed N --seconds S --trace {0,1}

Run from the root of a checkout.  The run generates its inputs from the
seed, starts a Spark session through ``session.get_spark`` with
``local[<cpus>]``, warms it with untimed passes of the workload, then
repeats timed passes until ``--seconds`` have elapsed (a started pass
always finishes).  Every op's answer is checked after the run.  The last
line of stdout is one JSON object:

    {"correct", "attempted", "failed", "metrics": {name: {value, unit}}}

``--trace 0`` reports the end-to-end metrics (BENCHMARK.json
``end_to_end``); ``--trace 1`` turns on the Spark event log and reports
the per-layer metrics (``per_layer``) from spans recorded here, around the
calls into each layer, and from the event log.  Per-layer figures are per
timed pass unless their name says otherwise.  ``trace.overhead_s`` is the
traced run's wall_s minus that of the untraced run of the same workload,
seed, seconds and code in this checkout (``trace.paired`` 1); with no such
run it is unresolved, reported as 0 with ``trace.paired`` 0.

The full record of a run (host, per-op latencies, spans) goes to
``.perfbench/results/``; oracle answers are cached per seed in
``.perfbench/cache/``.  Everything else a run writes lives under
``.perfbench/run-<pid>/`` and is removed when the run ends.
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import shutil
import statistics
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
STATE = os.path.join(ROOT, ".perfbench")

END_TO_END_UNITS = {
    "setup_s": "s",
    "wall_s": "s",
    "op_p50_s": "s",
    "op_tail_s": "s",
    "ops_ok_frac": "ratio",
}


def process_start() -> float:
    """This process's start time in seconds since the epoch."""
    try:
        with open("/proc/self/stat") as f:
            ticks = int(f.read().rsplit(")", 1)[1].split()[19])
        with open("/proc/stat") as f:
            btime = next(int(line.split()[1]) for line in f if line.startswith("btime"))
        return btime + ticks / os.sysconf("SC_CLK_TCK")
    except (OSError, ValueError, StopIteration):
        return time.time()


T_PROCESS = process_start()


def parse_args(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def vm_hwm_mb(pid: int | str) -> float:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024
    raise RuntimeError(f"no VmHWM for pid {pid}")


def cpu_steal() -> tuple[int, int]:
    """(steal, total) jiffies of this host's CPUs so far, from /proc/stat."""
    with open("/proc/stat") as f:
        vals = [int(x) for x in f.readline().split()[1:9]]
    return vals[7], sum(vals)


def prepare_env(work: str) -> None:
    """Point every writer of the run (Spark local dirs, stream
    checkpoints, temp files, Python workers' imports) into the checkout."""
    for d in ("scratch", "tmp"):
        os.makedirs(os.path.join(work, d), exist_ok=True)
    os.environ.setdefault("SPARK_GRAFT_CPUS", str(len(os.sched_getaffinity(0))))
    os.environ["SPARK_GRAFT_SCRATCH"] = os.path.join(work, "scratch")
    os.environ.pop("SPARK_LOCAL_DIRS", None)  # it would override spark.local.dir
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    # The JVM's perf-data file would otherwise go to the system temp dir.
    os.environ["JAVA_TOOL_OPTIONS"] = " ".join(
        filter(None, [os.environ.get("JAVA_TOOL_OPTIONS"), "-XX:-UsePerfData"])
    )
    paths = [ROOT, os.path.join(ROOT, "scripts"), HERE]
    old = os.environ.get("PYTHONPATH")
    os.environ["PYTHONPATH"] = os.pathsep.join(paths + ([old] if old else []))
    for p in reversed(paths):
        sys.path.insert(0, p)
    import tempfile

    tempfile.tempdir = None  # re-read TMPDIR


def host_record(seed: int, spark) -> dict:
    import duckdb
    import pyspark

    from fanstats_producer_spark import session

    used = session.scratch_root()
    override = os.environ.pop("SPARK_GRAFT_SCRATCH")
    try:
        default = session.scratch_root()
    finally:
        os.environ["SPARK_GRAFT_SCRATCH"] = override
    with open("/proc/meminfo") as f:
        mem_kb = int(next(line for line in f if line.startswith("MemTotal")).split()[1])
    return {
        "nproc": len(os.sched_getaffinity(0)),
        "spark_cores": int(os.environ["SPARK_GRAFT_CPUS"]),
        "ram_gib": round(mem_kb / 2**20, 2),
        "scratch_root_default": default or "none (tempfile default, on disk)",
        "scratch_used": os.path.relpath(used, ROOT) if used else None,
        "spark": spark.version,
        "pyspark": pyspark.__version__,
        "python": platform.python_version(),
        "duckdb": duckdb.__version__,
        "seed": seed,
    }


class Context:
    """What an op gets: the session and the tracer."""

    def __init__(self, spark, tracer) -> None:
        self.spark = spark
        self.tracer = tracer


def run_pass(ctx, wl, tag: str, ops: list) -> float:
    """One pass over the workload's ops; returns its wall time."""
    sc = ctx.spark.sparkContext
    first = None
    for label in wl.pass_ops():
        op_id = f"{tag}:{label}"
        sc.setJobGroup(op_id, op_id)
        err, result = None, None
        with ctx.tracer.span("op", op=op_id) as sp:
            try:
                result = wl.run_op(ctx, label)
            except Exception as e:  # an op that raises counts as failed
                err = f"{type(e).__name__}: {e}"[:500]
        first = sp.start if first is None else first
        if err is None and hasattr(wl, "observe"):
            wl.observe(label, result, tag != "warm")
        answer = wl.answer(label, result) if err is None else None
        ops.append(
            {"op": op_id, "label": label, "latency_s": sp.end - sp.start,
             "answer": answer, "error": err, "timed": tag != "warm"}
        )
    sc.setJobGroup("", "")
    return sp.end - first


def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, "fanstats_producer_spark")) or not os.path.isfile(
        os.path.join(ROOT, "scripts", "gen_sf.py")
    ):
        print(f"{ROOT} holds no fanstats_producer_spark checkout", file=sys.stderr)
        return 2
    work = os.path.join(STATE, f"run-{os.getpid()}")
    prepare_env(work)
    import tracing as tr
    import workloads

    if args.workload not in workloads.NAMES:
        print(f"unknown workload {args.workload!r}; one of {workloads.NAMES}", file=sys.stderr)
        return 2
    try:
        record = measure(args, work, tr, workloads)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(STATE, "results"), exist_ok=True)
    name = f"{args.workload}-seed{args.seed}-trace{args.trace}.json"
    with open(os.path.join(STATE, "results", name), "w") as f:
        json.dump(record, f, indent=1, default=str)
    print(json.dumps(record["result"]))
    return 0


def measure(args, work: str, tr, workloads) -> dict:
    code = code_fingerprint()
    tracer = tr.Tracer()
    wl = workloads.make(args.workload)
    t_gen = time.time()
    wl.generate(args.seed, work)
    gen_s = time.time() - t_gen

    from fanstats_producer_spark.session import get_spark

    conf = {"spark.sql.warehouse.dir": os.path.join(work, "warehouse")}
    events = os.path.join(work, "events")
    if args.trace:
        os.makedirs(events)
        conf.update(
            {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": events,
                "spark.eventLog.compress": "false",
            }
        )
    with tracer.span("session.start") as sp:
        spark = get_spark(f"perfbench-{args.workload}", extra_conf=conf)
    # From process start, less the generator's own time.
    start_s = (t_gen - T_PROCESS) + (sp.end - sp.start)
    ctx = Context(spark, tracer)
    ops: list[dict] = []
    try:
        with tracer.span("session.warmup") as sp:
            spark.range(1_000_000).selectExpr("sum(id)").collect()
            wl.start(ctx)
            for _ in range(wl.warm_passes):
                run_pass(ctx, wl, "warm", ops)
        warmup_s = sp.end - sp.start
        setup_s = start_s + warmup_s
        walls = []
        steal0 = cpu_steal()
        t0 = time.time()
        while time.time() - t0 < args.seconds:
            walls.append(run_pass(ctx, wl, f"p{len(walls)}", ops))
        steal1 = cpu_steal()
        jvm_pid = spark._jvm.java.lang.ProcessHandle.current().pid()
        rss = vm_hwm_mb(jvm_pid) + vm_hwm_mb("self")
        host = host_record(args.seed, spark)
    finally:
        stop(spark)
    expected = wl.expected(os.path.join(STATE, "cache", args.workload))
    for op in ops:
        op["ok"] = op["error"] is None and op["answer"] == expected[op["label"]]
    timed = [o for o in ops if o["timed"]]
    # Each op of the pass is one sample: its median over the timed passes.
    by_label: dict[str, list[float]] = {}
    for o in timed:
        by_label.setdefault(o["label"], []).append(o["latency_s"])
    lat = [statistics.median(v) for v in by_label.values()]
    tail, tail_p = tr.op_tail(lat)
    failed = sum(not o["ok"] for o in ops)
    e2e = {
        "setup_s": setup_s,
        "wall_s": statistics.median(walls),
        "op_p50_s": statistics.median(lat),
        "op_tail_s": tail,
        "ops_ok_frac": 1 - failed / len(ops),
    }
    record = {
        "workload": args.workload,
        "seconds": args.seconds,
        "trace": args.trace,
        "code": code,
        "host": host,
        "generator_s": gen_s,
        # CPU time the hypervisor gave other guests while this run was
        # timed: the main source of run-to-run spread on a shared host.
        "timed_steal_frac": (steal1[0] - steal0[0]) / max(steal1[1] - steal0[1], 1),
        "passes": len(walls),
        "pass_walls_s": walls,
        "tail_percentile": tail_p,
        "timed_ops": len(timed),
        "end_to_end": e2e,
        "peak_rss_mb": rss,
        "ops": ops,
    }
    if args.trace:
        import layers

        session = {
            "session.start_s": start_s,
            "session.warmup_s": warmup_s,
            "session.peak_rss_mb": rss,
        }
        metrics = layers.per_layer(tr, tracer, wl, events, len(walls), session)
        overhead = trace_overhead(args, code, e2e["wall_s"])
        if overhead is None:
            print(
                f"trace.overhead_s unresolved: no untraced run of {args.workload} "
                f"seed {args.seed} with this code; reported as 0 with trace.paired 0",
                file=sys.stderr,
            )
        metrics["trace.wall_s"] = (e2e["wall_s"], "s")
        metrics["trace.overhead_s"] = (overhead or 0.0, "s")
        metrics["trace.paired"] = (int(overhead is not None), "count")
        record["spans"] = tracer.dump()
    else:
        metrics = {k: (v, END_TO_END_UNITS[k]) for k, v in e2e.items()}
    record["result"] = {
        "correct": failed == 0,
        "attempted": len(ops),
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }
    return record


def code_fingerprint() -> str:
    """Hash of the Python sources a run executes: the program, its
    scripts and the benchmark."""
    import glob
    import hashlib

    h = hashlib.sha256()
    for d in ("fanstats_producer_spark", "scripts", "perfbench"):
        for path in sorted(glob.glob(os.path.join(ROOT, d, "**", "*.py"), recursive=True)):
            with open(path, "rb") as f:
                h.update(os.path.relpath(path, ROOT).encode() + b"\0" + f.read())
    return h.hexdigest()[:16]


def trace_overhead(args, code: str, traced_wall: float) -> float | None:
    """Traced wall_s minus the wall_s of the untraced run of the same
    workload, seed, seconds and code in this checkout; None when there
    is no such run."""
    path = os.path.join(STATE, "results", f"{args.workload}-seed{args.seed}-trace0.json")
    try:
        with open(path) as f:
            rec = json.load(f)
    except (OSError, ValueError):
        return None
    if rec.get("code") != code or rec.get("seconds") != args.seconds:
        return None
    return traced_wall - rec["end_to_end"]["wall_s"]


def stop(spark) -> None:
    """Stop the session and the JVM it runs in, and wait for the JVM."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        try:
            proc.stdin.close()
        except OSError:
            pass
        try:
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait()
    SparkContext._gateway = None
    SparkContext._jvm = None


if __name__ == "__main__":
    sys.exit(main())
