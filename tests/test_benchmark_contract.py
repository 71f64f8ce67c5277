"""The benchmark's calls into the package keep working: one scheduled
run of perfbench's `produce` workload lands and rolls up the answer its
seeded fakes expect.  Reads perfbench/ only; nothing under it changes.

A refactor of `sources/` or `pipeline.py` that breaks a call perfbench
makes (a constructor, a `scan`, `normalize_posts`, `run_pipeline`'s
keywords) fails here instead of only in a benchmark run."""

from __future__ import annotations

import os
import sys

# perfbench's modules import their siblings and scripts/ as top-level
# modules, as `python3 perfbench/run.py` lets them.
REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
for _d in ("scripts", "perfbench"):
    if os.path.join(REPO, _d) not in sys.path:
        sys.path.append(os.path.join(REPO, _d))

from perfbench import run, tracing, workloads  # noqa: E402


def test_perfbench_produce_run_answers(spark, tmp_path):
    ctx = run.Context(spark, tracing.Tracer())
    wl = workloads.make("produce")
    wl.generate(431, str(tmp_path))
    try:
        assert wl.pass_ops() == ["run0", "run1"]
        result = wl.run_op(ctx, "run0")
        assert wl.answer("run0", result)
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {workloads.LAKE_TABLE}")
