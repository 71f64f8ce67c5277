"""The benchmark's workloads: seeded inputs, one pass of ops, answer checks.

A workload is a closed loop: one client issues each op after the previous
one returned.  A *pass* is one run of the workload's op list; the runner
repeats passes for the measured seconds.  Each op returns an answer that
is checked after the run; a wrong answer counts the op as failed.

The keyed workload runs registry keys over ``scripts/gen_sf.generate``
tables at sf0.1; its key list is below, with why each key is there.
"""

from __future__ import annotations

import contextlib
import hashlib
import io
import json
import os
import shutil
import sys

import fakes

_path = list(sys.path)
from check_oracle import canon_rows  # noqa: E402  (importing it edits sys.path)

sys.path[:] = _path

SF = 0.1

#: Driver-eager and cross-runtime work that `produce` bypasses: pandas and
#: Python-worker crossings (u05, x01; both in registry.PY_WORKER_KEYS),
#: a key behind a size-gated driver arm (x04f), an io.disk_checkpoint user
#: (x82) and an AvailableNow stream drain with RocksDB state (s15).
XLAYER_KEYS = [
    "u05_pandas_udaf",
    "x01_sentiment",
    "x04f_embed_neardup",
    "x82_sparse_text_topk",
    "s15_rocksdb_state",
]

#: Consecutive daily runs per pass of the `produce` workload.  The second
#: run's crawl and rollup read both days' landings, and its 24 h window
#: appends to a calendar-day partition the first run wrote, so a pass
#: covers a lake that grows.  Each pass starts a fresh lake, so every pass
#: does the same work and the pass medians compare.
PRODUCE_RUNS = 2

LAKE_TABLE = "fanstats_lake"
ROLLUP_SQL = f"""
SELECT platform, topic, year, month, day,
       COUNT(*) AS posts,
       SUM(COALESCE(public_metrics.like_count, 0)
           + COALESCE(public_metrics.retweet_count, 0)
           + COALESCE(public_metrics.reply_count, 0)
           + COALESCE(public_metrics.quote_count, 0)
           + COALESCE(score, 0) + COALESCE(num_comments, 0)
           + COALESCE(reactions, 0) + COALESCE(comments, 0)
           + COALESCE(shares, 0)) AS engagement
FROM {LAKE_TABLE}
GROUP BY platform, topic, year, month, day
"""


def digest(cols: list[str], rows: list[tuple]) -> str:
    """Order-insensitive answer digest, canonicalised the way
    scripts/check_oracle.py compares Spark with DuckDB."""
    c, r = canon_rows(cols, rows)
    return hashlib.sha256(json.dumps([c, r]).encode()).hexdigest()


class Keyed:
    """Registry keys over generated sf0.1 tables.  A stream key's
    builder drains its query, so that call is a ``streaming.drain`` span."""

    #: Untimed passes: the first pays each key's first execution; op times
    #: keep falling for two more while the JIT compiles the engine's paths.
    warm_passes = 3

    def __init__(self, keys: list[str]) -> None:
        self.keys = keys

    def generate(self, seed: int, work: str) -> None:
        import gen_sf

        self.seed = seed
        self.sf_dir = os.path.join(work, "sf")
        with contextlib.redirect_stdout(io.StringIO()):
            gen_sf.generate(SF, self.sf_dir, seed=seed)
        h = hashlib.sha256()
        for name in sorted(os.listdir(self.sf_dir)):
            with open(os.path.join(self.sf_dir, name), "rb") as f:
                h.update(name.encode() + f.read())
        self.data_hash = h.hexdigest()

    def start(self, ctx) -> None:
        from fanstats_producer_spark import registry

        registry.load_all()
        self.queries = registry.QUERIES

    def pass_ops(self) -> list[str]:
        return list(self.keys)

    def run_op(self, ctx, key: str):
        fn = self.queries[key]
        stream = fn.__module__.endswith(".driver_entries")
        with ctx.tracer.span("streaming.drain" if stream else "operators.build"):
            df = fn(ctx.spark, self.sf_dir)
        with ctx.tracer.span("operators.plan"):
            df._jdf.queryExecution().executedPlan()
        with ctx.tracer.span("operators.exec"):
            rows = df.collect()
        return df.columns, [tuple(r) for r in rows]

    def answer(self, key: str, result) -> str:
        return digest(*result)

    def expected(self, cache_dir: str) -> dict[str, str]:
        """Oracle digests per key, cached per generated tables (so per
        seed) and oracle text."""
        import duckdb
        from fanstats_producer_spark import registry
        from fanstats_producer_spark.io import TABLES

        out, con = {}, None
        for key in self.keys:
            sql = registry.ORACLE[key]
            tag = hashlib.sha256(f"{self.data_hash}|{sql}".encode()).hexdigest()[:16]
            path = os.path.join(cache_dir, f"{key}-{tag}.json")
            if os.path.exists(path):
                with open(path) as f:
                    out[key] = json.load(f)["digest"]
                continue
            if con is None:
                con = duckdb.connect()
                for t in TABLES:
                    con.execute(
                        f"CREATE VIEW {t} AS SELECT * FROM '{self.sf_dir}/{t}.parquet'"
                    )
            res = con.execute(sql)
            out[key] = digest([d[0] for d in res.description], res.fetchall())
            os.makedirs(cache_dir, exist_ok=True)
            with open(path, "w") as f:
                json.dump({"seed": self.seed, "digest": out[key]}, f)
        if con is not None:
            con.close()
        return out


class Produce:
    """Scheduled producer runs into a lake that grows within a pass.

    One op is one scheduled run: ``run_pipeline`` lands all three
    platforms, ``crawl_landing_dir`` re-registers the lake, and a daily
    engagement rollup reads it back.  Each pass starts a fresh lake, so
    every pass does the same work.
    """

    #: Untimed passes: one pays the first write, crawl and rollup.  The
    #: first timed pass still runs about 15% slower than the next, on every
    #: seed alike; a second warm pass would add some 9 s to every run.
    warm_passes = 1

    def generate(self, seed: int, work: str) -> None:
        self.inputs = fakes.generate(seed, PRODUCE_RUNS)
        self.work = work
        self.data_file = os.path.join(work, "topic.yaml")
        self.platforms_file = os.path.join(work, "platforms.yaml")
        with open(self.data_file, "w") as f:
            f.write(self.inputs.data_file_yaml())
        with open(self.platforms_file, "w") as f:
            f.write("version: 1.0\n---\nPlatforms:\n  - Twitter\n  - Reddit\n  - Facebook\n")
        # What the rollup must read after run r of a pass: runs 0..r landed.
        self.cumulative, acc = [], fakes.Counts()
        for run in self.inputs.runs:
            acc = acc.merged(run.expected)
            self.cumulative.append(acc.table())
        self.meter = fakes.Meter()
        self.twitter_starts: list[float | None] = []
        self.lake = None
        self.passes = 0
        self.seen = {"pages": 0, "rows": 0, "bytes": 0}
        self.timed_stats = dict.fromkeys(
            ["pages", "rows", "bytes", "files", "bytes_written", "rows_landed"], 0
        )

    def start(self, ctx) -> None:
        """Nothing to load: run_pipeline reads the data file each run."""

    def pass_ops(self) -> list[str]:
        if self.lake is not None:
            shutil.rmtree(self.lake, ignore_errors=True)
        self.passes += 1
        self.lake = os.path.join(self.work, f"lake{self.passes}")
        self.lake_seen = {"files": 0, "bytes_written": 0, "rows_landed": 0}
        return [f"run{r}" for r in range(len(self.inputs.runs))]

    def _collectors(self, ctx, fetch: fakes.Fetchers):
        """The Reddit and Facebook collectors, each in a ``sources.scan``
        span.  Twitter takes run_pipeline's own default wiring."""
        from fanstats_producer_spark.sources import facebook, reddit

        tracer, topics = ctx.tracer, self.inputs.topics

        def scanned(build):
            def collector(spark):
                with tracer.span("sources.scan"):
                    return build(spark)

            return collector

        return {
            "Reddit": scanned(
                lambda s: reddit.normalize_posts(
                    reddit.RedditListingSource(s, fetch.reddit).scan(
                        [t.lower() for t in topics]
                    )
                )
            ),
            "Facebook": scanned(
                lambda s: facebook.normalize_posts(
                    facebook.FacebookFeedSource(s, fetch.facebook).scan(
                        [self.inputs.topic.lower()]
                    )
                )
            ),
        }

    def run_op(self, ctx, label: str):
        from fanstats_producer_spark.pipeline import run_pipeline
        from fanstats_producer_spark.sources.catalog import crawl_landing_dir

        r = int(label[3:])
        run = self.inputs.runs[r]
        fetch = fakes.Fetchers(run, self.meter)
        with ctx.tracer.span("pipeline"):
            run_pipeline(
                ctx.spark,
                self.data_file,
                self.platforms_file,
                self.lake,
                fetch_page=fetch.twitter,
                now=run.now,
                lookback_days=run.lookback_days,
                extra_collectors=self._collectors(ctx, fetch),
            )
        self.twitter_starts.append(fetch.twitter_start)
        with ctx.tracer.span("sources.crawl"):
            crawl_landing_dir(ctx.spark, self.lake, LAKE_TABLE)
        with ctx.tracer.span("produce.rollup"):
            rows = ctx.spark.sql(ROLLUP_SQL).collect()
        return r, {
            (x.platform, x.topic, x.year, x.month, x.day): (x.posts, x.engagement)
            for x in rows
        }

    def lake_size(self) -> tuple[int, int]:
        files = size = 0
        for dirpath, _, names in os.walk(self.lake):
            for n in names:
                if not n.startswith((".", "_")):
                    files += 1
                    size += os.path.getsize(os.path.join(dirpath, n))
        return files, size

    def observe(self, label: str, result, timed: bool) -> None:
        """Add this op's fetch and landing counts to the timed totals."""
        files, size = self.lake_size()
        now = {
            "pages": self.meter.pages,
            "rows": self.meter.rows,
            "bytes": self.meter.bytes,
            "files": files,
            "bytes_written": size,
            "rows_landed": sum(n for n, _ in result[1].values()),
        }
        for k, val in now.items():
            prev = self.seen if k in self.seen else self.lake_seen
            if timed:
                self.timed_stats[k] += val - prev[k]
            prev[k] = val

    def answer(self, label: str, result) -> bool:
        r, table = result
        return table == self.cumulative[r]

    def expected(self, cache_dir: str) -> dict[str, bool]:
        return {f"run{r}": True for r in range(len(self.inputs.runs))}


def make(name: str):
    if name == "produce":
        return Produce()
    if name == "xlayer":
        return Keyed(XLAYER_KEYS)
    raise KeyError(name)


NAMES = ("produce", "xlayer")
