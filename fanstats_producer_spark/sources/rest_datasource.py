"""Paginated REST scan as a Spark 4 Python DataSource (SURVEY.md §4's
"candidate custom piece (a)": P1/P2 fidelity at the source).

`spark.read.format("fanstats_rest").option("topics", "NBA,NFL")` plans
one *input partition per topic*: pagination is cursor-serial inside a
partition (the API forces it) but topics scan in parallel across
executors — the parallelism axis the reference's single process leaves
unused (reference main.py:214).  The page clamp and result cap
(main.py:95-96, 136) are reader options, and the lookback start_time
(main.py:263) is pushed into every request — source-side predicates,
not post-filters.  The batch reader walks rest.py's `iter_chain`, the
cursor loop the driver scan uses; both readers hand Spark the Arrow
record batches of `ndjson.arrow_table`, which maps each API object onto
TWEET_SCHEMA by field name.

Fetchers are pluggable by name (an HTTP fetcher would do the bearer-token
GET of main.py:114-120); the in-repo fetchers are deterministic and
offline.  Everything lands with the pinned TWEET_SCHEMA.
"""

from __future__ import annotations

from collections.abc import Callable, Iterator

import pyarrow as pa
from pyspark.sql.datasource import (
    DataSource,
    DataSourceArrowWriter,
    DataSourceReader,
    DataSourceStreamWriter,
    DataSourceWriter,
    InputPartition,
    SimpleDataSourceStreamReader,
    WriterCommitMessage,
)

from fanstats_producer_spark.sources.ndjson import TWEET_SCHEMA, arrow_table
from fanstats_producer_spark.sources.rest import FetchPage, PaginatedSource, iter_chain

# Name → fetcher factory.  Module-level and filled at import time, so
# executor-side deserialization can resolve it by name in any worker
# process (options travel as strings).
FETCHERS: dict[str, Callable[[], FetchPage]] = {}


def _resolve_fetcher(spec: str) -> Callable[[], FetchPage]:
    """Resolve a fetcher option to a factory: a registry name, or an
    importable "module.path:attr" spec (works in any worker process)."""
    if spec in FETCHERS:
        return FETCHERS[spec]
    if ":" in spec:
        import importlib

        mod, attr = spec.split(":", 1)
        obj = importlib.import_module(mod)
        for part in attr.split("."):
            obj = getattr(obj, part)
        return obj
    raise KeyError(
        f"unknown fetcher {spec!r}: not in the import-time registry "
        f"({sorted(FETCHERS)}) and not a 'module:attr' import spec"
    )


def _demo_factory() -> FetchPage:
    from fanstats_producer_spark.pipeline import demo_fetcher

    return demo_fetcher()


FETCHERS["demo"] = _demo_factory


class TopicPartition(InputPartition):
    def __init__(self, topic: str) -> None:
        self.topic = topic


class RestReader(DataSourceReader):
    def __init__(self, options: dict) -> None:
        self.topics = [t for t in options.get("topics", "").split(",") if t]
        # Resolve the factory at plan time — the callable is then pickled
        # with the reader, so executors never do a registry lookup.  A
        # call-time FETCHERS[name] lookup in read() would run on executor
        # Python workers, where this module is imported fresh and only
        # import-time registrations exist; _resolve_fetcher also accepts
        # an importable "module:attr" spec, which works in any process.
        self.fetcher_factory = _resolve_fetcher(options.get("fetcher", "demo"))
        self.start_time = options.get("start_time", "1970-01-01T00:00:00Z")
        self.page_size = min(int(options.get("page_size", "100")), 100)
        self.max_results = int(options.get("max_results", "3000"))

    def partitions(self) -> list[InputPartition]:
        return [TopicPartition(t) for t in self.topics]

    def read(self, partition: TopicPartition) -> Iterator[pa.RecordBatch]:
        fetch, start_time = self.fetcher_factory(), self.start_time
        rows = iter_chain(
            lambda topic, token, size: fetch(topic, start_time, token, size),
            partition.topic,
            self.page_size,
            self.max_results,
            PaginatedSource.row,
        )
        yield from arrow_table(list(rows), TWEET_SCHEMA).to_batches()


class RestStreamReader(SimpleDataSourceStreamReader):
    """Streaming arm: each micro-batch polls every topic's cursor chain
    from the last committed offset — the reference's scheduled re-crawl
    (main.tf:214-218) as a continuous source with exactly-once offsets.

    Offset = {topic: next_token}; Spark checkpoints it, so a restarted
    query resumes the crawl exactly where the last batch committed (vs
    the reference's stateless daily re-pull).  `pages_per_batch` is the
    per-trigger rate limit (the P4 clamp as back-pressure).
    """

    def __init__(self, options: dict) -> None:
        self.topics = [t for t in options.get("topics", "").split(",") if t]
        # Plan-time resolution: see RestReader.__init__.
        self.fetcher_factory = _resolve_fetcher(options.get("fetcher", "demo"))
        self.start_time = options.get("start_time", "1970-01-01T00:00:00Z")
        self.page_size = min(int(options.get("page_size", "100")), 100)
        self.pages_per_batch = int(options.get("pages_per_batch", "1"))
        self._fetch = None

    def initialOffset(self) -> dict:
        return {t: None for t in self.topics}

    def read(self, start: dict):
        if self._fetch is None:
            self._fetch = self.fetcher_factory()
        rows_out: list[dict] = []
        end: dict = {}
        for topic in self.topics:
            token = start.get(topic)
            if token == "__done__":
                end[topic] = token
                continue
            for _ in range(self.pages_per_batch):
                rows, token = self._fetch(
                    topic, self.start_time, token, self.page_size
                )
                rows_out.extend(rows)
                if token is None:
                    token = "__done__"  # cursor exhausted; stop polling
                    break
            end[topic] = token
        return iter(arrow_table(rows_out, TWEET_SCHEMA).to_batches()), end


class RestDataSource(DataSource):
    @classmethod
    def name(cls) -> str:
        return "fanstats_rest"

    def schema(self):
        return TWEET_SCHEMA

    def reader(self, schema) -> RestReader:
        return RestReader(self.options)

    def writer(self, schema, overwrite: bool):
        if self.options.get("format") == "arrow-parquet":
            return UploadArrowWriter(self.options, overwrite)
        return UploadWriter(self.options, overwrite)

    def streamWriter(self, schema, overwrite: bool) -> "UploadStreamWriter":
        return UploadStreamWriter(self.options)

    def simpleStreamReader(self, schema) -> RestStreamReader:
        return RestStreamReader(self.options)


def register(spark) -> None:
    spark.dataSource.register(RestDataSource)


# --- write path: the reference's upload step as a committing sink ---------------
# upload_results (reference main.py:64-81) is a blind put: a crashed run
# can leave partial objects and a re-run double-appends (at-least-once).
# The DataSourceWriter protocol upgrades this to task-staged, job-committed
# output: each task writes to a staging area and returns a commit message;
# only if ALL tasks succeed does the driver promote staged files into the
# destination (plus a _SUCCESS manifest with the row count); any failure
# aborts and removes the staged files.  On a real deployment the staging
# rename becomes S3 multipart-upload completion — same two-phase shape.


class _StagedUpload(WriterCommitMessage):
    def __init__(self, staged: str, n_rows: int) -> None:
        self.staged = staged
        self.n_rows = n_rows


def _promote(
    messages, dest: str, part_name: Callable[[int], str], manifest: str, **fields
) -> None:
    """Driver-side commit shared by every writer: move each staged part
    into `dest` under part_name(i), then write the `manifest` file with
    `fields` plus the row and file counts.  A task that staged zero rows
    is the reference's empty-result guard (main.py:183-194): nothing to
    upload -> no object created."""
    import json as _json
    import os

    total = 0
    part = 0
    for m in messages:
        if m is None:
            continue
        if m.n_rows == 0:
            os.remove(m.staged)
            continue
        os.replace(m.staged, os.path.join(dest, part_name(part)))
        part += 1
        total += m.n_rows
    with open(os.path.join(dest, manifest), "w") as f:
        f.write(_json.dumps({**fields, "rows": total, "files": part}))


def _abort(messages) -> None:
    """Remove whatever the tasks staged; nothing reaches `dest`."""
    import os

    for m in messages:
        if m is not None and os.path.exists(m.staged):
            os.remove(m.staged)


class _JobCommit:
    """Job-level commit/abort for the batch writers, which differ only in
    what a task stages (`ext` names the part files)."""

    ext = "json"

    def __init__(self, options: dict, overwrite: bool) -> None:
        self.dest = options["dest"]
        self.overwrite = overwrite

    def commit(self, messages) -> None:
        import os

        if self.overwrite:
            for name in os.listdir(self.dest):
                if name.startswith("part-") or name == "_SUCCESS":
                    os.remove(os.path.join(self.dest, name))
        _promote(
            messages, self.dest, lambda i: f"part-{i:05d}.{self.ext}", "_SUCCESS"
        )

    def abort(self, messages) -> None:
        _abort(messages)


class UploadWriter(_JobCommit, DataSourceWriter):
    def write(self, iterator) -> _StagedUpload:
        import json as _json
        import os
        import uuid

        staging = os.path.join(self.dest, "_staging")
        os.makedirs(staging, exist_ok=True)
        path = os.path.join(staging, uuid.uuid4().hex + ".json")
        n = 0
        with open(path, "w") as f:
            for row in iterator:
                f.write(_json.dumps(row.asDict(recursive=True), default=str) + "\n")
                n += 1
        return _StagedUpload(staged=path, n_rows=n)


class UploadStreamWriter(DataSourceStreamWriter):
    """Streaming arm of the committing sink: every micro-batch is its own
    two-phase commit, with the batch id in the object names — re-running
    a failed batch after recovery overwrites the same keys instead of
    appending duplicates (idempotent replay = exactly-once output on top
    of the checkpoint's at-least-once delivery)."""

    def __init__(self, options: dict) -> None:
        self.dest = options["dest"]

    def write(self, iterator) -> _StagedUpload:
        return UploadWriter({"dest": self.dest}, overwrite=False).write(iterator)

    def commit(self, messages, batchId: int) -> None:
        import glob
        import os

        # A replayed batch may produce fewer parts than a previously
        # half-committed attempt; clear every file this batch id could have
        # left (parts AND manifest) so stale higher-numbered parts can't
        # survive next to the new manifest and double-count rows.
        for stale in glob.glob(
            os.path.join(self.dest, f"batch-{batchId:05d}-part-*")
        ) + glob.glob(os.path.join(self.dest, f"_batch-{batchId:05d}.manifest")):
            os.remove(stale)
        _promote(
            messages,
            self.dest,
            lambda i: f"batch-{batchId:05d}-part-{i:05d}.json",
            f"_batch-{batchId:05d}.manifest",
            batch=batchId,
        )

    def abort(self, messages, batchId: int) -> None:
        _abort(messages)


class UploadArrowWriter(_JobCommit, DataSourceArrowWriter):
    """Arrow-batch arm of the committing sink: tasks receive PyArrow
    RecordBatches (zero per-row Python objects — the Arrow columnar
    transfer the row writer pays per-Row conversion for) and stage one
    parquet file per task; the commit/abort protocol is shared with
    UploadWriter.  Select with option("format", "arrow-parquet")."""

    ext = "parquet"

    def write(self, iterator) -> _StagedUpload:
        import os
        import uuid

        import pyarrow as pa
        import pyarrow.parquet as pq

        staging = os.path.join(self.dest, "_staging")
        os.makedirs(staging, exist_ok=True)
        path = os.path.join(staging, uuid.uuid4().hex + ".parquet")
        writer = None
        n = 0
        for batch in iterator:
            if writer is None:
                writer = pq.ParquetWriter(path, batch.schema)
            writer.write_table(pa.Table.from_batches([batch]))
            n += batch.num_rows
        if writer is None:
            # empty task: stage a zero-row marker the commit step removes
            with open(path, "w"):
                pass
        else:
            writer.close()
        return _StagedUpload(staged=path, n_rows=n)
