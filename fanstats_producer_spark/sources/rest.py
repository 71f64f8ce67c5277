"""Paginated REST source (SURVEY.md §2A P1/P2/P4/P11).

The reference's `write_tweets` loop (reference main.py:122-160) pulls
≤RESULTS_PER_PAGE rows per request, follows `meta.next_token`, and stops
at MAX_RESULTS (main.py:136, 156-160).  This module reproduces those
semantics as a Spark source:

- `PaginatedSource` takes an injectable `fetch_page` callable (the
  seam where the real authenticated HTTP GET, main.py:114-120, plugs
  in; tests inject a deterministic fake — no network in this repo).
- Pagination is cursor-serial per topic (the API forces that), but
  topics fan out in parallel — the axis the reference leaves on the
  table (it loops topics sequentially in one process, main.py:214).
- Each topic's pages accumulate on the driver as plain dicts, cut at
  the cap exactly like main.py:136 (stop counting, then truncate).
  All topics' rows then become one TWEET_SCHEMA frame through
  `ndjson.frame_from_rows`: a single Arrow table handed to the JVM, so
  the sink's guard and write never call back into Python.

Scale note: a production deployment would wrap this as a DataSourceV2
reader with SupportsPushDownFilters/RequiredColumns so the query-string
predicates (P2) stay source-side; for this repo the seam is the
callable and predicates apply as post-filters (same semantics — the
fixtures are already landed data).
"""

from __future__ import annotations

from collections.abc import Callable
from concurrent.futures import ThreadPoolExecutor

from pyspark.sql import DataFrame, SparkSession

from fanstats_producer_spark.sources.ndjson import TWEET_SCHEMA, frame_from_rows

# fetch_page(topic, start_time, next_token, page_size) ->
#   (rows: list[dict], next_token: str | None)
FetchPage = Callable[[str, str, str | None, int], tuple[list[dict], str | None]]

RESULTS_PER_PAGE = 100  # main.py:6-12
MAX_RESULTS = 3000  # main.py:13-19


class PaginatedSource:
    def __init__(
        self,
        spark: SparkSession,
        fetch_page: FetchPage,
        page_size: int = RESULTS_PER_PAGE,
        max_results: int = MAX_RESULTS,
    ) -> None:
        self.spark = spark
        self.fetch_page = fetch_page
        # per-request clamp (main.py:95-96)
        self.page_size = min(page_size, RESULTS_PER_PAGE)
        self.max_results = max_results

    def _collect_topic(self, topic: str, start_time: str) -> list[dict]:
        rows: list[dict] = []
        next_token: str | None = None
        while len(rows) < self.max_results:  # main.py:136
            page, next_token = self.fetch_page(
                topic, start_time, next_token, self.page_size
            )
            rows.extend(page)
            if next_token is None:  # main.py:156-160
                break
        return rows[: self.max_results]

    def scan(self, topics: list[str], start_time: str) -> DataFrame:
        """Fan out topics in parallel (each topic's cursor chain is
        serial), land all pages as one schema-pinned DataFrame."""
        with ThreadPoolExecutor(max_workers=max(len(topics), 1)) as pool:
            per_topic = list(pool.map(lambda t: self._collect_topic(t, start_time), topics))
        all_rows = [r for rows in per_topic for r in rows]
        return frame_from_rows(self.spark, all_rows, TWEET_SCHEMA)
