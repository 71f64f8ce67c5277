"""Paginated REST source (SURVEY.md §2A P1/P2/P4/P9/P11).

The reference's `write_tweets` loop (reference main.py:122-160) pulls
≤RESULTS_PER_PAGE rows per request, follows `meta.next_token`, and stops
at MAX_RESULTS (main.py:136, 156-160).  This module holds that loop once,
for every platform:

- `iter_chain` walks one key's cursor chain through an injectable
  ``fetch(key, cursor, limit)`` callable (the seam where the real
  authenticated HTTP GET, main.py:114-120, plugs in; tests inject a
  deterministic fake — no network in this repo).  It knows no platform:
  a per-platform ``row(item, key)`` adapter turns each page item into a
  landable dict or None.
- `PaginatedSource` is the driver scan.  Pagination is cursor-serial per
  key (the API forces that), but keys fan out in parallel — the axis the
  reference leaves on the table (it loops topics sequentially in one
  process, main.py:214).  All keys' rows then become one frame through
  `ndjson.frame_from_rows`: a single Arrow table handed to the JVM, so
  the sink's guard and write never call back into Python.  Twitter uses
  it as is; reddit.py and facebook.py subclass it with their schema and
  row adapter.

The `fanstats_rest` DataSource reader (rest_datasource.py) walks the same
`iter_chain` inside its executor partitions.

Scale note: a production deployment would push the query-string
predicates (P2) into the request; for this repo the seam is the callable
and predicates apply as post-filters (same semantics — the fixtures are
already landed data).
"""

from __future__ import annotations

from collections.abc import Callable, Iterator
from concurrent.futures import ThreadPoolExecutor

from pyspark.sql import DataFrame, SparkSession

from fanstats_producer_spark.sources.ndjson import TWEET_SCHEMA, frame_from_rows

# fetch_page(topic, start_time, next_token, page_size) ->
#   (rows: list[dict], next_token: str | None)
FetchPage = Callable[[str, str, str | None, int], tuple[list[dict], str | None]]
# fetch(key, cursor, limit) -> (items: list, cursor: str | None)
Fetch = Callable[[str, str | None, int], tuple[list, str | None]]

RESULTS_PER_PAGE = 100  # main.py:6-12; Reddit's and the Graph API's max too
MAX_RESULTS = 3000  # main.py:13-19


def iter_chain(
    fetch: Fetch,
    key: str,
    limit: int,
    max_rows: int,
    row: Callable[[object, str], dict | None],
) -> Iterator[dict]:
    """Yield up to ``max_rows`` rows of ``key``'s cursor chain, in order.

    The chain ends on an empty cursor (main.py:156-160), at the cap
    (main.py:136), or when the server stops making progress: a page with
    no usable rows, or a cursor already followed, ends it too, so a
    server that keeps handing back a live cursor cannot spin the scan
    forever."""
    n, cursor, seen = 0, None, set()
    while n < max_rows:
        before = n
        items, cursor = fetch(key, cursor, limit)
        for item in items:
            r = row(item, key)
            if r is None:
                continue
            yield r
            n += 1
            if n >= max_rows:
                return
        if not cursor or n == before or cursor in seen:
            return
        seen.add(cursor)


class PaginatedSource:
    """Twitter search results (TWEET_SCHEMA); subclasses set ``schema``
    and ``row`` for other platforms."""

    schema = TWEET_SCHEMA

    def __init__(
        self,
        spark: SparkSession,
        fetch: Fetch,
        limit: int = RESULTS_PER_PAGE,
        max_rows: int = MAX_RESULTS,
    ) -> None:
        self.spark = spark
        self.fetch = fetch
        self.limit = min(limit, RESULTS_PER_PAGE)  # per-request clamp (main.py:95-96)
        self.max_rows = max_rows

    @staticmethod
    def row(item: dict, key: str) -> dict | None:
        return item

    def _chain(self, key: str) -> list[dict]:
        return list(iter_chain(self.fetch, key, self.limit, self.max_rows, self.row))

    def scan(self, keys: list[str]) -> DataFrame:
        """Fan out keys in parallel (each key's cursor chain is serial),
        land all pages as one schema-pinned DataFrame."""
        with ThreadPoolExecutor(max_workers=max(len(keys), 1)) as pool:
            per_key = list(pool.map(self._chain, keys))
        return frame_from_rows(self.spark, [r for rows in per_key for r in rows], self.schema)
