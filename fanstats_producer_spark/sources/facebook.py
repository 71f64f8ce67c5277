"""Facebook Graph-API page-feed collector (SURVEY.md §2A P9's planned
third platform — the reference's Architecture.png shows Facebook and
Reddit as future sources next to the shipped Twitter crawler;
main.py:216-219 errors on them today; Reddit landed in round 6, this
is the Facebook arm).

The Graph API `/{page-id}/feed` edge paginates differently from both
Twitter and Reddit, and this module models that shape faithfully:

- cursoring is by an opaque `paging.cursors.after` token; a response
  without a usable `after` (or without `paging.next`) ends the feed;
- items arrive as a flat `data` array of post objects — no kind/data
  envelope, but the author is a NESTED ``from: {"id", "name"}`` object
  that must be flattened before landing;
- timestamps are ``created_time`` RFC-3339 strings with a NUMERIC
  offset (``2024-01-01T12:00:00+0000``), not Twitter's ``Z`` suffix
  and not Reddit's epoch floats;
- engagement counts arrive as nested summaries
  (``reactions.summary.total_count`` etc.) when the fetch requested
  them — absent summaries land as 0;
- the per-request ``limit`` clamps at 100 like the other platforms.

The cursor loop, clamp, cap and liveness guards are rest.py's shared
`iter_chain`; this module only adds the schema and the per-item row
adapter.  The HTTP seam is ``fetch_feed(page_id, after, limit) -> (post
objects, after)``, injectable exactly like rest.py's (no network in
this repo; tests inject a deterministic fake).  ``normalize_posts``
adapts landed posts to the TWEET_SCHEMA column names, so a
``run_pipeline`` collector lands Facebook rows in the same lake as the
Twitter and Reddit ones — one pipeline, N platforms.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    LongType,
    StringType,
    StructField,
    StructType,
)

from fanstats_producer_spark.sources.rest import PaginatedSource

FACEBOOK_POST_SCHEMA = StructType(
    [
        StructField("post_id", StringType()),
        StructField("page", StringType()),
        StructField("message", StringType()),
        StructField("author_id", StringType()),
        StructField("author_name", StringType()),
        StructField("created_time", StringType()),
        StructField("reactions", LongType()),
        StructField("comments", LongType()),
        StructField("shares", LongType()),
    ]
)


def _summary_count(post: dict, edge: str) -> int:
    """``{edge}.summary.total_count`` with per-row tolerance: absent or
    malformed summaries land as 0 rather than killing the scan."""
    try:
        return int(((post.get(edge) or {}).get("summary") or {}).get(
            "total_count"
        ) or 0)
    except (TypeError, ValueError):
        return 0


class FacebookFeedSource(PaginatedSource):
    schema = FACEBOOK_POST_SCHEMA

    @staticmethod
    def row(post: dict, page_id: str) -> dict | None:
        if not isinstance(post, dict) or not post.get("id"):
            # deleted/permission-stripped posts arrive as bare stubs; a
            # row without an id is unusable — skip it rather than kill
            # the scan (the rest.py contract: land what's landable)
            return None
        frm = post.get("from")
        if not isinstance(frm, dict):  # stripped/odd author
            frm = {}
        try:
            shares = int((post.get("shares") or {}).get("count") or 0)
        except (TypeError, ValueError):
            shares = 0
        return {
            "post_id": str(post["id"]),
            "page": page_id,
            "message": post.get("message", ""),
            "author_id": frm.get("id"),
            "author_name": frm.get("name"),
            "created_time": post.get("created_time"),
            "reactions": _summary_count(post, "reactions"),
            "comments": _summary_count(post, "comments"),
            "shares": shares,
        }


def normalize_posts(posts: DataFrame) -> DataFrame:
    """Adapt landed Graph-API posts to the Twitter collector's column
    names so the P9 union aligns: id, text (message), created_at
    (RFC-3339 ``Z`` milliseconds from the ``+0000``-offset string),
    author_id.  Platform-specific columns (page, reactions, comments,
    shares) ride along — a mergeSchema read of the lake null-fills them
    on the other platforms' rows.

    The offset-aware parse makes the conversion timezone-invariant
    (same concern as reddit.py's normalize_posts): ``to_timestamp``
    with an explicit ``Z`` offset pattern anchors the instant, and
    ``to_utc_timestamp(…, current_timezone())`` re-expresses the
    session-zone wall clock back to UTC before formatting."""
    return posts.select(
        F.col("post_id").alias("id"),
        F.col("message").alias("text"),
        F.date_format(
            F.to_utc_timestamp(
                F.to_timestamp(
                    F.col("created_time"), "yyyy-MM-dd'T'HH:mm:ssZ"
                ),
                F.expr("current_timezone()"),
            ),
            "yyyy-MM-dd'T'HH:mm:ss.SSS'Z'",
        ).alias("created_at"),
        "author_id",
        "page",
        "reactions",
        "comments",
        "shares",
    )

