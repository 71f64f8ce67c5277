"""Reddit listing collector (SURVEY.md §2A P9's planned second
platform — the reference's Architecture.png shows Facebook and Reddit
as future sources next to the shipped Twitter crawler; main.py:216-219
errors on them today).

Reddit's public listing API paginates differently from Twitter's
search API, and this module models that shape faithfully:

- cursoring is by `after` fullname (e.g. ``t3_abc123``), not a
  ``meta.next_token`` — the cursor is the last item of the page, and
  an empty/absent ``after`` ends the listing;
- items arrive wrapped in a ``{"kind": "t3", "data": {...}}`` envelope
  that must be unwrapped before landing;
- timestamps are ``created_utc`` epoch SECONDS (float), not RFC-3339
  strings;
- the per-request ``limit`` clamps at 100, like main.py:95-96's
  RESULTS_PER_PAGE clamp.

The cursor loop, clamp, cap and liveness guards are rest.py's shared
`iter_chain`; this module only adds the schema and the per-item row
adapter.  The HTTP seam is ``fetch_listing(subreddit, after, limit) ->
(children with the kind/data envelope, after)``, injectable exactly like
rest.py's (no network in this repo; tests inject a deterministic fake).
``normalize_posts`` adapts the landed posts to the TWEET_SCHEMA column
names, so a ``run_pipeline`` collector lands Reddit rows in the same
lake as Twitter's — one pipeline, N platforms.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    DoubleType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from fanstats_producer_spark.sources.rest import PaginatedSource

REDDIT_POST_SCHEMA = StructType(
    [
        StructField("post_id", StringType()),
        StructField("subreddit", StringType()),
        StructField("title", StringType()),
        StructField("selftext", StringType()),
        StructField("author", StringType()),
        StructField("created_utc", DoubleType()),
        StructField("score", LongType()),
        StructField("num_comments", LongType()),
    ]
)


class RedditListingSource(PaginatedSource):
    schema = REDDIT_POST_SCHEMA

    @staticmethod
    def row(child: dict, subreddit: str) -> dict | None:
        if child.get("kind") != "t3":  # only link/self posts
            return None
        d = child.get("data") or {}
        if not d.get("id"):
            # removed/deleted posts can arrive field-stripped; a row
            # without an id is unusable — skip it rather than kill the
            # whole scan (the rest.py contract: land what's landable)
            return None
        # per-row tolerance: a malformed numeric field nulls / zeroes
        # that field instead of killing the whole scan
        cu = d.get("created_utc")
        try:
            cu = float(cu) if cu is not None else None
        except (TypeError, ValueError):
            cu = None
        try:
            score = int(d.get("score") or 0)
        except (TypeError, ValueError):
            score = 0
        try:
            num_comments = int(d.get("num_comments") or 0)
        except (TypeError, ValueError):
            num_comments = 0
        return {
            "post_id": d["id"],
            "subreddit": d.get("subreddit", subreddit),
            "title": d.get("title", ""),
            "selftext": d.get("selftext", ""),
            "author": d.get("author"),
            "created_utc": cu,
            "score": score,
            "num_comments": num_comments,
        }


def normalize_posts(posts: DataFrame) -> DataFrame:
    """Adapt landed Reddit posts to the Twitter collector's column
    names so the P9 union aligns: id, text (title + selftext),
    created_at (RFC-3339 from epoch seconds), author_id.  Platform-
    specific columns (subreddit, score, num_comments) ride along — a
    mergeSchema read of the lake null-fills them on the other
    platforms' rows, the drift the JSON landing tolerates."""
    return posts.select(
        F.col("post_id").alias("id"),
        F.when(
            F.length("selftext") > 0,
            F.concat_ws("\n\n", "title", "selftext"),
        )
        .otherwise(F.col("title"))
        .alias("text"),
        # render the instant in UTC regardless of the session timezone
        # (a bare date_format renders in spark.sql.session.timeZone, so
        # the literal 'Z' would lie on any non-UTC session — measured:
        # Europe/Berlin shifts the instant one hour); to_utc_timestamp
        # re-expresses the session-zone wall clock back to UTC, making
        # the composition timezone-invariant
        F.date_format(
            F.to_utc_timestamp(
                F.timestamp_seconds("created_utc"), F.expr("current_timezone()")
            ),
            "yyyy-MM-dd'T'HH:mm:ss.SSS'Z'",
        ).alias("created_at"),
        F.col("author").alias("author_id"),
        "subreddit",
        "score",
        "num_comments",
    )

