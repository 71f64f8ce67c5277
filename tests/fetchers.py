"""Twitter-shaped fetcher factories for the `fanstats_rest` DataSource
tests.  The DataSource readers run in Python workers, which resolve a
fetcher from an importable "module:attr" option, so these live in a
module of their own: ``.option("fetcher", "tests.fetchers:<name>")``."""

from __future__ import annotations

MAX_CALLS = 20


def api_v2_objects():
    """Two pages of three tweets each, shaped as API v2 sends them:
    ``public_metrics`` keys in another order than TWEET_SCHEMA's, and an
    ``entities`` object that holds only ``hashtags``."""

    def fetch(topic, start_time, next_token, page_size):
        page = 0 if next_token is None else int(next_token)
        rows = [
            {
                "id": f"{topic}-{page}-{i}",
                "text": f"{topic} tip-off {i}",
                "created_at": "2024-01-15T12:00:00.000Z",
                "lang": "en",
                "public_metrics": {
                    "like_count": 7,
                    "retweet_count": 1,
                    "reply_count": 2,
                    "quote_count": 3,
                },
                "entities": {"hashtags": [{"start": 0, "end": 4, "tag": "nba"}]},
            }
            for i in range(3)
        ]
        return rows, ("1" if page == 0 else None)

    return fetch


def _empty_pages(cursor):
    """Empty pages behind a live cursor; raises after MAX_CALLS requests
    so a scan without a liveness guard fails instead of hanging."""
    calls = 0

    def fetch(topic, start_time, next_token, page_size):
        nonlocal calls
        calls += 1
        if calls > MAX_CALLS:
            raise RuntimeError(f"still paging after {MAX_CALLS} empty pages")
        return [], cursor(calls)

    return fetch


def empty_pages_same_cursor():
    return _empty_pages(lambda n: "same")


def empty_pages_fresh_cursor():
    return _empty_pages(lambda n: f"c{n}")
