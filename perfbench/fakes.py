"""Seeded fake social APIs for the `produce` workload.

Each platform fake reproduces the page shape its collector parses:

- Twitter search: ``fetch_page(topic, start_time, next_token, page_size)``
  returns API-v2 tweet objects and a ``next_token`` cursor.
- Reddit listing: ``fetch_listing(subreddit, after, limit)`` returns
  ``{"kind", "data"}`` children and the ``after`` fullname of the last post.
- Facebook Graph feed: ``fetch_feed(page_id, after, limit)`` returns flat
  post objects with a nested ``from`` author, ``+0000``-offset timestamps
  and an opaque ``after`` cursor.

Traffic follows the reference producer's recorded envelope (BASELINE.md,
"Reference operational envelope"): a daily run with a 24 h lookback
(main.py:263), 100 rows per request and a 3000-row cap per topic query
(main.py:13-19, 136), which implies about 3000 rows per topic per day.
So every cursor chain here, one per topic query on each platform,
holds CHAIN_ROWS items, straddling the cap: on some chains the cap cuts a
page in the middle, on the others the chain ends first.  The topic carries
one alias, as the reference's nba.yaml does (nba.yaml:6-7); the producer
queries the topic and the alias on Twitter and Reddit and the topic's page
on Facebook, five chains and about 15k rows per run.

Every page list is generated up front from the seed, so a fetch only slices
a list.  The generator also derives what a correct producer must land: rows
per (platform, partition topic, day) after the Twitter source filters and
the 3000-row per-topic cap, plus the engagement sum the daily rollup reads.
"""

from __future__ import annotations

import base64
import dataclasses
import datetime as dt
import json
import random
import threading
import time

PAGE_LIMIT = 100  # per-request clamp shared by all three platforms
CAP = 3000  # per-topic row cap shared by all three platforms
CHAIN_ROWS = (2800, 3400)  # items per cursor chain, around CAP
LOOKBACK_DAYS = 1  # the reference's 24 h lookback

TOPIC_POOL = [
    ("NBA", ["Basketball", "Hoops", "NBATwitter"]),
    ("Lakers", ["LakeShow", "LosAngelesLakers", "LeBron"]),
    ("Celtics", ["BleedGreen", "BostonCeltics", "Tatum"]),
    ("Warriors", ["DubNation", "GSW", "Curry"]),
    ("Knicks", ["NewYorkForever", "NYK", "MSG"]),
]
OTHER_LANGS = ["de", "es", "fr", "ja", "pt"]
TAGS = ["nba", "hoops", "gameday", "playoffs", "mvp"]
TOPSHOT = ["NBATopShot", "nbatopshot", "NbaTopShot"]
WORDS = "dunk three pointer assist rebound block steal buzzer clutch bench".split()

Key = tuple[str, str, str, str, str]  # platform, topic, year, month, day


@dataclasses.dataclass
class Counts:
    """Expected landed rows and engagement per lake partition."""

    rows: dict[Key, int] = dataclasses.field(default_factory=dict)
    engagement: dict[Key, int] = dataclasses.field(default_factory=dict)

    def add(self, key: Key, engagement: int) -> None:
        self.rows[key] = self.rows.get(key, 0) + 1
        self.engagement[key] = self.engagement.get(key, 0) + engagement

    def merged(self, other: "Counts") -> "Counts":
        out = Counts(dict(self.rows), dict(self.engagement))
        for k, n in other.rows.items():
            out.rows[k] = out.rows.get(k, 0) + n
            out.engagement[k] = out.engagement.get(k, 0) + other.engagement[k]
        return out

    def table(self) -> dict[Key, tuple[int, int]]:
        return {k: (n, self.engagement[k]) for k, n in self.rows.items()}


@dataclasses.dataclass
class ScheduledRun:
    """Inputs of one scheduled producer run and what it must land."""

    now: dt.datetime
    lookback_days: int
    twitter: dict[str, list[list[dict]]]  # topic -> pages of tweets
    reddit: dict[str, list[list[dict]]]  # subreddit -> pages of children
    facebook: dict[str, list[list[dict]]]  # page id -> pages of posts
    expected: Counts
    #: JSON bytes of each page, by (platform, topic): measured here, so
    #: the timed fetches do no serialising of their own.
    sizes: dict[tuple[str, str], list[int]] = dataclasses.field(default_factory=dict)

    @property
    def start_time(self) -> str:
        start = self.now - dt.timedelta(days=self.lookback_days)
        return start.strftime("%Y-%m-%dT%H:%M:%SZ")


@dataclasses.dataclass
class ProduceInputs:
    topic: str
    type: str
    aliases: list[str]
    league: str | None
    runs: list[ScheduledRun]

    @property
    def partition_topic(self) -> str:
        return self.league if self.type == "Team" else self.topic

    @property
    def topics(self) -> list[str]:
        return list(dict.fromkeys([self.topic, *self.aliases]))

    def data_file_yaml(self) -> str:
        lines = ["version: 1.0", "---", f"Topic: {self.topic}", f"Type: {self.type}"]
        if self.league:
            lines.append(f"League: {self.league}")
        lines.append("Aliases:")
        lines += [f"  - {a}" for a in self.aliases]
        return "\n".join(lines) + "\n"


class Meter:
    """Counts requests and the rows and JSON bytes the fakes hand out."""

    def __init__(self) -> None:
        self.pages = 0
        self.rows = 0
        self.bytes = 0
        self._lock = threading.Lock()  # collectors fetch topics on threads

    def record(self, rows: int, size: int) -> None:
        with self._lock:
            self.pages += 1
            self.rows += rows
            self.bytes += size


def _page_bytes(items: list[dict]) -> int:
    return sum(len(json.dumps(i)) + 1 for i in items)


def _split(total: int, rng: random.Random, lo: int = 40) -> list[int]:
    """Page lengths summing to ``total``, each in [lo, PAGE_LIMIT]."""
    sizes = []
    while total > 0:
        n = min(total, rng.randint(lo, PAGE_LIMIT))
        sizes.append(n)
        total -= n
    return sizes


def _chain_sizes(rng: random.Random) -> list[int]:
    """Page lengths of one cursor chain sized against the cap."""
    return _split(rng.randint(*CHAIN_ROWS), rng, lo=60)


def _when(rng: random.Random, run: ScheduledRun, skew: float) -> dt.datetime:
    """A post time in the lookback window; ``skew`` > 1 piles posts up
    near ``now``, so the seed varies how rows spread over the days."""
    span = run.lookback_days * 86400 - 60
    return run.now - dt.timedelta(seconds=1 + int(span * rng.random() ** skew))


def _day_key(platform: str, topic: str, ts: dt.datetime) -> Key:
    return (platform, topic, f"{ts.year:04d}", f"{ts.month:02d}", f"{ts.day:02d}")


def _twitter(rng, run, topics, ptopic, shares, skew, ids) -> None:
    rt, non_en, topshot = shares
    for topic in topics:
        pages, kept = [], 0
        for n in _chain_sizes(rng):
            page = []
            for _ in range(n):
                ts = _when(rng, run, skew)
                pm = {
                    "retweet_count": rng.randint(0, 50),
                    "reply_count": rng.randint(0, 20),
                    "like_count": rng.randint(0, 400),
                    "quote_count": rng.randint(0, 5),
                }
                is_rt = rng.random() < rt
                lang = "en" if rng.random() >= non_en else rng.choice(OTHER_LANGS)
                tags = rng.sample(TAGS, rng.randint(0, 2))
                if rng.random() < topshot:
                    tags.append(rng.choice(TOPSHOT))
                body = " ".join(rng.choices(WORDS, k=6))
                text = f"RT @fan{rng.randint(1, 99)}: {body}" if is_rt else f"{topic} {body}"
                entities = (
                    {"hashtags": [{"start": 0, "end": len(t) + 1, "tag": t} for t in tags]}
                    if tags
                    else None
                )
                page.append(
                    {
                        "id": str(next(ids)),
                        "text": text,
                        "created_at": ts.strftime("%Y-%m-%dT%H:%M:%S.000Z"),
                        "lang": lang,
                        "public_metrics": pm,
                        "entities": entities,
                        "context_annotations": None,
                    }
                )
                if kept < CAP:
                    kept += 1
                    dropped = is_rt or lang != "en" or any(
                        t.lower() == "nbatopshot" for t in tags
                    )
                    if not dropped:
                        run.expected.add(_day_key("Twitter", ptopic, ts), sum(pm.values()))
            pages.append(page)
        run.twitter[topic] = pages


def _reddit(rng, run, subs, ptopic, skew, ids) -> None:
    for sub in subs:
        pages, kept = [], 0
        for n in _chain_sizes(rng):
            page = []
            for i in range(n):
                kind = "t3" if i == 0 or rng.random() > 0.05 else "t1"
                ts = _when(rng, run, skew)
                pid = f"{next(ids):x}"
                data = {
                    "id": pid,
                    "subreddit": sub,
                    "title": " ".join(rng.choices(WORDS, k=5)),
                    "selftext": "" if rng.random() < 0.5 else " ".join(rng.choices(WORDS, k=9)),
                    "author": f"u{rng.randint(1, 500)}",
                    "created_utc": float(int(ts.timestamp())),
                    "score": rng.randint(0, 900),
                    "num_comments": rng.randint(0, 80),
                }
                if kind == "t3" and i > 0 and rng.random() < 0.03:
                    del data["id"]  # a removed post arrives field-stripped
                page.append({"kind": kind, "data": data})
                if kind == "t3" and "id" in data and kept < CAP:
                    kept += 1
                    run.expected.add(
                        _day_key("Reddit", ptopic, ts), data["score"] + data["num_comments"]
                    )
            pages.append(page)
        run.reddit[sub] = pages


def _facebook(rng, run, page_id, ptopic, skew, ids) -> None:
    pages, kept = [], 0
    for n in _chain_sizes(rng):
        page = []
        for i in range(n):
            ts = _when(rng, run, skew)
            post = {
                "id": f"{page_id}_{next(ids)}",
                "message": " ".join(rng.choices(WORDS, k=7)),
                "from": {"id": str(rng.randint(1, 300)), "name": f"fan {rng.randint(1, 300)}"},
                "created_time": ts.strftime("%Y-%m-%dT%H:%M:%S+0000"),
                "reactions": {"summary": {"total_count": rng.randint(0, 300)}},
                "comments": {"summary": {"total_count": rng.randint(0, 40)}},
                "shares": {"count": rng.randint(0, 15)},
            }
            if i > 0 and rng.random() < 0.03:
                post = {"message": post["message"]}  # permission-stripped stub
            page.append(post)
            if "id" in post and kept < CAP:
                kept += 1
                eng = (
                    post["reactions"]["summary"]["total_count"]
                    + post["comments"]["summary"]["total_count"]
                    + post["shares"]["count"]
                )
                run.expected.add(_day_key("Facebook", ptopic, ts), eng)
        pages.append(page)
    run.facebook[page_id] = pages


def generate(seed: int, runs: int) -> ProduceInputs:
    """``runs`` consecutive daily scheduled runs for one seeded topic.

    Row totals per run stay within a few percent across seeds; the seed
    varies the topic and its alias, how each chain splits into pages and
    where the cap cuts it, the filter shares, and how the posts spread
    over the two calendar days a 24 h window touches."""
    rng = random.Random(seed)
    topic, alias_pool = rng.choice(TOPIC_POOL)
    aliases = [rng.choice(alias_pool)]
    kind = rng.choice(["League", "Team"])
    league = "NBA" if kind == "Team" else None
    shares = (rng.uniform(0.05, 0.25), rng.uniform(0.1, 0.3), rng.uniform(0.02, 0.1))
    inputs = ProduceInputs(topic, kind, aliases, league, [])
    ptopic = inputs.partition_topic
    start = dt.datetime(2024, 1, 10, 5, 0, tzinfo=dt.timezone.utc) + dt.timedelta(
        days=rng.randint(0, 300), hours=rng.randint(0, 18)
    )
    ids = iter(range(10**9, 2 * 10**9))
    for r in range(runs):
        run = ScheduledRun(start + dt.timedelta(days=r), LOOKBACK_DAYS, {}, {}, {}, Counts())
        skew = rng.uniform(1.0, 3.0)
        _twitter(rng, run, inputs.topics, ptopic, shares, skew, ids)
        _reddit(rng, run, [t.lower() for t in inputs.topics], ptopic, skew, ids)
        _facebook(rng, run, topic.lower(), ptopic, skew, ids)
        for platform in ("twitter", "reddit", "facebook"):
            for key, pages in getattr(run, platform).items():
                run.sizes[(platform, key)] = [_page_bytes(p) for p in pages]
        inputs.runs.append(run)
    return inputs


def _cursor(i: int) -> str:
    return base64.urlsafe_b64encode(f"cursor:{i}".encode()).decode()


def _uncursor(c: str) -> int:
    return int(base64.urlsafe_b64decode(c.encode()).decode().split(":")[1])


class Fetchers:
    """The three page fetchers over one scheduled run's pages."""

    def __init__(self, run: ScheduledRun, meter: Meter) -> None:
        self.run = run
        self.meter = meter
        self._reddit_after: dict[str, int] = {}  # fullname cursor -> page
        #: When the program's own Twitter collector made its first request.
        self.twitter_start: float | None = None

    def _serve(self, platform: str, key: str, i: int, limit: int) -> tuple[list[dict], int]:
        """Page ``i`` of a chain, clamped to ``limit``; also the chain's length."""
        pages = getattr(self.run, platform)[key]
        page = pages[i][: min(limit, PAGE_LIMIT)]
        if len(page) == len(pages[i]):
            size = self.run.sizes[(platform, key)][i]
        else:
            size = _page_bytes(page)
        self.meter.record(len(page), size)
        return page, len(pages)

    def twitter(self, topic, start_time, next_token, page_size):
        if self.twitter_start is None:
            self.twitter_start = time.time()
        if start_time != self.run.start_time:
            raise ValueError(f"lookback start {start_time!r} != {self.run.start_time!r}")
        i = 0 if next_token is None else int(next_token)
        page, n = self._serve("twitter", topic, i, page_size)
        return page, (str(i + 1) if i + 1 < n else None)

    def reddit(self, subreddit, after, limit):
        i = 0 if after is None else self._reddit_after[after]
        page, n = self._serve("reddit", subreddit, i, limit)
        if i + 1 >= n:
            return page, None
        last = next(c["data"]["id"] for c in reversed(page) if "id" in c["data"])
        cursor = f"t3_{last}"
        self._reddit_after[cursor] = i + 1
        return page, cursor

    def facebook(self, page_id, after, limit):
        i = 0 if after is None else _uncursor(after)
        page, n = self._serve("facebook", page_id, i, limit)
        return page, (_cursor(i + 1) if i + 1 < n else None)
