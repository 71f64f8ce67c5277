"""End-to-end producer-pipeline tests (SURVEY.md §3.1 parity) and the
Python DataSource REST connector.
"""

from __future__ import annotations

import datetime
import os

import pytest

from pyspark.sql import functions as F

from fanstats_producer_spark.pipeline import demo_fetcher, run_pipeline
from fanstats_producer_spark.sources import rest_datasource


@pytest.fixture()
def configs(tmp_path):
    data = tmp_path / "nba.yaml"
    data.write_text(
        "version: 1.0\n---\nTopic: NBA\nType: League\nAliases:\n  - Basketball\n"
    )
    plats = tmp_path / "platforms.yaml"
    plats.write_text("version: 1.0\n---\nPlatforms:\n  - Twitter\n")
    return str(data), str(plats)


def test_run_pipeline_end_to_end(spark, configs, tmp_path):
    """config → lookback → paginated collect → filters → partitioned sink."""
    data_file, platforms_file = configs
    out = str(tmp_path / "lake")
    wrote = run_pipeline(
        spark,
        data_file,
        platforms_file,
        out,
        fetch_page=demo_fetcher(),
        now=datetime.datetime(2024, 1, 16, 5, 0, tzinfo=datetime.timezone.utc),
    )
    assert wrote == {"Twitter": True}
    # layout: platform/topic/year/month/day (main.py:70-73 as named partitions)
    assert os.path.isdir(
        os.path.join(out, "platform=Twitter", "topic=NBA", "year=2024",
                     "month=01", "day=15")
    )
    back = spark.read.json(out)
    # demo fetcher: 3 pages x 25 rows per topic, 2 topics (NBA + alias)
    assert back.count() == 150
    assert {r.platform for r in back.select("platform").distinct().collect()} == {"Twitter"}


def test_run_pipeline_unsupported_platform(spark, tmp_path, configs):
    data_file, _ = configs
    bad = tmp_path / "bad_platforms.yaml"
    bad.write_text("version: 1.0\n---\nPlatforms:\n  - Facebook\n")
    with pytest.raises(ValueError, match="platform not supported"):
        run_pipeline(spark, data_file, str(bad), str(tmp_path / "x"),
                     fetch_page=demo_fetcher())


def test_rest_datasource_parallel_topics(spark):
    """The DataSourceV2-style connector: one input partition per topic,
    cap + clamp as reader options, pinned schema."""
    rest_datasource.register(spark)
    df = (
        spark.read.format("fanstats_rest")
        .option("topics", "NBA,NFL,MLB")
        .option("max_results", "60")
        .load()
    )
    assert df.schema == rest_datasource.TWEET_SCHEMA
    assert df.count() == 180  # 60-cap per topic x 3 topics
    assert df.rdd.getNumPartitions() == 3  # one partition per topic
    texts = df.select("text").limit(5).collect()
    assert all("game update" in r.text for r in texts)


def test_rest_datasource_custom_fetcher_via_import_spec(spark):
    """A custom fetcher must work although the reader is constructed in
    a plan-time Python worker and run on executor workers — processes
    that import rest_datasource fresh, where anything the driver adds to
    FETCHERS at run time is invisible.  The supported cross-process
    path is an importable 'module:attr' spec, resolved in __init__ and
    pickled with the reader."""
    rest_datasource.register(spark)
    df = (
        spark.read.format("fanstats_rest")
        .option("topics", "NBA,NFL")
        .option("max_results", "10")
        .option("fetcher", "fanstats_producer_spark.pipeline:demo_fetcher")
        .load()
    )
    rows = df.select("id", "text").collect()
    assert len(rows) == 20  # 10-cap per topic × 2 topics
    assert all("game update" in r.text for r in rows)

    # An unknown bare name fails loudly at plan time, listing the registry.
    with pytest.raises(Exception, match="unknown fetcher|KeyError"):
        (
            spark.read.format("fanstats_rest")
            .option("topics", "NBA")
            .option("fetcher", "nonexistent")
            .load()
            .count()
        )


def test_rest_datasource_cap_mid_page(spark):
    rest_datasource.register(spark)
    df = (
        spark.read.format("fanstats_rest")
        .option("topics", "NBA")
        .option("max_results", "30")  # demo pages are 25 rows → cap mid-page 2
        .load()
    )
    assert df.count() == 30


@pytest.mark.parametrize(
    "fetcher", ["empty_pages_same_cursor", "empty_pages_fresh_cursor"]
)
def test_rest_datasource_ends_on_empty_pages(spark, fetcher):
    """The batch reader walks the shared cursor loop, so an empty page
    behind a live cursor ends each topic's chain (the fake raises after
    20 requests: a reader without the guard fails instead of hanging)."""
    rest_datasource.register(spark)
    df = (
        spark.read.format("fanstats_rest")
        .option("topics", "NBA,NFL")
        .option("fetcher", f"tests.fetchers:{fetcher}")
        .load()
    )
    assert df.collect() == []


def _assert_api_v2_fields(rows):
    """tests.fetchers.api_v2_objects landed by field name: its
    public_metrics keys come in another order than TWEET_SCHEMA's, and
    its entities object holds only hashtags."""
    assert len(rows) == 6
    for r in rows:
        assert r.public_metrics.asDict() == {
            "retweet_count": 1, "reply_count": 2, "like_count": 7, "quote_count": 3,
        }
        assert [h.tag for h in r.entities.hashtags] == ["nba"]
        assert r.entities.mentions is None and r.context_annotations is None


def test_rest_datasource_maps_nested_fields_by_name(spark):
    rest_datasource.register(spark)
    df = (
        spark.read.format("fanstats_rest")
        .option("topics", "NBA")
        .option("fetcher", "tests.fetchers:api_v2_objects")
        .load()
    )
    _assert_api_v2_fields(df.collect())


def test_rest_stream_source_maps_nested_fields_by_name(spark, tmp_path):
    rest_datasource.register(spark)
    out = str(tmp_path / "out")
    q = (
        spark.readStream.format("fanstats_rest")
        .option("topics", "NBA")
        .option("fetcher", "tests.fetchers:api_v2_objects")
        .option("pages_per_batch", "2")
        .load()
        .writeStream.format("parquet")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .option("path", out)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    _assert_api_v2_fields(spark.read.parquet(out).collect())


def test_landed_data_supports_athena_style_analytics(spark, configs, tmp_path):
    """The full reference loop: produce → land → analyze.  The analytics
    the reference delegates to Athena (engagement rollups over the
    landed layout, main.py:4-5) run directly on our lake."""
    data_file, platforms_file = configs
    out = str(tmp_path / "lake2")
    run_pipeline(
        spark, data_file, platforms_file, out,
        fetch_page=demo_fetcher(),
        now=datetime.datetime(2024, 1, 16, 5, 0, tzinfo=datetime.timezone.utc),
    )
    lake = spark.read.json(out)
    lake.createOrReplaceTempView("landed_tweets")
    daily = spark.sql(
        """
        SELECT topic, year, month, day,
               COUNT(*) AS n_posts,
               SUM(public_metrics.like_count) AS likes,
               SUM(public_metrics.retweet_count) AS retweets,
               ROUND(AVG(public_metrics.like_count), 2) AS avg_likes
        FROM landed_tweets
        GROUP BY topic, year, month, day
        ORDER BY n_posts DESC
        """
    ).collect()
    assert len(daily) == 1  # one topic-day in the demo fetch
    row = daily[0]
    assert (row.topic, row.year, row.month, row.day) == ("NBA", 2024, 1, 15)
    assert row.n_posts == 150
    # engagement figures: demo fetcher likes = 2*i for i in 0..24, x2 topics x3 pages
    assert row.likes == 2 * sum(2 * i for i in range(25)) * 3


def test_pipeline_second_platform_collector(spark, configs, tmp_path):
    """P9 extensibility: a Reddit-shaped collector (different schema)
    lands beside Twitter in the same run, same lake."""
    data_file, _ = configs
    plats = tmp_path / "two_platforms.yaml"
    plats.write_text("version: 1.0\n---\nPlatforms:\n  - Twitter\n  - Reddit\n")
    out = str(tmp_path / "lake3")

    def reddit_collector(s):
        return s.createDataFrame(
            [("r1", "NBA thread", "2024-01-15T08:00:00.000Z", 42),
             ("r2", "trade rumors", "2024-01-15T09:00:00.000Z", 7)],
            "id string, title string, created_at string, upvotes int",
        )

    wrote = run_pipeline(
        spark, data_file, str(plats), out,
        fetch_page=demo_fetcher(),
        now=datetime.datetime(2024, 1, 16, 5, 0, tzinfo=datetime.timezone.utc),
        extra_collectors={"Reddit": reddit_collector},
    )
    assert wrote == {"Twitter": True, "Reddit": True}
    lake = spark.read.option("mergeSchema", True).json(out)
    by_platform = {
        r.platform: r.n for r in
        lake.groupBy("platform").agg(F.count("*").alias("n")).collect()
    }
    assert by_platform == {"Twitter": 150, "Reddit": 2}
    # schema drift tolerated: upvotes only on Reddit rows
    assert lake.filter(F.col("upvotes").isNotNull()).count() == 2


def test_rest_stream_source_resumes_from_checkpoint(spark, tmp_path):
    """Streaming REST source: micro-batches advance the per-topic cursor,
    the offset persists in the checkpoint, and a restarted query resumes
    without re-reading pages (exactly-once crawl)."""
    rest_datasource.register(spark)
    out, ckpt = str(tmp_path / "out"), str(tmp_path / "ckpt")

    def run_once():
        stream = (
            spark.readStream.format("fanstats_rest")
            .option("topics", "NBA")
            .option("pages_per_batch", "2")
            .load()
        )
        q = (
            stream.writeStream.format("parquet")
            .option("checkpointLocation", ckpt)
            .option("path", out)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    # demo fetcher: 3 pages x 25 rows; 2 pages per batch → each run picks
    # up exactly where the checkpointed cursor left off
    run_once()
    assert spark.read.parquet(out).count() == 50  # pages 0-1
    run_once()
    after2 = spark.read.parquet(out)
    assert after2.count() == 75  # page 2; cursor now exhausted
    assert after2.select("id").distinct().count() == 75  # no page re-read
    run_once()  # restart on a drained cursor: nothing re-read
    assert spark.read.parquet(out).count() == 75


def test_scd2_merge_closes_and_opens(spark):
    """Matched keys emit a closed old row + an open new row; unmatched
    keys pass through current; point-in-time lookup works."""
    import datetime

    import pyspark.sql.functions as F

    from fanstats_producer_spark.operators.scd import scd2_merge

    dim = spark.createDataFrame(
        [(1, "AUTO", datetime.date(1990, 1, 1)), (2, "BIKE", datetime.date(1991, 5, 2))],
        "k long, segment string, valid_from date",
    )
    upd = spark.createDataFrame(
        [(1, "HOUSE", datetime.date(1995, 6, 1))],
        "k long, segment string, eff_date date",
    )
    hist = scd2_merge(dim, upd, key="k", attr="segment")
    rows = sorted(hist.collect(), key=lambda r: (r.k, r.valid_from))
    assert [(r.k, r.segment, str(r.valid_from), r.valid_to and str(r.valid_to), r.is_current) for r in rows] == [
        (1, "AUTO", "1990-01-01", "1995-06-01", False),
        (1, "HOUSE", "1995-06-01", None, True),
        (2, "BIKE", "1991-05-02", None, True),
    ]
    # point-in-time join: as of 1993-01-01, key 1 is still AUTO
    asof = hist.filter(
        (F.lit("1993-01-01").cast("date") >= F.col("valid_from"))
        & (F.col("valid_to").isNull() | (F.lit("1993-01-01").cast("date") < F.col("valid_to")))
    )
    assert {(r.k, r.segment) for r in asof.collect()} == {(1, "AUTO"), (2, "BIKE")}


def test_upload_sink_commit_protocol(spark, tmp_path):
    """The custom sink stages per-task output and only promotes it on job
    commit: committed files + _SUCCESS manifest appear, empty partitions
    upload nothing, the staging area drains."""
    import json as _json
    import os

    from fanstats_producer_spark.sources.rest_datasource import RestDataSource

    spark.dataSource.register(RestDataSource)
    dest = tmp_path / "up"
    dest.mkdir()
    df = spark.createDataFrame(
        [(1, "a"), (2, "b"), (3, "c")], "id long, v string"
    ).repartition(8)  # most partitions empty -> empty-result guard per task
    df.write.format("fanstats_rest").mode("append").option("dest", str(dest)).save()

    manifest = _json.loads((dest / "_SUCCESS").read_text())
    parts = sorted(p for p in os.listdir(dest) if p.startswith("part-"))
    assert manifest["rows"] == 3
    assert manifest["files"] == len(parts) <= 3  # empties not uploaded
    got = sorted(
        _json.loads(line)["id"]
        for p in parts
        for line in (dest / p).read_text().splitlines()
    )
    assert got == [1, 2, 3]
    assert os.listdir(dest / "_staging") == []  # staged files all promoted

    # overwrite mode replaces previously committed objects
    df2 = spark.createDataFrame([(9, "z")], "id long, v string")
    df2.write.format("fanstats_rest").mode("overwrite").option("dest", str(dest)).save()
    manifest2 = _json.loads((dest / "_SUCCESS").read_text())
    assert manifest2["rows"] == 1
    rows = [
        _json.loads(line)
        for p in os.listdir(dest)
        if p.startswith("part-")
        for line in (dest / p).read_text().splitlines()
    ]
    assert [r["id"] for r in rows] == [9]


def test_upload_sink_arrow_arm(spark, tmp_path):
    """Arrow-batch writer stages parquet per task under the same commit
    protocol; committed files read back as the original rows."""
    import json as _json
    import os

    from fanstats_producer_spark.sources.rest_datasource import RestDataSource

    spark.dataSource.register(RestDataSource)
    dest = tmp_path / "up"
    dest.mkdir()
    df = spark.createDataFrame(
        [(i, f"v{i}") for i in range(100)], "id long, v string"
    ).repartition(4)
    (
        df.write.format("fanstats_rest")
        .mode("append")
        .option("dest", str(dest))
        .option("format", "arrow-parquet")
        .save()
    )
    manifest = _json.loads((dest / "_SUCCESS").read_text())
    assert manifest["rows"] == 100
    back = spark.read.parquet(str(dest))  # committed part-*.parquet files
    assert back.count() == 100
    assert sorted(r.id for r in back.collect()) == list(range(100))
    assert os.listdir(dest / "_staging") == []


def test_observed_metrics_batch(spark):
    """observe() metrics are computed during the action — no second scan
    — and report the ingest counters the reference printed to stdout."""
    from fanstats_producer_spark.observability import with_observation

    df = spark.range(100).selectExpr(
        "CASE WHEN id % 10 = 0 THEN NULL ELSE id END AS id",
        "CASE WHEN id % 4 = 0 THEN '' ELSE 'txt' END AS text",
    )
    observed, obs = with_observation(df, "ingest", text_col="text")
    observed.write.format("noop").mode("overwrite").save()
    got = obs.get
    assert got["n_rows"] == 100
    assert got["n_null_id"] == 10
    assert got["n_empty_text"] == 25


def test_observed_metrics_stream(spark, tmp_path):
    """Streaming arm: the same metric exprs surface per micro-batch in
    the progress event's observedMetrics."""
    import time

    from fanstats_producer_spark.observability import with_stream_metrics

    staging = tmp_path / "staging"
    src = tmp_path / "src"
    src.mkdir()
    spark.range(50).selectExpr("id", "'t' AS text").coalesce(1).write.parquet(
        str(staging)
    )
    # the file-stream source wants FILES in the landing dir (the s01
    # staging trick), not a nested parquet directory
    import shutil

    part = next(staging.glob("part-*.parquet"))
    shutil.copy(part, src / "batch0.parquet")
    schema = spark.read.parquet(str(staging)).schema
    stream = spark.readStream.schema(schema).parquet(str(src))
    metered = with_stream_metrics(stream, "ingest_stream", text_col="text")
    q = (
        metered.writeStream.format("noop")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    progress = [p for p in q.recentProgress if p.get("observedMetrics")]
    assert progress, "no progress event carried observedMetrics"
    m = progress[-1]["observedMetrics"]["ingest_stream"]
    assert m["n_rows"] == 50 and m["n_null_id"] == 0 and m["n_empty_text"] == 0
