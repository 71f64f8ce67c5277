"""Tweet NDJSON source/sink (SURVEY.md §2A P2/P3/P5/P6/P7/P12).

The reference lands Twitter API v2 tweet objects as newline-delimited
JSON (one object per line, appended — reference main.py:151-153), under
S3 keys `<platform>/<topic>/YYYY/MM/DD/HH-MM-SS.json` (main.py:70-73,
184-191).  This module re-expresses that pipeline Spark-first:

- pinned StructType for the requested `tweet.fields` (main.py:90) —
  schema declared once, not re-inferred per batch (the Glue-crawler
  inference, main.tf:304-314, remains available via infer_schema=True);
- the default source predicates `-is:retweet lang:en -%23nbatopshot`
  (main.py:89) as DataFrame filters that Catalyst pushes into the scan;
- the date/topic partition layout as *named* Hive partition columns
  (platform/topic/year/month/day) — strictly better than the
  reference's positional dirs, which Glue surfaces as partition_0..3;
- the empty-result guard (main.py:183-194) as an isEmpty check.

The driver scan (rest.PaginatedSource, for every platform) gathers its
pages as Python dicts and hands them to `frame_from_rows`, which builds
one Arrow table on the driver and passes it to the JVM once.  The
frame is then a JVM-only Arrow relation: the sink's isEmpty guard and
its write run without Python workers.  The `fanstats_rest` DataSource
readers yield the record batches of the same `arrow_table`.
"""

from __future__ import annotations

import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.conversion import LocalDataToArrowConversion
from pyspark.sql.pandas.types import to_arrow_schema
from pyspark.sql.types import (
    ArrayType,
    DoubleType,
    IntegerType,
    StringType,
    StructField,
    StructType,
    _make_type_verifier,
)

# Pinned schema for tweet.fields=created_at,context_annotations,entities,
# public_metrics (reference main.py:90; FIXTURES.md §B).
_span = lambda *extra: [  # noqa: E731
    StructField("start", IntegerType()),
    StructField("end", IntegerType()),
    *extra,
]

TWEET_SCHEMA = StructType(
    [
        StructField("id", StringType()),
        StructField("text", StringType()),
        StructField("created_at", StringType()),
        StructField("lang", StringType()),
        StructField(
            "public_metrics",
            StructType(
                [
                    StructField("retweet_count", IntegerType()),
                    StructField("reply_count", IntegerType()),
                    StructField("like_count", IntegerType()),
                    StructField("quote_count", IntegerType()),
                ]
            ),
        ),
        StructField(
            "entities",
            StructType(
                [
                    StructField(
                        "hashtags",
                        ArrayType(StructType(_span(StructField("tag", StringType())))),
                    ),
                    StructField(
                        "mentions",
                        ArrayType(StructType(_span(StructField("username", StringType())))),
                    ),
                    StructField(
                        "urls",
                        ArrayType(
                            StructType(
                                _span(
                                    StructField("url", StringType()),
                                    StructField("expanded_url", StringType()),
                                    StructField("display_url", StringType()),
                                )
                            )
                        ),
                    ),
                    StructField(
                        "annotations",
                        ArrayType(
                            StructType(
                                _span(
                                    StructField("probability", DoubleType()),
                                    StructField("type", StringType()),
                                    StructField("normalized_text", StringType()),
                                )
                            )
                        ),
                    ),
                ]
            ),
        ),
        StructField(
            "context_annotations",
            ArrayType(
                StructType(
                    [
                        StructField(
                            "domain",
                            StructType(
                                [
                                    StructField("id", StringType()),
                                    StructField("name", StringType()),
                                    StructField("description", StringType()),
                                ]
                            ),
                        ),
                        StructField(
                            "entity",
                            StructType(
                                [
                                    StructField("id", StringType()),
                                    StructField("name", StringType()),
                                    StructField("description", StringType()),
                                ]
                            ),
                        ),
                    ]
                )
            ),
        ),
    ]
)


def arrow_table(rows: list[dict], schema: StructType) -> pa.Table:
    """Rows as a schema-pinned Arrow table, matched to the schema by
    field name at every nesting level.

    Rows are checked and coerced as `spark.createDataFrame(rows, schema)`
    does: pyspark's type verifier raises the same errors (a str or a
    float in an int field, an int32 overflow), and pyspark's
    local-data-to-Arrow converter ignores extra keys, null-fills missing
    ones and renders non-str values in string fields the way Spark does
    (5 -> '5', True -> 'true', {'a': 1} -> "{'a': 1}")."""
    verify = _make_type_verifier(schema)
    for row in rows:
        verify(row)
    # convert() builds the table column by column (under half the cost of
    # a row-wise pa.Table.from_pylist) but refuses an empty list.
    if not rows:
        return to_arrow_schema(schema).empty_table()
    return LocalDataToArrowConversion.convert(rows, schema, use_large_var_types=False)


def frame_from_rows(
    spark: SparkSession, rows: list[dict], schema: StructType
) -> DataFrame:
    """Driver-collected rows as a schema-pinned DataFrame over an Arrow
    relation.

    `spark.createDataFrame(rows, schema)` would land the same rows, but
    as pickled Python objects behind a Python-side map: every action on
    the frame (the sink's guard, then its write) starts Python workers
    and re-pickles every row into the JVM.  Here the rows cross once,
    as the record batches of `arrow_table`.  The JVM keeps a table under
    spark.sql.execution.arrow.localRelationThreshold as a local
    relation, so the sink's isEmpty() guard then runs on the driver
    with no Spark job."""
    return spark.createDataFrame(arrow_table(rows, schema), schema=schema)


def read_tweets(
    spark: SparkSession, path: str, infer_schema: bool = False
) -> DataFrame:
    """NDJSON scan with the pinned tweet schema (or Glue-crawler-style
    inference when infer_schema=True, main.tf:304-314 parity)."""
    reader = spark.read
    if not infer_schema:
        reader = reader.schema(TWEET_SCHEMA)
    return reader.json(path)


def default_source_filters(df: DataFrame, topic: str | None = None) -> DataFrame:
    """The reference's default query-string predicates as DataFrame
    filters (main.py:89: `-is:retweet lang:en -%23nbatopshot`, plus the
    entity:"<topic>" match, main.py:99).

    Retweets in API v2 are detected by the `RT @` text prefix (the
    reference filters server-side; landed data has no is_retweet flag).
    Null-safe: absent entities/hashtags never drop a row on their own.
    """
    out = df.filter(~F.col("text").startswith("RT @")).filter(F.col("lang") == "en")
    hashtags = F.col("entities.hashtags.tag")
    out = out.filter(
        hashtags.isNull() | ~F.exists(hashtags, lambda t: F.lower(t) == "nbatopshot")
    )
    if topic is not None:
        out = out.filter(
            F.exists(
                F.coalesce(
                    F.col("context_annotations.entity.name"),
                    F.array().cast("array<string>"),
                ),
                lambda name: F.lower(name) == topic.lower(),
            )
            | F.col("text").rlike(f"(?i){topic}")
        )
    return out


def with_partition_columns(
    df: DataFrame, platform: str, topic: str, ts_col: str = "created_at"
) -> DataFrame:
    """Derive the reference's partition keys (main.py:70-73, 184-191) as
    named columns: platform/topic/year/month/day."""
    ts = F.to_timestamp(F.col(ts_col))
    return (
        df.withColumn("platform", F.lit(platform))
        .withColumn("topic", F.lit(topic))
        .withColumn("year", F.date_format(ts, "yyyy"))
        .withColumn("month", F.date_format(ts, "MM"))
        .withColumn("day", F.date_format(ts, "dd"))
    )


def write_partitioned(
    df: DataFrame, path: str, fmt: str = "json", mode: str = "append"
) -> bool:
    """Partitioned append sink (P6+P7).  Returns False (and skips the
    write) on empty input — the reference's "No Twitter data found"
    guard (main.py:183-194).

    At scale: named Hive partitions give free partition pruning on
    read; `json` keeps byte-parity with the reference's landing zone,
    `parquet` is what the Q-layer actually wants.
    """
    if df.isEmpty():
        return False
    (
        df.write.mode(mode)
        .partitionBy("platform", "topic", "year", "month", "day")
        .format(fmt)
        .save(path)
    )
    return True


def lookback_filter(df: DataFrame, days: int = 1, ts_col: str = "created_at") -> DataFrame:
    """The 24-hour lookback bound (P3, main.py:262-263) generalized."""
    ts = F.to_timestamp(F.col(ts_col))
    return df.filter(ts >= F.current_timestamp() - F.expr(f"INTERVAL {days} DAY"))
