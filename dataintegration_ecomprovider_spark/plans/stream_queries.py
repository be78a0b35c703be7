"""Streaming-surface queries (SURVEY §2.10), exposed through their batch
equivalents so the driver's DuckDB oracle can check them: the same
expression trees run under readStream in dataintegration_ecomprovider_spark
.streaming (exercised in tests/test_streaming.py with watermarks and
foreachBatch-merge)."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from dataintegration_ecomprovider_spark.catalog import Catalog
from dataintegration_ecomprovider_spark.plans.registry import QueryDef
from dataintegration_ecomprovider_spark.streaming.sessions import sessionize_batch
from dataintegration_ecomprovider_spark.streaming.windows import tumbling_agg


def q_tumbling_window_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling 1-hour windows per event type: count + value sum.  Streaming
    form adds `watermark='10 minutes'` (tests/test_streaming.py asserts the
    availableNow stream emits exactly these rows)."""
    events = Catalog(spark, sf_dir).table("events")
    return tumbling_agg(
        events,
        ts_col="ts",
        window_duration="1 hour",
        group_cols=["event_type"],
        aggs=[
            F.count(F.lit(1)).cast("bigint").alias("n_events"),
            F.round(F.sum("value"), 2).alias("total_value"),
        ],
    )


ORACLE_TUMBLING = """
SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS window_start,
       strftime(date_trunc('hour', ts) + INTERVAL 1 HOUR, '%Y-%m-%d %H:%M:%S') AS window_end,
       event_type,
       CAST(COUNT(*) AS BIGINT) AS n_events,
       ROUND(SUM(value), 2) AS total_value
FROM events GROUP BY 1, 2, 3
"""


def q_sessionization(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-based sessionization (30-minute gap)."""
    events = Catalog(spark, sf_dir).table("events")
    out = sessionize_batch(events, gap_seconds=1800)
    return out.select(
        "user_id",
        F.col("session_seq").cast("bigint").alias("session_seq"),
        "n_events",
        F.date_format("session_start", "yyyy-MM-dd HH:mm:ss").alias("session_start"),
        F.date_format("session_end", "yyyy-MM-dd HH:mm:ss").alias("session_end"),
        "total_value",
    )


ORACLE_SESSIONIZATION = """
WITH with_breaks AS (
  SELECT user_id, event_id, ts, value,
         CASE WHEN epoch_us(ts) - LAG(epoch_us(ts)) OVER w > 1800 * 1000000
              THEN 1 ELSE 0 END AS new_session
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
),
numbered AS (
  SELECT user_id, ts, value,
         SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                ROWS UNBOUNDED PRECEDING) + 1 AS session_seq
  FROM with_breaks
)
SELECT user_id, CAST(session_seq AS BIGINT) AS session_seq,
       CAST(COUNT(*) AS BIGINT) AS n_events,
       strftime(MIN(ts), '%Y-%m-%d %H:%M:%S') AS session_start,
       strftime(MAX(ts), '%Y-%m-%d %H:%M:%S') AS session_end,
       ROUND(SUM(value), 2) AS total_value
FROM numbered GROUP BY user_id, session_seq
"""


def q_dedup_watermark(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch form of the watermark-bounded stream dedup: one row per
    (user_id, event_type), first by (ts, event_id) — the deterministic
    contract a streaming dropDuplicatesWithinWatermark would approximate
    by first-arrival."""
    from dataintegration_ecomprovider_spark.operators.dedup import first_wins

    events = Catalog(spark, sf_dir).table("events")
    out = first_wins(
        events, ["user_id", "event_type"], [F.col("ts"), F.col("event_id")]
    )
    return out.select(
        "user_id",
        "event_type",
        "event_id",
        F.date_format("ts", "yyyy-MM-dd HH:mm:ss").alias("ts"),
        F.round("value", 2).alias("value"),
    )


ORACLE_DEDUP_WATERMARK = """
WITH ranked AS (
  SELECT user_id, event_type, event_id, ts, value,
         ROW_NUMBER() OVER (PARTITION BY user_id, event_type
                            ORDER BY ts, event_id) AS rn
  FROM events
)
SELECT user_id, event_type, event_id,
       strftime(ts, '%Y-%m-%d %H:%M:%S') AS ts,
       ROUND(value, 2) AS value
FROM ranked WHERE rn = 1
"""


def q_store_changes_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The `store_changes` Python streaming DataSource (Spark 4 DataSource
    API, streaming/store_source.py): publish two versions of an orders
    slice, tail the store from version 0 with one availableNow pass into a
    parquet sink, and return what arrived.  Tailing from the empty version
    nets the whole history, so the feed is exactly the current version's
    rows tagged `insert` — the oracle restates that definition.  The
    incremental (checkpoint-resume) semantics are pinned in
    tests/test_store_source.py against read_changes."""
    import tempfile

    from dataintegration_ecomprovider_spark.plans import publish
    from dataintegration_ecomprovider_spark.streaming.store_source import (
        StoreChangesDataSource,
    )

    root = tempfile.mkdtemp(prefix="ssrc_store_")
    base = Catalog(spark, sf_dir).table("orders").select(
        "o_orderkey", "o_orderstatus", F.round("o_totalprice", 2).alias("o_totalprice")
    )
    v1 = base.filter(F.col("o_orderkey") % 3 == 0)
    v2 = base.filter(F.col("o_orderkey") % 3 == 0).withColumn(
        "o_orderstatus",
        F.when(F.col("o_orderkey") % 2 == 0, F.lit("X")).otherwise(
            F.col("o_orderstatus")
        ),
    )
    publish.publish_tables(spark, {"t": v1}, root, table_keys={"t": ["o_orderkey"]})
    publish.publish_tables(spark, {"t": v2}, root)

    spark.dataSource.register(StoreChangesDataSource)
    out = tempfile.mkdtemp(prefix="ssrc_out_")
    q = (
        spark.readStream.format("store_changes")
        .option("root", root).option("table", "t")
        .option("startingVersion", "earliest").option("partitions", "8")
        .load()
        .writeStream.format("parquet").option("path", out)
        .option("checkpointLocation", tempfile.mkdtemp(prefix="ssrc_ck_"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    return spark.read.parquet(out)


ORACLE_STORE_CHANGES_SOURCE = """
SELECT o_orderkey, CASE WHEN o_orderkey % 2 = 0 THEN 'X' ELSE o_orderstatus END AS o_orderstatus,
       ROUND(o_totalprice, 2) AS o_totalprice,
       'insert' AS change_type
FROM orders WHERE o_orderkey % 3 = 0
"""


def q_interval_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Click-to-purchase attribution via the stream-stream interval join
    (streaming/joins.interval_join): every purchase within 30 minutes
    after a click by the same user, batch form (the streaming form adds
    watermarks on both sides — tests/test_streaming.py asserts the
    availableNow stream emits exactly these rows).  Timestamps format to
    strings so the hashes match across engines."""
    from dataintegration_ecomprovider_spark.streaming.joins import interval_join

    events = Catalog(spark, sf_dir).table("events")
    clicks = events.filter(F.col("event_type") == "click").select(
        "user_id", F.col("ts").alias("click_ts"), F.col("event_id").alias("click_id")
    )
    purchases = events.filter(F.col("event_type") == "purchase").select(
        "user_id",
        F.col("ts").alias("purchase_ts"),
        F.col("event_id").alias("purchase_id"),
        F.round("value", 2).alias("purchase_value"),
    )
    joined = interval_join(
        clicks, purchases, key="user_id",
        left_ts="click_ts", right_ts="purchase_ts", upper="30 minutes",
    )
    return joined.select(
        "user_id", "click_id", "purchase_id", "purchase_value",
        F.date_format("click_ts", "yyyy-MM-dd HH:mm:ss").alias("click_at"),
        F.date_format("purchase_ts", "yyyy-MM-dd HH:mm:ss").alias("purchase_at"),
    )


ORACLE_INTERVAL_JOIN = """
SELECT c.user_id,
       c.event_id AS click_id,
       p.event_id AS purchase_id,
       ROUND(p.value, 2) AS purchase_value,
       strftime(c.ts, '%Y-%m-%d %H:%M:%S') AS click_at,
       strftime(p.ts, '%Y-%m-%d %H:%M:%S') AS purchase_at
FROM events c JOIN events p
  ON c.user_id = p.user_id
 AND p.ts >= c.ts AND p.ts <= c.ts + INTERVAL 30 MINUTE
WHERE c.event_type = 'click' AND p.event_type = 'purchase'
"""


def q_store_to_store(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end exactly-once change propagation
    (streaming/incremental.stream_store_to_store): an upstream store table
    goes through seed → MoR merge (inserts + updates + deletes); a
    store_changes-tailing stream transforms each batch and lands it
    downstream via txn-stamped MoR merges.  The query then replays the
    run's ENTIRE commit log — every recorded batch re-delivered with its
    original (app_id, batch_id) stamp, the worst-case fresh-checkpoint
    replay — and asserts the downstream version did not move (the txn
    watermark absorbed it) before returning the downstream table.  The
    replay re-derives each batch from the checkpoint's offsets log and
    pushes it through the SAME sink closure the stream ran
    (replay_store_to_store), instead of paying a second ~1.9 s
    structured-streaming engine start for merges that are manifest-level
    no-ops; the engine-level fresh-checkpoint
    replay stays pinned in tests/test_txn.py.  The oracle restates the
    composed semantics: downstream = transform(final upstream
    snapshot)."""
    import tempfile

    from dataintegration_ecomprovider_spark.plans import publish
    from dataintegration_ecomprovider_spark.streaming.incremental import (
        replay_store_to_store,
        stream_store_to_store,
    )

    src_root = tempfile.mkdtemp(prefix="s2s_src_")
    dst_root = tempfile.mkdtemp(prefix="s2s_dst_")
    base = Catalog(spark, sf_dir).table("orders").select(
        "o_orderkey", "o_orderstatus",
        F.round("o_totalprice", 2).alias("o_totalprice"),
    )
    publish.publish_tables(
        spark, {"t": base.filter(F.col("o_orderkey") % 5 < 2)}, src_root,
        table_keys={"t": ["o_orderkey"]},
    )
    publish.merge_into_mor(
        spark, src_root, "t",
        base.filter(F.col("o_orderkey") % 5 == 2).unionByName(
            base.filter(F.col("o_orderkey") % 5 == 0).withColumn(
                "o_orderstatus", F.lit("X")
            )
        ),
        deletes=base.filter(F.col("o_orderkey") % 5 == 1),
    )

    def transform(df: DataFrame) -> DataFrame:
        return df.select(
            "o_orderkey",
            F.lower("o_orderstatus").alias("status"),
            F.round(F.col("o_totalprice") * 2, 2).alias("double_price"),
        )

    ck = tempfile.mkdtemp(prefix="s2s_ck_run_")
    q = stream_store_to_store(
        spark, src_root, "t", dst_root, "d", ck, "hop1",
        transform=transform,
    )
    q.awaitTermination(180)
    v_after = publish.current_manifest(dst_root)["version"]
    rep = replay_store_to_store(
        spark, ck, src_root, "t", dst_root, "d", "hop1",
        transform=transform,
    )
    if not rep["batches"]:
        raise AssertionError("replay proof re-delivered no batches")
    v_replay = publish.current_manifest(dst_root)["version"]
    if v_replay != v_after:
        raise AssertionError(
            f"fresh-checkpoint replay moved the downstream store "
            f"{v_after} -> {v_replay}: txn watermark failed"
        )
    return publish.read_table(spark, dst_root, "d")


ORACLE_STORE_TO_STORE = """
SELECT o_orderkey,
       LOWER(CASE WHEN o_orderkey % 5 = 0 THEN 'X' ELSE o_orderstatus END)
         AS status,
       ROUND(ROUND(o_totalprice, 2) * 2, 2) AS double_price
FROM orders
WHERE o_orderkey % 5 IN (0, 2)
"""


QUERIES = {
    "stream_tumbling_window_agg": QueryDef(q_tumbling_window_agg, ORACLE_TUMBLING),
    "stream_interval_join": QueryDef(q_interval_join, ORACLE_INTERVAL_JOIN),
    "stream_sessionization": QueryDef(q_sessionization, ORACLE_SESSIONIZATION),
    "stream_dedup_watermark": QueryDef(q_dedup_watermark, ORACLE_DEDUP_WATERMARK),
    "stream_store_changes_source": QueryDef(
        q_store_changes_source, ORACLE_STORE_CHANGES_SOURCE
    ),
    "stream_store_to_store": QueryDef(q_store_to_store, ORACLE_STORE_TO_STORE),
}
