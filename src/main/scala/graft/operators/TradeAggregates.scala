package graft.operators

import graft.G
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Window / rollup / dashboard aggregations (SURVEY §2.3 A1–A8).
  *
  * The driver `events` table plays the trade stream (FIXTURES.md §B):
  * `user_id` → market key, `value` → price, `props.k` → volume,
  * `event_type='purchase'` → BID, `ts` → source_ts.
  *
  * Scale notes (100 TB): every query here is a single hash-aggregate over a
  * declarative plan — Spark runs it as partial (map-side) + final aggregation
  * with one shuffle on the group keys, the same incremental-aggregation shape
  * the reference hand-built with Flink's `aggregate()`
  * (`function/TradeAggregator.java:44-91`, chosen for O(1) window memory per
  * `docs/04-flink-streaming.md:206-216`). Filters sit directly on the scan so
  * Catalyst pushes them into the parquet reader; no query here collects or
  * re-shuffles beyond the single keyed exchange.
  */
object TradeAggregates {

  private def events(spark: SparkSession, dir: String): DataFrame =
    G.events(spark, dir)

  /** A1+A2: per-key 5-minute tumbling window aggregate, the reference's
    * flagship operator (`function/TradeAggregator.java:44-91`): count,
    * conditional BID/ASK counts, sums, min/max, avg, VWAP with zero-guard
    * (`:72-75`), window bounds from the window context (`:97-107`). */
  def windowAgg5m(spark: SparkSession, dir: String): DataFrame =
    windowAggOn(events(spark, dir).withColumn("k", G.propsK(col("props"))))
      .orderBy(col("window_start"), col("user_id"))

  /** The aggregation itself over any frame with (ts, user_id, event_type,
    * value, k) — reused by the batch query, the streaming job
    * (graft.streaming.StreamingJobs) and the golden-fixture tests. */
  def windowAggOn(ev: DataFrame): DataFrame =
    ev.groupBy(
        window(col("ts"), "5 minutes").getField("start").as("window_start"),
        col("user_id"))
      .agg(windowAggs.head, windowAggs.tail: _*)

  /** [[windowAggOn]] grouped by the window STRUCT (start projected after
    * the aggregate): identical values, but required for append-mode
    * streaming — extracting `.getField("start")` inside the groupBy severs
    * the event-time column Spark tracks the watermark through, and the
    * planner then rejects the query as an un-watermarked aggregation. */
  def windowAggAppendOn(ev: DataFrame): DataFrame = {
    val agg = ev.groupBy(window(col("ts"), "5 minutes").as("w"), col("user_id"))
      .agg(windowAggs.head, windowAggs.tail: _*)
    agg.select(col("w.start").as("window_start") +: agg.columns.tail.map(col): _*)
  }

  /** The A1/A2 aggregates both groupings above compute: count,
    * conditional BID/ASK counts, sums, min/max, avg and VWAP. */
  private val windowAggs: Seq[Column] = Seq(
    count(lit(1)).as("trade_count"),
    count(when(col("event_type") === "purchase", 1)).as("bid_count"),
    count(when(col("event_type") =!= "purchase", 1)).as("ask_count"),
    G.dsum(col("value") * col("k")).as("total_amount"),
    sum(col("k")).as("total_volume"),
    (G.dsum(col("value")) / count(col("value"))).as("avg_price"),
    min(col("value")).as("min_price"),
    max(col("value")).as("max_price"),
    // VWAP = totalAmount/totalVolume, 0 when volume is 0
    // (reference zero-guard, TradeAggregator.java:75)
    when(sum(col("k")) > 0,
      G.dsum(col("value") * col("k")) / sum(col("k")))
      .otherwise(0.0).as("vwap"))

  /** Session windows (30-minute gap) per user — Spark `session_window`;
    * additive streaming-semantics surface (the reference has none,
    * SURVEY §2.6 W5). Oracle: gaps-and-islands SQL — a new session starts
    * when the gap from the previous event EXCEEDS the timeout (strict > :
    * Spark merges an event landing at exactly last+gap into the session —
    * verified empirically in AsofSessionSpec); session end is last event
    * + gap. */
  def sessionWindows(spark: SparkSession, dir: String): DataFrame =
    G.events(spark, dir)
      .groupBy(session_window(col("ts"), "30 minutes"), col("user_id"))
      .agg(count(lit(1)).as("n_events"),
        G.dsum(col("value")).as("total_value"))
      .select(col("session_window.start").as("session_start"),
        col("session_window.end").as("session_end"),
        col("user_id"), col("n_events"), col("total_value"))
      .orderBy(col("user_id"), col("session_start"))

  val sessionWindowsSql: String =
    """WITH marked AS (
      |  SELECT user_id, ts, value,
      |    CASE WHEN ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts)
      |              > INTERVAL 30 MINUTE OR
      |         lag(ts) OVER (PARTITION BY user_id ORDER BY ts) IS NULL
      |         THEN 1 ELSE 0 END AS new_session
      |  FROM events),
      |islands AS (
      |  SELECT *, sum(new_session) OVER (PARTITION BY user_id ORDER BY ts
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS island
      |  FROM marked)
      |SELECT min(ts) AS session_start,
      |  max(ts) + INTERVAL 30 MINUTE AS session_end,
      |  user_id, count(*) AS n_events,
      |  CAST(CAST(SUM(CAST(value AS DECIMAL(38,6))) AS VARCHAR) AS DOUBLE) AS total_value
      |FROM islands GROUP BY user_id, island
      |ORDER BY user_id, session_start""".stripMargin

  val windowAgg5mSql: String =
    """SELECT time_bucket(INTERVAL '5 minutes', ts) AS window_start, user_id,
      |  count(*) AS trade_count,
      |  count(CASE WHEN event_type = 'purchase' THEN 1 END) AS bid_count,
      |  count(CASE WHEN event_type <> 'purchase' THEN 1 END) AS ask_count,
      |  CAST(CAST(SUM(CAST(value * k AS DECIMAL(38,6))) AS VARCHAR) AS DOUBLE) AS total_amount,
      |  CAST(SUM(k) AS BIGINT) AS total_volume,
      |  CAST(CAST(SUM(CAST(value AS DECIMAL(38,6))) AS VARCHAR) AS DOUBLE) / COUNT(value) AS avg_price,
      |  MIN(value) AS min_price,
      |  MAX(value) AS max_price,
      |  CASE WHEN SUM(k) > 0
      |       THEN CAST(CAST(SUM(CAST(value * k AS DECIMAL(38,6))) AS VARCHAR) AS DOUBLE) / SUM(k)
      |       ELSE 0.0 END AS vwap
      |FROM (SELECT *, CAST(regexp_extract(props, '"k": ([0-9]+)', 1) AS BIGINT) AS k
      |      FROM events)
      |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin
}
