package graft.operators

import graft.{G, model}
import graft.model.{AlertType, DetectorState}
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

/** Stateful anomaly detection (SURVEY §2.4 D1–D4) — the reference's
  * 4-rule `KeyedProcessFunction` (`flink/.../function/AnomalyDetector.java`,
  * 5 ValueState slots, 0..4 alerts per event) re-expressed for Spark.
  *
  * Batch path (this file): the deterministic-replay variant required for the
  * DuckDB oracle (SURVEY §7.4 order-sensitivity note). Instead of
  * `groupByKey.flatMapGroups` (which materializes each group), we use the
  * scalable secondary-sort pattern: `repartition(key)` +
  * `sortWithinPartitions(key, ts, id)` + a single streaming fold in
  * `mapPartitions`. One shuffle, spill-backed sort, O(1) state per key in
  * flight — this survives keys with billions of events where
  * per-group materialization would OOM. Streaming path: see
  * `graft.streaming.StreamingJobs.detectAnomaliesStream`
  * (flatMapGroupsWithState) and `detectAnomaliesTws`, which fold each
  * micro-batch through [[foldBatch]] — the same per-event transition.
  *
  * Thresholds are re-based from the reference's KRW crypto magnitudes
  * (`AnomalyDetector.java:32-37`: LARGE_TRADE 5e8/3e8/1e8, PRICE_SPIKE
  * 0.02/0.03, VOLUME_SURGE 50× EMA after ≥50 samples, RAPID_TRADES 100th in
  * 10 s) onto the driver events value range, keeping every ratio/shape:
  * tiered per-key threshold, EMA-before-update ordering (`:139-154`),
  * `== N` single-fire (`:168`), rolling reset window (`:156-175`).
  * `detected_at` is event time, not wall clock — documented deviation.
  */
object AnomalyDetection {

  // -- re-based thresholds (reference AnomalyDetector.java:32-37) --
  /** LARGE_TRADE tiers: user_id%3==0 → "BTC"-tier, %3==1 → "ETH"-tier. */
  def largeTradeThreshold(userId: Long): Double = (userId % 3) match {
    case 0 => 15000.0 // : 5e8 tier
    case 1 => 9000.0  // : 3e8 tier
    case _ => 3000.0  // : 1e8 tier
  }
  /** PRICE_SPIKE change-rate: 0.02 "BTC"-tier, 0.03 default. */
  def spikeThreshold(userId: Long): Double =
    if (userId % 3 == 0) 0.02 else 0.03
  val SurgeMinSamples = 50  // reference: VOLUME_COUNT_MIN 50
  val SurgeMultiplier = 1.9 // reference: 50× (re-based to k∈[0,100] range)
  val EmaDecay = 0.95       // reference: avg*0.95 + volume*0.05
  val RapidWindowMs: Long = 24L * 3600 * 1000 // reference: 10 s (re-based)
  /** reference: ==100 single-fire; re-based to the driver data's density
    * (~2.8 events/user/day, max 11 per rolling day) — calibrated the same
    * way the reference retuned its own thresholds (AnomalyDetector.java:33-37
    * records 651/h → 30-50/h). N=5 fires at every SF. */
  val RapidN = 5

  /** Per-event input of the detector (events-table mapping: user_id=market,
    * value=price, props.k=volume, value*k=amount). */
  final case class Ev(user_id: Long, event_id: Long, ts_ms: Long,
      price: Double, volume: Long, amount: Double)

  /** The per-event state transition, called only by the two folds below
    * ([[detectOn]] for batch, [[foldBatch]] for the streaming detectors).
    * Returns (alerts, newState).
    * Rule order and state-update order mirror the reference exactly. */
  def step(st: DetectorState, e: Ev): (List[model.AnomalyAlert], DetectorState) = {
    var alerts = List.empty[model.AnomalyAlert]
    def alert(tpe: String, msg: String): Unit =
      alerts = model.AnomalyAlert(tpe, s"M${e.user_id}", e.event_id, e.price,
        e.volume.toDouble, e.amount, msg, e.ts_ms) :: alerts

    // D1 LARGE_TRADE (AnomalyDetector.java:107-115): stateless threshold
    if (e.amount >= largeTradeThreshold(e.user_id))
      alert(AlertType.LargeTrade, f"large trade amount=${e.amount}%.2f")

    // D2 PRICE_SPIKE (:117-131): vs last price, then lastPrice := price
    if (st.lastPrice > 0) {
      val rate = math.abs(e.price - st.lastPrice) / st.lastPrice
      if (rate >= spikeThreshold(e.user_id)) {
        val dir = if (e.price > st.lastPrice) "UP" else "DOWN"
        alert(AlertType.PriceSpike, s"price spike $dir")
      }
    }

    // D3 VOLUME_SURGE (:133-154): check with PRE-update EMA, then update
    if (st.volumeCount >= SurgeMinSamples && st.avgVolume > 0 &&
        e.volume >= st.avgVolume * SurgeMultiplier)
      alert(AlertType.VolumeSurge, f"volume surge avg=${st.avgVolume}%.2f")
    val newAvg =
      if (st.volumeCount == 0) e.volume.toDouble
      else st.avgVolume * EmaDecay + e.volume * (1 - EmaDecay)

    // D4 RAPID_TRADES (:156-175): rolling reset window, ==N single-fire
    val (winStart, cnt0) =
      if (st.windowStart == 0 || e.ts_ms - st.windowStart > RapidWindowMs)
        (e.ts_ms, 0)
      else (st.windowStart, st.windowTradeCount)
    val cnt = cnt0 + 1
    if (cnt == RapidN)
      alert(AlertType.RapidTrades, s"rapid trades n=$cnt")

    (alerts.reverse,
      DetectorState(e.price, newAvg, st.volumeCount + 1, winStart, cnt))
  }

  /** Events mapped onto detector input, with deterministic per-key order. */
  def detectorInput(spark: SparkSession, dir: String): Dataset[Ev] = {
    import spark.implicits._
    G.eventsRaw(spark, dir)
      .withColumn("k", G.propsK(col("props")))
      .select(
        col("user_id"),
        col("event_id"),
        expr("ts_ns DIV 1000000").as("ts_ms"),
        col("value").as("price"),
        col("k").as("volume"),
        (col("value") * col("k")).as("amount"))
      .as[Ev]
  }

  /** The streaming fold: one key's events from one micro-batch, sorted by
    * (ts_ms, event_id) and stepped from the state `st` the key carried out
    * of earlier batches. Returns the alerts and the state to carry on. */
  def foldBatch(st: DetectorState, events: Iterator[Ev])
      : (Seq[model.AnomalyAlert], DetectorState) = {
    var s = st
    val out = events.toSeq.sortBy(e => (e.ts_ms, e.event_id)).flatMap { e =>
      val (alerts, s2) = step(s, e)
      s = s2
      alerts
    }
    (out, s)
  }

  /** The batch fold over any detector input: one shuffle on the key, a
    * secondary sort by (user_id, ts_ms, event_id), then each partition
    * stepped in order, with fresh state at each key change. */
  def detectOn(input: Dataset[Ev]): Dataset[model.AnomalyAlert] = {
    val spark = input.sparkSession
    import spark.implicits._
    input.repartition(col("user_id"))
      .sortWithinPartitions(col("user_id"), col("ts_ms"), col("event_id"))
      .mapPartitions { events =>
        var key = Long.MinValue
        var st = DetectorState.empty
        events.flatMap { e =>
          if (e.user_id != key) { key = e.user_id; st = DetectorState.empty }
          val (alerts, st2) = step(st, e)
          st = st2
          alerts
        }
      }
  }

  /** Deterministic batch detector over `events`. Emits the full alert
    * stream (all 4 rule types). */
  def detect(spark: SparkSession, dir: String): DataFrame =
    detectOn(detectorInput(spark, dir)).toDF()
      .orderBy(col("detected_at"), col("trade_id"), col("alert_type"))

  /** D1 only, structured columns (message-free for exact SQL oracle). */
  def largeTrades(spark: SparkSession, dir: String): DataFrame =
    detect(spark, dir)
      .filter(col("alert_type") === AlertType.LargeTrade)
      .select(col("market"), col("trade_id"), col("price"), col("volume"),
        col("amount"), col("detected_at"))
      .orderBy(col("trade_id"))

  val largeTradesSql: String =
    """SELECT 'M' || user_id AS market, event_id AS trade_id, value AS price,
      |  CAST(k AS DOUBLE) AS volume, value * k AS amount,
      |  epoch_ms(ts) AS detected_at
      |FROM (SELECT *, CAST(regexp_extract(props, '"k": ([0-9]+)', 1) AS BIGINT) AS k
      |      FROM events)
      |WHERE value * k >= CASE user_id % 3 WHEN 0 THEN 15000.0
      |                                    WHEN 1 THEN 9000.0
      |                                    ELSE 3000.0 END
      |ORDER BY trade_id""".stripMargin

  /** D2 only, structured columns — per-key lag semantics, SQL-expressible
    * because lastPrice updates unconditionally every event. */
  def priceSpikes(spark: SparkSession, dir: String): DataFrame =
    detect(spark, dir)
      .filter(col("alert_type") === AlertType.PriceSpike)
      .select(col("market"), col("trade_id"), col("price"),
        col("detected_at"))
      .orderBy(col("trade_id"))

  val priceSpikesSql: String =
    """SELECT market, trade_id, price, detected_at FROM (
      |  SELECT 'M' || user_id AS market, event_id AS trade_id, value AS price,
      |    epoch_ms(ts) AS detected_at,
      |    lag(value) OVER (PARTITION BY user_id
      |                     ORDER BY epoch_ms(ts), event_id) AS prev
      |  FROM events) t
      |WHERE prev > 0
      |  AND abs(price - prev) / prev >=
      |      CASE WHEN CAST(substr(market, 2) AS BIGINT) % 3 = 0
      |           THEN 0.02 ELSE 0.03 END
      |ORDER BY trade_id""".stripMargin

  /** Alert counts per type — the D3/D4 cross-engine check. The oracle
    * replays the full 5-slot state machine (EMA decay, pre-update surge
    * check, rolling-reset rapid window) in DuckDB via a step-indexed
    * `WITH RECURSIVE` fold: iteration i advances every user's state by its
    * i-th event (per-user order = ts, event_id — the same secondary sort
    * the Spark fold uses). All double arithmetic mirrors the JVM ops
    * bit-exactly, including `(1 - CAST(0.95 AS DOUBLE))` =
    * 0.050000000000000044. NOTE: NOT list_reduce — DuckDB 1.0.0's lambda
    * fold gives wrong results for struct accumulators with CASE fields
    * (verified empirically: same data, same lambda, different results by
    * context); the recursive CTE is engine-stable. */
  def alertCounts(spark: SparkSession, dir: String): DataFrame =
    detect(spark, dir)
      .groupBy(col("alert_type"))
      .agg(count(lit(1)).as("n"))
      .orderBy(col("alert_type"))

  /** The recursive state-machine fold shared by the batch (q_d3d4) and
    * streaming-replay (q_stream_d3d4) oracles. `evSql` must yield columns
    * (user_id, price, volume BIGINT, amount, ts_ms, thr, sthr,
    * seq = per-user fold position). */
  private def alertCountsFoldSql(evSql: String): String =
    s"""WITH RECURSIVE ev AS ($evSql),
      |step AS (
      |  SELECT user_id, CAST(0 AS BIGINT) AS i,
      |    CAST(0 AS DOUBLE) AS lp, CAST(0 AS DOUBLE) AS avg,
      |    CAST(0 AS BIGINT) AS vc, CAST(0 AS BIGINT) AS ws, CAST(0 AS BIGINT) AS wc,
      |    CAST(0 AS BIGINT) AS d1, CAST(0 AS BIGINT) AS d2,
      |    CAST(0 AS BIGINT) AS d3, CAST(0 AS BIGINT) AS d4
      |  FROM (SELECT DISTINCT user_id FROM ev)
      |  UNION ALL
      |  SELECT s.user_id, s.i + 1,
      |    e.price,
      |    CASE WHEN s.vc = 0 THEN CAST(e.volume AS DOUBLE)
      |         ELSE s.avg * CAST(${EmaDecay} AS DOUBLE)
      |              + e.volume * (1 - CAST(${EmaDecay} AS DOUBLE)) END,
      |    s.vc + 1,
      |    CASE WHEN s.ws = 0 OR e.ts_ms - s.ws > ${RapidWindowMs} THEN e.ts_ms ELSE s.ws END,
      |    CASE WHEN s.ws = 0 OR e.ts_ms - s.ws > ${RapidWindowMs} THEN 1 ELSE s.wc + 1 END,
      |    s.d1 + CASE WHEN e.amount >= e.thr THEN 1 ELSE 0 END,
      |    s.d2 + CASE WHEN s.lp > 0 AND abs(e.price - s.lp) / s.lp >= e.sthr
      |                THEN 1 ELSE 0 END,
      |    s.d3 + CASE WHEN s.vc >= ${SurgeMinSamples} AND s.avg > 0
      |                     AND e.volume >= s.avg * CAST(${SurgeMultiplier} AS DOUBLE)
      |                THEN 1 ELSE 0 END,
      |    s.d4 + CASE WHEN s.ws <> 0 AND e.ts_ms - s.ws <= ${RapidWindowMs}
      |                     AND s.wc = ${RapidN - 1}
      |                THEN 1 ELSE 0 END
      |  FROM step s JOIN ev e ON e.user_id = s.user_id AND e.seq = s.i + 1),
      |final AS (
      |  SELECT user_id, d1, d2, d3, d4,
      |    row_number() OVER (PARTITION BY user_id ORDER BY i DESC) AS rn
      |  FROM step),
      |counts AS (
      |  SELECT CAST(sum(d1) AS BIGINT) AS d1, CAST(sum(d2) AS BIGINT) AS d2,
      |         CAST(sum(d3) AS BIGINT) AS d3, CAST(sum(d4) AS BIGINT) AS d4
      |  FROM final WHERE rn = 1)
      |SELECT alert_type, n FROM (
      |  SELECT 'LARGE_TRADE' AS alert_type, d1 AS n FROM counts
      |  UNION ALL SELECT 'PRICE_SPIKE', d2 FROM counts
      |  UNION ALL SELECT 'RAPID_TRADES', d4 FROM counts
      |  UNION ALL SELECT 'VOLUME_SURGE', d3 FROM counts) t
      |WHERE n > 0 ORDER BY alert_type""".stripMargin

  val alertCountsSql: String = alertCountsFoldSql(
    """SELECT user_id, value AS price,
      |    CAST(regexp_extract(props, '"k": ([0-9]+)', 1) AS BIGINT) AS volume,
      |    value * CAST(regexp_extract(props, '"k": ([0-9]+)', 1) AS BIGINT) AS amount,
      |    epoch_ms(ts) AS ts_ms,
      |    CASE user_id % 3 WHEN 0 THEN CAST(15000.0 AS DOUBLE)
      |                     WHEN 1 THEN CAST(9000.0 AS DOUBLE)
      |                     ELSE CAST(3000.0 AS DOUBLE) END AS thr,
      |    CASE WHEN user_id % 3 = 0 THEN CAST(0.02 AS DOUBLE)
      |         ELSE CAST(0.03 AS DOUBLE) END AS sthr,
      |    row_number() OVER (PARTITION BY user_id
      |                       ORDER BY epoch_ms(ts), event_id) AS seq
      |  FROM events""".stripMargin)

  /** q_stream_d3d4 oracle: the same fold over the streaming detector's
    * input — the parsed CDC roundtrip restricted to inserts (op='c' ↔
    * event_type signup/purchase; tombstone/malformed rows %17/%23 never
    * parse), evented at source time (ts_ms = cdc_ms - k), with the flat
    * default tier every "M<id>" market lands in (key%3 = 2 → thr 3000.0,
    * sthr 0.03). Grouping by user_id is fold-equivalent to the stream's
    * hashed market key because market = 'M'||user_id is unique per user and
    * the hash is collision-free on the corpus (StreamingSpec pins this). */
  val streamAlertCountsSql: String = alertCountsFoldSql(
    """SELECT user_id, value AS price, k AS volume,
      |    value * k AS amount,
      |    epoch_ms(ts) - k AS ts_ms,
      |    CAST(3000.0 AS DOUBLE) AS thr, CAST(0.03 AS DOUBLE) AS sthr,
      |    row_number() OVER (PARTITION BY user_id
      |                       ORDER BY epoch_ms(ts) - k, event_id) AS seq
      |  FROM (SELECT *,
      |          CAST(regexp_extract(props, '"k": ([0-9]+)', 1) AS BIGINT) AS k
      |        FROM events)
      |  WHERE event_id % 17 <> 0 AND event_id % 23 <> 0
      |    AND event_type IN ('signup', 'purchase')""".stripMargin)
}
