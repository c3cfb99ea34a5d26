package graft.streaming


import graft.model.{AnomalyAlert, DetectorState}
import graft.operators.{AnomalyDetection, CdcParser, TradeAggregates}
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.execution.SQLExecution
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{DataStreamWriter, GroupState, GroupStateTimeout, OutputMode, StreamingQuery, Trigger}

/** Structured-Streaming layer (SURVEY §2.5 T1–T3, §2.6 W1–W4, §2.7 K1–K4):
  * the reference Flink job (`flink/.../CdcPipelineJob.java:35-101`)
  * re-expressed as one micro-batched pipeline.
  *
  * Shape: CDC-envelope JSON stream → parse (P1) → foreachBatch fan-out to
  * three sinks (raw / windowed agg / alerts) — the read-once multi-sink DAG
  * (`docs/04-flink-streaming.md:23-41`): the micro-batch is persisted once
  * and written to its three sinks concurrently, as Flink's
  * one-source-three-sinks topology runs its sinks side by side.
  *
  * Deviations from the reference, by design (SURVEY §7.4):
  *  - event time + watermark instead of processing-time windows (W1/W2):
  *    replays become deterministic; the reference has no late-data story.
  *  - RocksDB state store + checkpointLocation ↔ the reference's RocksDB
  *    backend + 60 s EXACTLY_ONCE checkpoints (`docker-compose.yml:221-231`).
  *
  * Scale: state per key is O(1) for the window agg (one row per open
  * window per key) and O(1) for the detector (one DetectorState per key);
  * watermark eviction bounds total state. The shuffle per micro-batch is the
  * keyed exchange only.
  */
object StreamingJobs {

  /** Replay-sized state parallelism. Every stateful operator commits one
    * state-store instance per shuffle partition per micro-batch; at the
    * session's 32 partitions a 15-trigger replay paid 32 × operators × 15
    * state-store commits for a few hundred keys, the dominant wall cost of
    * the round-7 streaming block (102 s of a 318 s bench). 8 covers every
    * replay's key space with headroom (r11 measured it against 4 and 32). */
  @volatile private[graft] var replayShufflePartitions: String = "8"

  private val startLock = new Object

  /** Start `w` with `spark.sql.shuffle.partitions` set to
    * [[replayShufflePartitions]] for the duration of the start call,
    * restored immediately after: Structured Streaming CLONES the session at
    * start (and pins the value in the batch-0 offset metadata for stateful
    * operators; resume reads it back from the checkpoint), so the running
    * stream keeps the replay setting while the caller's session — and
    * every batch query after it — is untouched.
    *
    * `spark` is the session the writer was built on, ALWAYS passed
    * explicitly (a `SparkSession.active` default can resolve to a
    * different session, e.g. on Verify worker threads with inherited
    * thread-locals, and the override would then be set/restored on the
    * wrong session). The set/start/restore triple is locked: Verify starts
    * replays from a concurrent worker pool, and interleaved set/restore
    * pairs would otherwise leave the shared session at the replay width
    * (performance-only — results are partition-count independent,
    * spec-pinned — but the session must come back exactly as found). */
  private def startReplay[T](spark: SparkSession,
      w: DataStreamWriter[T]): StreamingQuery =
    startLock.synchronized {
      val prev = spark.conf.get("spark.sql.shuffle.partitions")
      spark.conf.set("spark.sql.shuffle.partitions", replayShufflePartitions)
      try w.start()
      finally spark.conf.set("spark.sql.shuffle.partitions", prev)
    }

  /** Drain `w` once: checkpoint at `ck`, `Trigger.AvailableNow`, started
    * by [[startReplay]] on `spark`, returning when the input is consumed. */
  private def drain[T](spark: SparkSession, ck: String,
      w: DataStreamWriter[T]): Unit =
    drain(startReplay(spark,
      w.option("checkpointLocation", ck).trigger(Trigger.AvailableNow())))

  /** Wait for a started AvailableNow query to finish; stop it on any exit
    * (a failed or interrupted wait must not leave it running). */
  private def drain(q: StreamingQuery): Unit =
    try q.awaitTermination() finally if (q.isActive) q.stop()

  /** Parquet-sink replay: drain `df` (started on its own session) into a
    * fresh append-mode parquet sink and read the sink back on `spark` with
    * the stream's own schema — no schema-inference job, and a stream that
    * emitted no rows reads back as an empty frame (inference throws
    * "Unable to infer schema" on a sink without data files). */
  private[graft] def parquetReplay(spark: SparkSession, prefix: String,
      df: Dataset[_]): DataFrame = {
    val tmp = graft.Scratch.dir(prefix)
    drainToParquet(df, s"$tmp/out", s"$tmp/ck")
    spark.read.schema(df.schema).parquet(s"$tmp/out")
  }

  private def drainToParquet(df: Dataset[_], out: String, ck: String): Unit =
    drain(df.sparkSession, ck, df.writeStream.format("parquet")
      .option("path", out).outputMode("append"))

  /** The newest `<prefix><n>` entry of the versioned-state dir `dir` with
    * n < `before` (each foreachBatch writes version `<prefix><batchId>`, so
    * a retried batch re-derives from the same parent). */
  private def latest(dir: String, prefix: String,
      before: Long = Long.MaxValue): Option[String] = {
    val ns = new java.io.File(dir).list()
      .filter(_.startsWith(prefix)).map(_.stripPrefix(prefix).toLong)
      .filter(_ < before)
    if (ns.isEmpty) None else Some(s"$dir/$prefix${ns.max}")
  }

  /** Replay inputs, staged once per (session, key) and shared by every
    * bench rep and every replay of the same shape: a staged dir is
    * IMMUTABLE once written (streams only read it; out/ck dirs are
    * per-call), so the replays measure the streaming machinery, not
    * repeated fixture writes. Dirs are deleted on session sweep / JVM
    * exit. */
  private val fixtureMemo = graft.SessionMemo.tempDirs()

  /** Stage: `write` fills a fresh `in/` dir once per (session, key) — the
    * memo holds (and on evict deletes) its parent. With `stamp`, the
    * `part-*` files get ascending modtimes in name order, so a file source
    * (`latestFirst=false` processes in modtime order) with
    * `maxFilesPerTrigger = 1` replays one file per micro-batch in that
    * order. Files a writer stamps itself (sentinels, redeliveries) must be
    * named outside `part-*` and dated after the stamped ones. */
  private def stage(spark: SparkSession, key: String,
      stamp: Boolean = false)(write: String => Unit): String =
    fixtureMemo.getOrBuild(spark, key) {
      val base = java.nio.file.Files.createTempDirectory("graft_fix_").toString
      write(s"$base/in")
      if (stamp) {
        val t0 = System.currentTimeMillis() - 3600000L
        new java.io.File(s"$base/in").listFiles()
          .filter(_.getName.startsWith("part-")).sortBy(_.getName)
          .zipWithIndex.foreach { case (f, i) =>
            f.setLastModified(t0 + i * 1000L); ()
          }
      }
      base
    } + "/in"

  /** S1-equivalent: stream of envelope JSON lines from a directory
    * (the offline replay analogue of the Kafka topic; swap for
    * `format("kafka")` + `startingOffsets=earliest` on a cluster). */
  def readCdcStream(spark: SparkSession, inputDir: String,
      maxFilesPerTrigger: Int = 8): DataFrame = {
    val raw = spark.readStream
      .schema("value STRING")
      .option("maxFilesPerTrigger", maxFilesPerTrigger) // bounded micro-batches
      .text(inputDir)
      .withColumnRenamed("value", "json")
    CdcParser.parse(raw, col("json"))
  }

  /** S1: the Kafka CDC source proper (`CdcPipelineJob.java:52-58`) —
    * earliest offsets so the Debezium snapshot replays
    * (`docs/04-flink-streaming.md:166`), value-only string deserialization.
    * Requires the spark-sql-kafka connector jar + a broker, neither present
    * in this container — the file-stream source above is the offline
    * equivalent over the same envelope format; this method is the documented
    * production wiring. */
  def readCdcKafka(spark: SparkSession, bootstrapServers: String,
      topic: String): DataFrame =
    CdcParser.parse(
      spark.readStream.format("kafka")
        .option("kafka.bootstrap.servers", bootstrapServers)
        .option("subscribe", topic)
        .option("startingOffsets", "earliest")
        .load()
        .select(col("value").cast("string").as("json")),
      col("json"))

  /** K4: debug console sink (`aggregated.print("AGG")`,
    * `CdcPipelineJob.java:74,85`). */
  def consoleSink(df: DataFrame): org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    df.writeStream.format("console").option("truncate", "false")

  /** W1/A1 streaming: 5-minute tumbling event-time window aggregate with
    * watermark; reuses the exact batch aggregation expressions (struct
    * grouping — see [[TradeAggregates.windowAggAppendOn]] — so append
    * mode's watermark tracking survives). */
  def windowAggStream(parsed: DataFrame): DataFrame =
    TradeAggregates.windowAggAppendOn(
      windowInput(parsed).withWatermark("ts", "10 minutes"))

  /** A parsed trade as window-aggregate input (ts, user_id, event_type,
    * value, k): the projection the stream and the fan-out's per-batch
    * aggregate share. A BID becomes event_type 'purchase', the event the
    * shared aggregate counts as a bid (FIXTURES.md); every other side
    * counts as an ask, as in the reference (`TradeAggregator.java`). */
  private def windowInput(parsed: DataFrame): DataFrame =
    parsed.select(
      timestamp_millis(col("source_ts")).as("ts"),
      col("market").as("user_id"),
      when(col("ask_bid") === "BID", "purchase").otherwise(col("ask_bid"))
        .as("event_type"),
      col("trade_price").as("value"),
      col("trade_volume").as("k"))

  /** OHLC candles STREAMING: q_a18's 15-minute bars emitted in APPEND
    * mode by watermark passage — the live version of the dashboard's
    * price panel. The struct-ordered min_by/max_by extremes live in the
    * state store as candle partials; epoch-aligned window() reproduces
    * a18's integer candle arithmetic exactly. */
  def ohlcStream(parsed: DataFrame): DataFrame =
    parsed.filter(col("ask_bid").isin("BID", "ASK"))
      .select(col("market"), col("trade_id"), col("trade_price"),
        col("trade_volume"), col("source_ts"),
        timestamp_millis(col("source_ts")).as("ts"))
      .withWatermark("ts", "10 minutes")
      .groupBy(window(col("ts"), "15 minutes"), col("market"))
      .agg(
        min_by(col("trade_price"), struct(col("source_ts"), col("trade_id")))
          .as("open"),
        max(col("trade_price")).as("high"),
        min(col("trade_price")).as("low"),
        max_by(col("trade_price"), struct(col("source_ts"), col("trade_id")))
          .as("close"),
        graft.G.dsum(col("trade_volume")).as("volume"),
        count(lit(1)).as("n_trades"))
      .select(col("market"),
        unix_millis(col("window.start")).as("candle_ms"),
        col("open"), col("high"), col("low"), col("close"),
        col("volume"), col("n_trades"))

  /** Streaming OHLC, HASH-CHECKED (q_stream_ohlc): sentinel replay of
    * [[ohlcStream]] against the BATCH a18 oracle — stream and batch
    * candles must be byte-identical. Single watermark branch (the
    * BID/ASK filter keeps the ASK sentinel), so one sentinel suffices. */
  def ohlcReplay(spark: SparkSession, dir: String): DataFrame = {
    val in = stagedEnvelopeWithSentinel(spark, dir)
    parquetReplay(spark, "graft_stream_ohlc",
        ohlcStream(readCdcStream(spark, in, maxFilesPerTrigger = 1 << 20)))
      .filter(col("market") =!= "ZSENTINEL")
      .orderBy(col("market"), col("candle_ms"))
  }

  // stream==batch by construction: the sentinel only closes windows, so
  // the oracle is exactly the batch candle SQL
  def ohlcReplaySql: String =
    graft.operators.DashboardQueries.ohlcCandlesSql

  /** q_stream_backfill: the LAMBDA/KAPPA HANDOFF — the architectural seam
    * every production streaming deployment has and few verify: history is
    * served by a batch job over the warehouse table, the live tail by the
    * streaming pipeline, and the two views must meet at the cutoff with no
    * gap, no overlap, and no seam-row disagreement. Here the batch layer
    * is the a18 candle query cut at a WINDOW-ALIGNED cutoff (the midpoint
    * of the event-time range rounded down to the 15-minute grid — aligning
    * the handoff to the aggregation grid is what makes a clean seam
    * POSSIBLE: no candle straddles it), and the speed layer replays only
    * events at/after the cutoff through the watermarked [[ohlcStream]].
    * The union is hash-checked against the ONE-SHOT batch candles over the
    * full range — the oracle never sees the cutoff, so the match PROVES
    * the handoff is seamless rather than asserting it.
    *
    * Scale shape: the batch layer is the already-audited a18 single-
    * exchange aggregate with the candle filter pushed to it; the speed
    * layer processes O(tail) events, not history — which is the entire
    * point of backfill-then-stream at 100 TB: the stream never replays
    * the archive, and this query is the correctness contract that lets
    * you trust that shortcut. */
  def backfillReplay(spark: SparkSession, dir: String): DataFrame = {
    val env = graft.operators.CdcParser.eventsAsEnvelopeJsonTs(spark, dir)
    val mm = env.agg(min(col("src_ms")), max(col("src_ms"))).head()
    val mid = mm.getLong(0) + (mm.getLong(1) - mm.getLong(0)) / 2
    val cutoff = mid - java.lang.Math.floorMod(mid, 900000L)
    val batchPart = graft.operators.DashboardQueries.ohlcCandles(spark, dir)
      .filter(col("candle_ms") < cutoff)
    val in = stagedEnvelopeWithSentinel(spark, dir, minMs = cutoff)
    val streamPart = parquetReplay(spark, "graft_stream_bf",
        ohlcStream(readCdcStream(spark, in, maxFilesPerTrigger = 1 << 20)))
      .filter(col("market") =!= "ZSENTINEL")
    batchPart.unionByName(streamPart)
      .orderBy(col("market"), col("candle_ms"))
  }

  // the oracle is the FULL-RANGE one-shot batch candle SQL: it never sees
  // the cutoff, so a hash match proves the batch+stream union is seamless
  def backfillReplaySql: String =
    graft.operators.DashboardQueries.ohlcCandlesSql

  /** q_stream_ivm: INCREMENTAL VIEW MAINTENANCE of an UNBOUNDED join —
    * the view V = BIDs ⋈ ASKs on (market, price bucket) maintained
    * per micro-batch by the textbook delta decomposition
    * ΔV = ΔA⋈B_old ∪ A_old⋈ΔB ∪ ΔA⋈ΔB (disjoint by which side is new,
    * so the append-only sink receives each pair exactly once). This is
    * the join class watermarked stream–stream joins CANNOT express:
    * no event-time bound, state is the full history, and the maintained
    * view stays correct whatever the batch boundaries — the replay runs
    * 3 event-time-ordered data batches plus the sentinel and the result
    * hash-matches the one-shot batch join.
    *
    * Scale shape: each delta joins against the accumulated side stored
    * as parquet keyed state (at scale: bucketed by the join key so the
    * per-batch join is partition-local); the per-batch work is
    * O(|Δ| · match density), never a rescan of V. Exactly-once here
    * relies on AvailableNow's clean replay; a production deployment
    * idempotizes the sink with the batch id. */
  def ivmJoinReplay(spark: SparkSession, dir: String): DataFrame = {
    val tmp = graft.Scratch.dir("graft_stream_ivm")
    val out = s"$tmp/out"
    val stateA = s"$tmp/bids"; val stateB = s"$tmp/asks"
    val in = stagedEnvelopeWithSentinel(spark, dir, sentinels = 1, parts = 3)
    val parsed = readCdcStream(spark, in, maxFilesPerTrigger = 1)
    def side(df: DataFrame, ab: String, idc: String, pc: String) = df
      .filter(col("ask_bid") === ab)
      .select(col("market"), floor(col("trade_price")).cast("long")
        .as("price_bucket"), col("trade_id").as(idc),
        col("trade_price").as(pc))
    val keys = Seq("market", "price_bucket")
    def pairs(bids: DataFrame, asks: DataFrame) = bids.join(asks, keys)
      .select(col("market"), col("price_bucket"), col("bid_id"),
        col("bid_price"), col("ask_id"), col("ask_price"))
    drain(spark, s"$tmp/ck", parsed.writeStream
      .foreachBatch { (batch: DataFrame, _: Long) =>
        val ss = batch.sparkSession
        val dA = side(batch, "BID", "bid_id", "bid_price").cache()
        val dB = side(batch, "ASK", "ask_id", "ask_price").cache()
        def old(path: String, fresh: DataFrame) =
          if (java.nio.file.Files.exists(java.nio.file.Paths.get(path)))
            ss.read.schema(fresh.schema).parquet(path)
          else ss.createDataFrame(ss.sparkContext.emptyRDD[org.apache.spark.sql.Row],
            fresh.schema)
        pairs(dA, old(stateB, dB))
          .unionByName(pairs(old(stateA, dA), dB))
          .unionByName(pairs(dA, dB))
          .write.mode("append").parquet(out)
        dA.write.mode("append").parquet(stateA)
        dB.write.mode("append").parquet(stateB)
        dA.unpersist(); dB.unpersist()
        ()
      })
    // the pair sink's schema, by analysis of the stream: no inference job
    spark.read.schema(pairs(side(parsed, "BID", "bid_id", "bid_price"),
        side(parsed, "ASK", "ask_id", "ask_price")).schema)
      .parquet(out)
      .filter(col("market") =!= "ZSENTINEL")
      .orderBy(col("bid_id"), col("ask_id"))
  }

  val ivmJoinSql: String = {
    val parsed = graft.operators.CdcParser.cdcParseBodySql
    s"""WITH parsed AS ($parsed)
       |SELECT t.market, CAST(floor(t.trade_price) AS BIGINT) AS price_bucket,
       |  t.trade_id AS bid_id, t.trade_price AS bid_price,
       |  q.trade_id AS ask_id, q.trade_price AS ask_price
       |FROM parsed t JOIN parsed q
       |  ON t.market = q.market
       | AND floor(t.trade_price) = floor(q.trade_price)
       |WHERE t.ask_bid = 'BID' AND q.ask_bid = 'ASK'
       |ORDER BY bid_id, ask_id""".stripMargin
  }

  /** A3 streaming: per-minute latency rollup — the AggregatingMergeTree MV
    * (`clickhouse/init.sql:81-94`); state store holds the partial aggregate
    * exactly like the `-State` combinators. */
  def minuteRollupStream(parsed: DataFrame): DataFrame =
    parsed
      .filter(col("op").isin("c", "u", "d")) // MV predicate (init.sql:93)
      .select(timestamp_millis(col("source_ts")).as("ts"),
        col("cdc_latency_ms"))
      .withWatermark("ts", "10 minutes")
      .groupBy(window(col("ts"), "1 minute").getField("start").as("minute"))
      .agg(
        avg(col("cdc_latency_ms")).as("avg_latency"),
        max(col("cdc_latency_ms")).as("max_latency"),
        min(col("cdc_latency_ms")).as("min_latency"),
        count(lit(1)).as("cnt"))

  /** S3 streaming: WebSocket-redelivery dedup — the producer's
    * `INSERT IGNORE` on the unique sequential_id
    * (`producer.py:104-109`, `mysql/init.sql:42,45-47`) as a streaming
    * operator.
    *
    * Uses `dropDuplicatesWithinWatermark`, not plain `dropDuplicates`:
    * plain dedup only evicts state when the event-time column is part of
    * the dedup key — keyed on `sequential_id` alone its state grows
    * forever. The WithinWatermark variant TTLs each key once the watermark
    * passes its event time, which is exactly the redelivery model
    * (duplicates arrive within seconds, not days): bounded state at any
    * scale, same INSERT-IGNORE semantics inside the horizon. */
  def dedupStream(parsed: DataFrame): DataFrame =
    parsed
      .withColumn("ts", timestamp_millis(col("source_ts")))
      .withWatermark("ts", "10 minutes")
      .dropDuplicatesWithinWatermark("sequential_id")

  /** Stream–static join enrichment: every micro-batch joins the live
    * stream against a batch dimension frame — the standard pattern for
    * attaching slowly-changing reference data (market metadata, user
    * tiers) to a CDC stream. The dimension side is broadcast, so the
    * unbounded stream side never shuffles and the join is stateless (no
    * watermark, no state store); at scale the dimension is re-resolved
    * per micro-batch, which is exactly how reference-data refresh is
    * supposed to reach a long-running stream. */
  def enrichStream(parsed: DataFrame, dim: DataFrame): DataFrame =
    parsed.join(
      org.apache.spark.sql.functions.broadcast(dim), Seq("market"), "left")

  /** D1–D4 streaming: flatMapGroupsWithState over
    * [[AnomalyDetection.foldBatch]], carrying DetectorState across batches.
    * Events within each micro-batch group are sorted by (ts, id) before
    * folding — the documented per-micro-batch ordering guarantee
    * (SURVEY §7.4). */
  def detectAnomaliesStream(parsed: DataFrame): Dataset[AnomalyAlert] = {
    val spark = parsed.sparkSession
    import spark.implicits._
    evFromTrades(parsed).groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (_: Long, events: Iterator[AnomalyDetection.Ev],
            state: GroupState[DetectorState]) =>
          val (out, st) = AnomalyDetection.foldBatch(
            state.getOption.getOrElse(DetectorState.empty), events)
          state.update(st)
          out.iterator
      }
  }

  /** D1–D4 streaming on Spark 4's `transformWithState` — the successor API
    * to flatMapGroupsWithState (typed per-state-variable handles, state
    * TTL, timers, RocksDB-native layout). Same [[AnomalyDetection.foldBatch]]
    * and the same per-micro-batch (ts, id) ordering guarantee; StreamingSpec
    * asserts output equality with the fMGWS variant. At scale TWS is the
    * forward path: per-variable state enables independent eviction and
    * schema evolution of detector state.
    *
    * Requires the RocksDB state store ([[configureStateStore]]) — TWS uses
    * column families, which HDFSBackedStateStoreProvider lacks. */
  def detectAnomaliesTws(parsed: DataFrame): Dataset[AnomalyAlert] = {
    val spark = parsed.sparkSession
    import spark.implicits._
    evFromTrades(parsed).groupByKey(_.user_id)
      .transformWithState(new DetectorProcessor,
        org.apache.spark.sql.streaming.TimeMode.None(),
        OutputMode.Append())
  }

  /** The detector as a `StatefulProcessor`: one ValueState[DetectorState]
    * per market key, carried across micro-batches. */
  private[streaming] class DetectorProcessor
      extends org.apache.spark.sql.streaming.StatefulProcessor[
        Long, AnomalyDetection.Ev, AnomalyAlert] {
    import org.apache.spark.sql.streaming.{TimeMode, TTLConfig, ValueState}
    @transient private var state: ValueState[DetectorState] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      state = getHandle.getValueState[DetectorState]("detector",
        org.apache.spark.sql.Encoders.product[DetectorState], TTLConfig.NONE)

    override def handleInputRows(key: Long,
        rows: Iterator[AnomalyDetection.Ev],
        timerValues: org.apache.spark.sql.streaming.TimerValues):
        Iterator[AnomalyAlert] = {
      val (out, st) = AnomalyDetection.foldBatch(
        if (state.exists()) state.get() else DetectorState.empty, rows)
      state.update(st)
      out.iterator
    }
  }

  /** Map parsed trade rows to detector input. The key is a per-market
    * numeric id whose low bits encode the threshold tier, mirroring the
    * reference's market-string tiering (`AnomalyDetector.java:182-186`:
    * contains "BTC" → top tier, "ETH" → mid, else default): id % 3 == tier.
    * 1e9 hash buckets keep cross-market collision odds ~1e-5 at 10³
    * markets (and `*3` stays far from Long overflow under ANSI);
    * StreamingSpec asserts the mapping is collision-free on the test
    * corpus, which is what makes the q_stream_d3d4 oracle's group-by-market
    * equivalent to grouping by this key. */
  private[graft] def evFromTrades(parsed: DataFrame): Dataset[AnomalyDetection.Ev] = {
    val spark = parsed.sparkSession
    import spark.implicits._
    val tier = when(col("market").contains("BTC"), 0L)
      .when(col("market").contains("ETH"), 1L)
      .otherwise(2L)
    parsed
      .filter(col("op") === "c") // P4: inserts only (CdcPipelineJob.java:80)
      .select(
        (pmod(xxhash64(col("market")), lit(1000000000L)) * 3 + tier).as("user_id"),
        col("trade_id").as("event_id"),
        col("source_ts").as("ts_ms"),
        col("trade_price").as("price"),
        col("trade_volume").cast("long").as("volume"),
        (col("trade_price") * col("trade_volume")).as("amount"))
      .as[AnomalyDetection.Ev]
  }

  /** T1: read-once fan-out — one foreachBatch persists the micro-batch and
    * appends raw rows (K1), window aggregates (K2) and alerts (K3) to their
    * sinks concurrently ([[appendAll]]).
    * Aggregations inside foreachBatch are per-batch (complete recompute of
    * the batch's windows) — cross-batch window state belongs to the
    * dedicated `windowAggStream` query; this sink mirrors the reference's
    * three JDBC sinks batching 200 rows / 3 s (`ClickHouseSinks.java:19-21`)
    * via the trigger interval.
    *
    * A small trigger's floor is its fixed per-task and per-write cost, not
    * its rows. So the batch is first coalesced to its byte width
    * ([[sizedByBytes]]): a live or catch-up batch becomes one
    * partition, raw and alerts write one task each, and the window
    * aggregate needs no exchange (one partition already satisfies its
    * distribution). */
  def fanOut(spark: SparkSession, inputDir: String, outDir: String,
      checkpointDir: String,
      trigger: Trigger = Trigger.ProcessingTime("3 seconds"),
      maxFilesPerTrigger: Int = 8): StreamingQuery = {
    val parsed = readCdcStream(spark, inputDir, maxFilesPerTrigger)
    val w = parsed.writeStream
      .option("checkpointLocation", checkpointDir)
      .trigger(trigger)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        val sized = sizedByBytes(batch).persist()
        try appendAll(sized.sparkSession, fanOutSinks.toSeq.map {
          case (sink, rows) =>
            () => rows(sized).write.mode("append").parquet(s"$outDir/$sink")
        })
        finally sized.unpersist()
      }
    startReplay(spark, w)
  }

  /** `batch` coalesced to [[fanOutWidth]] of its estimated size. The
    * estimate is the optimizer's: a foreachBatch frame is a LogicalRDD that
    * carries its source plan's statistics, so no job runs. The file
    * source's admission limit (`maxFilesPerTrigger`) is what bounds a
    * batch's bytes, and a batch of many MB keeps its width, because
    * coalesce never adds partitions. */
  private[graft] def sizedByBytes(batch: DataFrame): DataFrame =
    batch.coalesce(fanOutWidth(batch.sparkSession.sessionState.conf,
      batch.queryExecution.optimizedPlan.stats.sizeInBytes))

  /** Partitions for a batch estimated at `bytes`: one per
    * `spark.sql.files.openCostInBytes` (the size Spark already deems worth
    * a split of its own), at least 1. An unknown estimate (Spark's
    * `spark.sql.defaultSizeInBytes`) clamps to `Int.MaxValue`, which
    * coalesce reads as the batch's own width. */
  private[graft] def fanOutWidth(conf: org.apache.spark.sql.internal.SQLConf,
      bytes: BigInt): Int = {
    val open = conf.filesOpenCostInBytes
    ((bytes + open - 1) / open).max(1).min(Int.MaxValue).toInt
  }

  /** Daemon threads for [[appendAll]], one per running append: concurrent
    * fan-outs (Verify starts replays from a worker pool) never queue behind
    * one another's appends. */
  private lazy val appendPool = {
    val n = new java.util.concurrent.atomic.AtomicInteger
    java.util.concurrent.Executors.newCachedThreadPool((r: Runnable) => {
      val t = new Thread(r, s"graft-fanout-append-${n.incrementAndGet()}")
      t.setDaemon(true)
      t
    })
  }

  /** Run `appends` concurrently, each under the calling thread's active
    * session and local properties: the stream's job group (so the query's
    * `stop()` cancels them), its query and batch ids and the root execution
    * id. Returns only once every append has ended, then rethrows the first
    * failure's cause. Only for appends that are independent: one that reads
    * another's output (the ivm replay's state) must stay sequential.
    *
    * `stop()` cancels the job group once and then interrupts this thread.
    * An append still planning its write submits the job after that cancel,
    * so on the interrupt the group is cancelled again until every append
    * has ended, and the interrupt is rethrown. */
  private def appendAll(spark: SparkSession, appends: Seq[() => Unit]): Unit = {
    import java.util.concurrent.{CompletableFuture, ExecutionException, TimeUnit}
    val session = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
    val runs = appends.map(a =>
      SQLExecution.withThreadLocalCaptured(session, appendPool)(a()))
    val all = CompletableFuture.allOf(runs: _*)
    try all.get()
    catch {
      case _: ExecutionException => ()
      case stop: InterruptedException =>
        val sc = session.sparkContext
        val group = Option(sc.getLocalProperty("spark.jobGroup.id"))
        while (!all.isDone) {
          group.foreach(sc.cancelJobGroup)
          try all.get(50, TimeUnit.MILLISECONDS)
          catch { case _: Exception => () }
        }
        throw stop
    }
    runs.flatMap(f => scala.util.Try(f.join()).failed.toOption)
      .headOption.foreach {
        case e: java.util.concurrent.CompletionException if e.getCause != null =>
          throw e.getCause
        case e => throw e
      }
  }

  /** The fan-out's sinks and the rows each takes from a micro-batch: K1 raw
    * rows stamped like ST4, K2 the batch's window aggregates, K3 the
    * batch's stateless alerts (D1; stateful rules live in the dedicated
    * stream with its own state store). */
  private val fanOutSinks = scala.collection.immutable.ListMap[String,
      DataFrame => DataFrame](
    "raw" -> (_.withColumn("inserted_at", current_timestamp())),
    "agg" -> (b => TradeAggregates.windowAggOn(windowInput(b))),
    "alerts" -> (_.filter(col("op") === "c")
      .filter(col("trade_price") * col("trade_volume") >= 3000.0)))

  /** Latest materialized fan-out sink root per input dir, within this JVM:
    * the reference runs ONE streaming job feeding three sinks
    * (`CdcPipelineJob.java:61-91`), so the three sink read-back queries
    * (q_stream_a1 / q_stream_raw / q_stream_alerts) share one replay run
    * rather than re-executing the stream per sink. q_stream_a1 always
    * re-runs the stream (refreshing this map) so its benchmark time is the
    * honest end-to-end cost; the raw/alert read-backs reuse the latest run
    * and cost only their own scan + sort. */
  private val lastReplayOut =
    new java.util.concurrent.ConcurrentHashMap[String, (String, String)]()

  /** The plain single-batch envelope fixture (natural partitioning, no
    * sentinel) shared by the fan-out, detector, TWS, join and enrich
    * replays — staged once per (session, dir). */
  private def stagedEnvelopePlain(spark: SparkSession, dir: String)
      : String =
    stage(spark, s"$dir#plain")(
      graft.operators.CdcParser.eventsAsEnvelopeJson(spark, dir)
        .write.mode("overwrite").text(_))

  /** Run the T1 fan-out once over the events-derived envelope stream
    * (`CdcParser.eventsAsEnvelopeJson` — the exact q_p1 input) via the
    * file-stream source with `Trigger.AvailableNow`, materializing all
    * three sinks under a fresh temp dir. The input is written MULTI-file
    * (parallel write — no single-task coalesce), and the source's
    * maxFilesPerTrigger is raised above the file count so the replay is a
    * single micro-batch: the per-batch window aggregate in the agg sink
    * then equals the global aggregate (cross-batch stateful windows are
    * covered by StreamingSpec's watermarked queries). */
  private def runFanOutReplay(spark: SparkSession, dir: String)
      : (String, String) = {
    val tmp = graft.Scratch.dir("graft_stream_a1")
    val out = s"$tmp/out"
    val in = stagedEnvelopePlain(spark, dir)
    drain(fanOut(spark, in, out, s"$tmp/ck", Trigger.AvailableNow(),
      maxFilesPerTrigger = 1 << 20))
    lastReplayOut.put(dir, (in, out))
    (in, out)
  }

  /** Read fan-out sink `sink` of the replay that staged `in` and wrote
    * `out`, with the schema its rows have over the parsed stream of `in`:
    * derived by analysis alone, no schema-inference job. */
  private def readSink(spark: SparkSession, run: (String, String),
      sink: String): DataFrame = {
    val (in, out) = run
    spark.read.schema(fanOutSinks(sink)(readCdcStream(spark, in)).schema)
      .parquet(s"$out/$sink")
  }

  private def latestSink(spark: SparkSession, dir: String,
      sink: String): DataFrame =
    readSink(spark, Option(lastReplayOut.get(dir))
      .getOrElse(runFanOutReplay(spark, dir)), sink)

  /** The streaming spine, HASH-CHECKED (q_stream_a1): replay through the T1
    * [[fanOut]], then read the materialized AGG sink back — this entry is
    * what gives the reference's primary surface (`CdcPipelineJob.java:61-91`:
    * source → parse → fan-out → sinks) a DuckDB-oracle signal instead of
    * spec-only coverage. window_start is cast to TIMESTAMP_NTZ on read-back
    * so the dumped parquet compares naive-to-naive against the oracle
    * (q_a1 pattern). */
  def fanOutReplay(spark: SparkSession, dir: String): DataFrame = {
    readSink(spark, runFanOutReplay(spark, dir), "agg")
      .withColumn("window_start",
        col("window_start").cast(org.apache.spark.sql.types.TimestampNTZType))
      .orderBy(col("window_start"), col("user_id"))
  }

  /** K1 read-back, HASH-CHECKED (q_stream_raw): the fan-out's RAW sink
    * (`ClickHouseSinks.java:26-47`) against the q_p1 parse oracle — the
    * sink must contain exactly the parsed rows, nothing dropped or
    * duplicated by the foreachBatch write. `inserted_at` (the ST4 wall-clock
    * stamp) is excluded: it is nondeterministic by construction. */
  def fanOutRawReplay(spark: SparkSession, dir: String): DataFrame =
    latestSink(spark, dir, "raw")
      .select(col("op"), col("trade_id"), col("market"), col("trade_price"),
        col("trade_volume"), col("trade_amount"), col("ask_bid"),
        col("upbit_timestamp"), col("sequential_id"), col("source_ts"),
        col("cdc_ts"), col("cdc_latency_ms"))
      .orderBy(col("trade_id"))

  /** K3 read-back, HASH-CHECKED (q_stream_alerts): the fan-out's ALERT sink
    * (`ClickHouseSinks.java:77-92`) — the stateless LARGE_TRADE rule at the
    * bottom tier (inserts only, amount ≥ 3000) — against a DuckDB filter
    * over the same parse oracle. */
  def fanOutAlertsReplay(spark: SparkSession, dir: String): DataFrame =
    latestSink(spark, dir, "alerts")
      .select(col("trade_id"), col("market"), col("trade_price"),
        col("trade_volume"),
        (col("trade_price") * col("trade_volume")).as("amount"))
      .orderBy(col("trade_id"))

  val fanOutRawSql: String = graft.operators.CdcParser.cdcParseRoundtripSql

  val fanOutAlertsSql: String = {
    val parsed = graft.operators.CdcParser.cdcParseBodySql
    s"""WITH parsed AS ($parsed)
       |SELECT trade_id, market, trade_price, trade_volume,
       |  trade_price * trade_volume AS amount
       |FROM parsed
       |WHERE op = 'c' AND trade_price * trade_volume >= 3000.0
       |ORDER BY trade_id""".stripMargin
  }

  /** D1–D4 STREAMING, HASH-CHECKED (q_stream_d3d4): replay the envelope
    * stream through the stateful `flatMapGroupsWithState` detector
    * ([[detectAnomaliesStream]] — the Flink `KeyedProcessFunction` path,
    * `AnomalyDetector.java:79-175`) and count alerts by type. The replay is
    * a single `AvailableNow` micro-batch so the per-key fold order is the
    * documented global (ts_ms, event_id) secondary sort — deterministic for
    * the DuckDB oracle (the same recursive-CTE state-machine fold as
    * q_d3d4, over the parsed-insert subset with the stream's flat tier);
    * cross-micro-batch state carry is pinned by StreamingSpec's
    * two-batch MemoryStream test. */
  def detectorReplay(spark: SparkSession, dir: String): DataFrame = {
    val in = stagedEnvelopePlain(spark, dir)
    parquetReplay(spark, "graft_stream_d", detectAnomaliesStream(
        readCdcStream(spark, in, maxFilesPerTrigger = 1 << 20)))
      .groupBy(col("alert_type")).agg(count(lit(1)).as("n"))
      .orderBy(col("alert_type"))
  }

  /** D1–D4 through Spark 4's `transformWithState`, HASH-CHECKED
    * (q_stream_tws): the same replay as [[detectorReplay]] but through
    * [[detectAnomaliesTws]] — so the NEW stateful API (typed state
    * variables, TTL, timers, RocksDB column families) is pinned to the
    * same DuckDB state-machine oracle as the fMGWS path, not just to a
    * spec-level equality. Runs on a CLONED session (`newSession` shares
    * the SparkContext but isolates runtime conf) because TWS requires the
    * RocksDB state store provider and Verify runs queries concurrently on
    * one session — flipping the provider globally mid-run would change
    * the store under other streaming replays. */
  def twsReplay(spark0: SparkSession, dir: String): DataFrame = {
    val spark = spark0.newSession()
    configureStateStore(spark)
    // stage and read back on the PARENT session: the per-call newSession()
    // would never hit the (session, dir)-keyed fixture memo
    val in = stagedEnvelopePlain(spark0, dir)
    parquetReplay(spark0, "graft_stream_tws", detectAnomaliesTws(
        readCdcStream(spark, in, maxFilesPerTrigger = 1 << 20)))
      .groupBy(col("alert_type")).agg(count(lit(1)).as("n"))
      .orderBy(col("alert_type"))
  }

  /** K5/S3 STREAMING, HASH-CHECKED (q_stream_dedup): replay the envelope
    * stream WITH redelivery through [[dedupStream]]'s
    * `dropDuplicatesWithinWatermark` and read the materialized sink back
    * against the q_p1 parse oracle — the INSERT-IGNORE upsert
    * (`mysql/init.sql:42,45-47`, `producer.py:104-109`) in its streaming
    * form, state carried ACROSS micro-batches.
    *
    * Replay construction (all deterministic):
    *  - the base envelope is range-partitioned on event time, so
    *    part-0000k ascends in time; [[stage]] stamps the parts' modtimes
    *    ascending, so `maxFilesPerTrigger=1` replays one file per
    *    micro-batch in event-time order — no original row is ever behind
    *    the watermark when it arrives.
    *  - redelivered duplicates are the events in the newest 9 minutes of
    *    the stream (inside the 10-minute watermark horizon — the
    *    WebSocket-redelivery model: duplicates arrive within seconds, not
    *    days), written last with both the newest modtime AND a
    *    lexicographically-last name, so they arrive after their originals
    *    under either file ordering. Their keys' dedup state is still live
    *    (event time > final watermark), so every duplicate is dropped and
    *    the sink equals the duplicate-free parse exactly.
    * Duplicate rows are byte-identical to their originals, so WHICH copy
    * survives never affects the output. */
  def dedupReplay(spark: SparkSession, dir: String): DataFrame = {
    val in = stage(spark, s"$dir#dedup", stamp = true) { inD =>
      val env = graft.operators.CdcParser.eventsAsEnvelopeJsonTs(spark, dir)
      // 4 time-range files + the redelivery file = 5 micro-batches: enough
      // to carry dedup state across several batches without paying the
      // per-batch state-commit machinery more often than the test needs
      env.repartitionByRange(4, col("src_ms")).select("json")
        .write.mode("overwrite").text(inD)
      val maxTs = env.agg(max(col("src_ms"))).head().getLong(0)
      val dupStage = new java.io.File(new java.io.File(inD).getParent, "dup")
        .toString
      env.filter(col("src_ms") >= maxTs - 9L * 60000L).select("json")
        .write.mode("overwrite").text(dupStage)
      new java.io.File(dupStage).listFiles()
        .filter(_.getName.startsWith("part-")).sortBy(_.getName)
        .zipWithIndex.foreach { case (f, i) =>
          val dst = new java.io.File(inD, f"z-redelivery-$i%05d.txt")
          java.nio.file.Files.move(f.toPath, dst.toPath)
          dst.setLastModified(System.currentTimeMillis() + 3600000L); ()
        }
    }
    parquetReplay(spark, "graft_stream_k5",
        dedupStream(readCdcStream(spark, in, maxFilesPerTrigger = 1))
          .drop("ts"))
      .orderBy(col("trade_id"))
  }

  /** The dedup sink must contain exactly the duplicate-free parse. */
  val dedupReplaySql: String = graft.operators.CdcParser.cdcParseRoundtripSql

  /** Session windows STREAMING, HASH-CHECKED (q_stream_sessions): the A9
    * session operator (30-minute gap, per market) run through the real
    * watermarked streaming machinery and read back against the
    * gaps-and-islands oracle. Append-mode session aggregation only emits a
    * session once the watermark passes its end, so the replay appends ONE
    * sentinel trade two days after the real stream (its own market,
    * filtered from the read-back): the sentinel's micro-batch advances the
    * watermark past every real session, and the trailing no-data batch
    * flushes them all to the sink. Deterministic: session contents are
    * event-time math, independent of batch boundaries. */
  def sessionReplay(spark: SparkSession, dir: String): DataFrame = {
    val in = stagedEnvelopeWithSentinel(spark, dir)
    val parsed = readCdcStream(spark, in, maxFilesPerTrigger = 1 << 20)
    val sessions = parsed
      .select(timestamp_millis(col("source_ts")).as("ts"),
        col("market"), col("trade_price"))
      .withWatermark("ts", "10 minutes")
      .groupBy(session_window(col("ts"), "30 minutes"), col("market"))
      .agg(count(lit(1)).as("n_events"),
        graft.G.dsum(col("trade_price")).as("total_value"))
      .select(col("session_window.start").as("session_start"),
        col("session_window.end").as("session_end"),
        col("market"), col("n_events"), col("total_value"))
    parquetReplay(spark, "graft_stream_s", sessions)
      .filter(col("market") =!= "ZSENTINEL")
      .withColumn("session_start", col("session_start")
        .cast(org.apache.spark.sql.types.TimestampNTZType))
      .withColumn("session_end", col("session_end")
        .cast(org.apache.spark.sql.types.TimestampNTZType))
      .orderBy(col("market"), col("session_start"))
  }

  /** Gaps-and-islands over the parse oracle — the q_a9 SQL shape keyed by
    * market (strict > gap: Spark merges an event at exactly last+gap). */
  val sessionReplaySql: String = {
    val parsed = graft.operators.CdcParser.cdcParseBodySql
    s"""WITH parsed AS ($parsed),
       |ev AS (SELECT make_timestamp(source_ts * 1000) AS ts, market,
       |              trade_price FROM parsed),
       |marked AS (
       |  SELECT market, ts, trade_price,
       |    CASE WHEN ts - lag(ts) OVER (PARTITION BY market ORDER BY ts)
       |              > INTERVAL 30 MINUTE OR
       |         lag(ts) OVER (PARTITION BY market ORDER BY ts) IS NULL
       |         THEN 1 ELSE 0 END AS new_session
       |  FROM ev),
       |islands AS (
       |  SELECT *, sum(new_session) OVER (PARTITION BY market ORDER BY ts
       |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS island
       |  FROM marked)
       |SELECT min(ts) AS session_start,
       |  max(ts) + INTERVAL 30 MINUTE AS session_end,
       |  market, count(*) AS n_events,
       |  CAST(CAST(SUM(CAST(trade_price AS DECIMAL(38,6))) AS VARCHAR) AS DOUBLE) AS total_value
       |FROM islands GROUP BY market, island
       |ORDER BY market, session_start""".stripMargin
  }

  /** W1/A1 STREAMING, HASH-CHECKED (q_stream_w1): the dedicated
    * [[windowAggStream]] path — watermarked tumbling windows emitted in
    * APPEND mode by watermark passage (the production A1 stream, distinct
    * from the per-batch aggregate inside the [[fanOut]] sink that
    * q_stream_a1 checks). Same sentinel construction as
    * [[sessionReplay]]: one trade two days out closes every real window.
    * Oracle = the q_stream_a1 window SQL (sentinel filtered both sides by
    * market). */
  def windowAggReplay(spark: SparkSession, dir: String): DataFrame = {
    val in = stagedEnvelopeWithSentinel(spark, dir)
    parquetReplay(spark, "graft_stream_w", windowAggStream(
        readCdcStream(spark, in, maxFilesPerTrigger = 1 << 20)))
      .filter(col("user_id") =!= "ZSENTINEL")
      .withColumn("window_start",
        col("window_start").cast(org.apache.spark.sql.types.TimestampNTZType))
      .orderBy(col("window_start"), col("user_id"))
  }

  // the sentinel exists only in the constructed replay input (and is
  // filtered from the read-back), so the events-table window oracle is
  // exactly q_stream_a1's. `def`: fanOutReplaySql is declared later in
  // this object and a val here would capture null at init time.
  def windowAggReplaySql: String = fanOutReplaySql

  /** Shared scaffolding of the incremental-maintenance replays
    * (latency histogram / centroid refresh / waterfill): [[stage]] the
    * input once (mtime-stamped so `maxFilesPerTrigger = 1` replays it as
    * ordered micro-batches), fold each batch's state slice into a
    * versioned parquet state table, return the FINAL merged state.
    * `read` builds the streaming source over the staged dir, `slice`
    * computes a batch's own state contribution, `merge` folds it into
    * the previous version (must be commutative+associative in the slice
    * argument, and keep the slice's schema, for the replay to be
    * batch-boundary-independent — the property every caller's oracle
    * hash-check actually proves). Fails with a clear message if no batch
    * committed state. */
  private def replayVersionedState(
      spark: SparkSession,
      writeInput: String => Unit,
      read: String => DataFrame,
      statePrefix: String,
      slice: DataFrame => DataFrame,
      merge: (DataFrame, DataFrame) => DataFrame,
      fixtureTag: String): DataFrame = {
    val tmp = graft.Scratch.dir(s"graft_stream_$statePrefix")
    val st = s"$tmp/state"; val pre = s"${statePrefix}_"
    new java.io.File(st).mkdirs()
    // input fixture memoized per (session, tag); ck/state stay per-call
    val in = stage(spark, fixtureTag, stamp = true)(writeInput)
    @volatile var schema: org.apache.spark.sql.types.StructType = null
    drain(spark, s"$tmp/ck", read(in).writeStream
      .foreachBatch { (batch: DataFrame, bid: Long) =>
        val p = slice(batch)
        val merged = latest(st, pre, bid) match {
          case None => p
          case Some(f) =>
            merge(p, batch.sparkSession.read.schema(p.schema).parquet(f))
        }
        merged.coalesce(1).write.mode("overwrite").parquet(s"$st/$pre$bid")
        schema = merged.schema
        ()
      })
    val fin = latest(st, pre).getOrElse(sys.error(
      s"replayVersionedState($statePrefix): no micro-batch committed " +
        "state — was the staged input empty?"))
    spark.read.schema(schema).parquet(fin)
  }

  /** INCREMENTAL LATENCY SLO, STREAMING (q_stream_latency): the q_p13
    * mergeable log-histogram maintained across micro-batches — the claim
    * behind the HDR layout ("counts merge, so streaming serves quantiles
    * without rescanning") proven through the machinery instead of
    * asserted: each batch parses, buckets, and ADDS its (op, bucket)
    * counts into a versioned parquet count table (state is O(ops ×
    * buckets) forever — compare exact percentiles, which would need every
    * raw value retained); the final percentile picks read the merged
    * table only. Hash-matched to the one-shot batch q_p13 oracle — and
    * since count addition is commutative, the result is independent of
    * how arrivals split into batches, which is exactly the property that
    * lets a 100 TB deployment serve p99 lag from a table the size of a
    * screenshot. */
  def latencyReplay(spark: SparkSession, dir: String): DataFrame = {
    val finalState = replayVersionedState(spark,
      writeInput = in =>
        graft.operators.CdcParser.eventsAsEnvelopeJsonTs(spark, dir)
          .repartitionByRange(4, col("src_ms")).select("json")
          .write.mode("overwrite").text(in),
      read = in => readCdcStream(spark, in, maxFilesPerTrigger = 1),
      statePrefix = "h",
      slice = batch => graft.operators.CdcParser
        .latencyBuckets(batch.select(col("op"),
          col("cdc_latency_ms").as("ms")))
        .groupBy(col("op"), col("bucket"), col("lo_ms"))
        .agg(count(lit(1)).as("cnt")),
      merge = (p, prev) => prev.unionByName(p)
        .groupBy(col("op"), col("bucket"), col("lo_ms"))
        .agg(sum(col("cnt")).as("cnt")),
      fixtureTag = s"$dir#vs_latency")
    graft.operators.CdcParser.latencyPercentiles(finalState)
  }

  // merge-independence means the stream serves the identical report: the
  // oracle is batch q_p13's
  def latencyReplaySql: String =
    graft.operators.CdcParser.latencyHistogramSql

  /** INCREMENTAL CENTROID MAINTENANCE, STREAMING (q_stream_centroids):
    * q_y18's index refresh run as a stream — the delta vectors arrive in
    * micro-batches, each batch is assigned against the FIXED serving
    * centroids (per-vector argmin — independent of batching, so the
    * assignment is batch-boundary-invariant by construction) and folded
    * into a versioned (cid, dim) → (DECIMAL sum, count) state table
    * (the latencyReplay pattern: state is O(k·dims) FOREVER, decimal
    * addition is commutative+exact, so the merged sums equal the one-shot
    * batch sums regardless of how the delta was sliced). The final report
    * recombines streamed delta sums with the batch base sums into the
    * refreshed exact-mean centroids and hash-matches q_y18's DuckDB
    * oracle — proving a vector store can keep its IVF index fresh from
    * the CDC feed without ever re-scanning the base corpus.
    *
    * This is the vector-surface member of the incremental-maintenance
    * family (x15 LSH, stream_ivm join MV, stream_merge snapshot,
    * stream_latency histogram, c27 clusters). */
  def centroidsReplay(spark: SparkSession, dir: String): DataFrame = {
    import graft.operators.Similarity
    val eAll = graft.G.table(spark, dir, "embeddings")
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
    val isDelta = col("vec_id") % 5 === 4 && col("vec_id") >= 8
    // base index: the y18 build (base slice only), materialized once
    val (assignRaw, centRaw) =
      Similarity.lloyd(eAll.filter(!isDelta), 8, 2)
    val baseAssign = assignRaw.select(col("vec_id"), col("cid"), col("v"))
      .localCheckpoint()
    val cent = centRaw.localCheckpoint()
    val finalState = replayVersionedState(spark,
      // the delta feed: JSON lines, range-partitioned into ~4 files so
      // the stream replays as multiple micro-batches
      writeInput = in => eAll.filter(isDelta)
        .repartitionByRange(4, col("vec_id"))
        .select(to_json(struct(col("vec_id"), col("v"))).as("value"))
        .write.mode("overwrite").text(in),
      read = in =>
        spark.readStream.option("maxFilesPerTrigger", 1).text(in),
      statePrefix = "sc",
      slice = batch => Similarity.nearest(batch
          .select(from_json(col("value"),
            org.apache.spark.sql.types.StructType.fromDDL(
              "vec_id BIGINT, v ARRAY<DOUBLE>")).as("r"))
          .select(col("r.vec_id").as("vec_id"), col("r.v").as("v")), cent, 1)
        .select(col("cid"), posexplode(col("v")).as(Seq("dim", "x")))
        .groupBy(col("cid"), col("dim"))
        .agg(sum(col("x").cast("decimal(38,6)")).as("dsum"),
          count(lit(1)).as("cnt")),
      merge = (p, prev) => prev.unionByName(p)
        .groupBy(col("cid"), col("dim"))
        .agg(sum(col("dsum")).as("dsum"), sum(col("cnt")).as("cnt")),
      fixtureTag = s"$dir#vs_centroids")
    // recombine streamed delta sums with the batch base sums
    val delta = finalState
      .select(col("cid"), col("dim"),
        col("dsum").as("d_sum"), col("cnt").as("d_cnt"))
    val base = baseAssign
      .select(col("cid"), posexplode(col("v")).as(Seq("dim", "x")))
      .groupBy(col("cid"), col("dim"))
      .agg(sum(col("x").cast("decimal(38,6)")).as("b_sum"),
        count(lit(1)).as("b_cnt"))
    val c2 = base.join(delta, Seq("cid", "dim"), "left")
      .withColumn("m",
        (col("b_sum") + coalesce(col("d_sum"), lit(0).cast("decimal(38,6)")))
          .cast("double") /
          (col("b_cnt") + coalesce(col("d_cnt"), lit(0L))).cast("double"))
      .groupBy(col("cid"))
      .agg(expr("transform(array_sort(collect_list(struct(dim, m))), s -> s.m)")
        .as("c2"),
        max(col("b_cnt")).as("n_base"),
        max(coalesce(col("d_cnt"), lit(0L))).as("n_delta"))
    c2.join(cent, "cid")
      .withColumn("drift2", graft.functions.VectorExpressions
        .vector_dist2(col("c2"), col("c")))
      .select(col("cid"), col("n_base"), col("n_delta"), col("drift2"))
      .orderBy(col("cid"))
  }

  // assignment against fixed centroids is per-vector independent and the
  // state sums are exact decimals: the stream serves the identical
  // refresh report, so the oracle is batch q_y18's
  def centroidsReplaySql: String =
    graft.operators.Similarity.centroidRefreshSql()

  /** INCREMENTAL WATER-FILLING, STREAMING (q_stream_waterfill): the c30
    * mixing-recipe allocation maintained as documents arrive — per
    * micro-batch the per-source token sums are ADDED into a versioned
    * (source, avail) state table (token addition is commutative, so the
    * merged sums are slice-independent), and the allocation is
    * re-derived from the merged sums only ([[graft.operators.Curation
    * .waterfillFromAvail]] — windows over the ≤|sources| state, never
    * the document stream). The final report hash-matches c30's one-shot
    * batch oracle: the budget allocator a live ingest pipeline re-reads
    * after every batch without rescanning the corpus. */
  def waterfillReplay(spark: SparkSession, dir: String): DataFrame = {
    val finalState = replayVersionedState(spark,
      writeInput = in => graft.G.table(spark, dir, "documents")
        .select(col("source"),
          expr("size(split(text, '\\\\s+'))").cast("long").as("nt"))
        .repartitionByRange(4, col("source"), col("nt"))
        .select(to_json(struct(col("source"), col("nt"))).as("value"))
        .write.mode("overwrite").text(in),
      read = in =>
        spark.readStream.option("maxFilesPerTrigger", 1).text(in),
      statePrefix = "wf",
      slice = batch => batch
        .select(from_json(col("value"),
          org.apache.spark.sql.types.StructType.fromDDL(
            "source STRING, nt BIGINT")).as("r"))
        .groupBy(col("r.source").as("source"))
        .agg(sum(col("r.nt")).as("avail")),
      merge = (p, prev) => prev.unionByName(p)
        .groupBy(col("source")).agg(sum(col("avail")).as("avail")),
      fixtureTag = s"$dir#vs_waterfill")
    graft.operators.Curation.waterfillFromAvail(finalState)
  }

  // token addition is commutative, the allocation depends only on the
  // merged sums: the oracle is batch q_c30's
  def waterfillReplaySql: String =
    graft.operators.Curation.waterfillAllocationSql

  /** SLIDING-WINDOW DISTINCT, STREAMING (q_stream_sliding): hourly active
    * markets every 15 minutes — the overlapping-window distinct count that
    * q_a19 computes in batch, through the REAL machinery, exercising the
    * one streaming feature no other replay here touches: CHAINED STATEFUL
    * OPERATORS (Spark 3.5+/4.x "multiple stateful operators"). Distinct
    * aggregation is unsupported in streaming, so the production plan is
    * the two-phase form: sliding window() expansion (each event lands in
    * its 4 covering windows) → stateful dropDuplicates on (window, market)
    * — incidence dedup, state keyed by the window's event time and
    * evicted by watermark passage — → stateful windowed count of the
    * surviving incidences. Two state stores chained in append mode; rows
    * flow window-at-a-time as the watermark closes them.
    *
    * Input replays as ~5 event-time-ordered micro-batches (range-
    * partitioned files, maxFilesPerTrigger = 1), so both operators carry
    * state ACROSS batches: a market re-appearing in a window from a LATER
    * batch must find the first batch's incidence still in the dedup state
    * or the count inflates — cross-batch state is load-bearing, not
    * incidental. Sentinel + trailing no-data batch flush the final
    * windows (the sessionReplay pattern).
    *
    * Scale: dedup state is O(open windows × active markets), the agg
    * state O(open windows) — both bounded by the watermark horizon;
    * nothing rescans history. Oracle = the q_a19 slot construction over
    * the parse CTE (boundary-free: arrivals are event-time ordered, so
    * the watermark only ever CLOSES windows). */
  def slidingDistinctReplay(spark: SparkSession, dir: String): DataFrame = {
    val in = stagedEnvelopeWithSentinel(spark, dir, sentinels = 1, parts = 4)
    val agg = readCdcStream(spark, in, maxFilesPerTrigger = 1)
      .select(timestamp_millis(col("source_ts")).as("ts"), col("market"))
      .withWatermark("ts", "10 minutes")
      .select(window(col("ts"), "1 hour", "15 minutes").as("win"),
        col("market"))
      .dropDuplicates("win", "market")
      .groupBy(col("win"))
      .agg(count(lit(1)).as("n_markets"))
      .select(col("win.start").as("window_start"), col("n_markets"))
    val sink = parquetReplay(spark, "graft_stream_sd", agg)
    // the sentinel inflates its own 4 windows' counts by one market; those
    // windows start at/after the sentinel's hour and contain nothing real,
    // so dropping every window the real stream never touched removes them
    val maxReal = graft.operators.CdcParser
      .eventsAsEnvelopeJsonTs(spark, dir)
      .agg(max(col("src_ms"))).head().getLong(0)
    sink
      .filter(col("window_start") <=
        timestamp_millis(lit(maxReal)))
      .withColumn("window_start",
        col("window_start").cast(org.apache.spark.sql.types.TimestampNTZType))
      .orderBy(col("window_start"))
  }

  /** q_a19's slot construction (4 covering windows by integer slot
    * arithmetic) over the parse CTE, markets distinct per window. */
  def slidingDistinctReplaySql: String = {
    val parsed = graft.operators.CdcParser.cdcParseBodySql
    s"""WITH parsed AS ($parsed),
       |ev AS (SELECT market, source_ts // 900000 AS slot FROM parsed),
       |x AS (
       |  SELECT market, (slot - i.i) * 900000 AS win_ms
       |  FROM ev CROSS JOIN (SELECT unnest(range(0, 4)) AS i) i)
       |SELECT make_timestamp(win_ms * 1000) AS window_start,
       |  count(DISTINCT market) AS n_markets
       |FROM x GROUP BY win_ms ORDER BY window_start""".stripMargin
  }

  /** CHECKPOINT RESUME, HASH-CHECKED (q_stream_resume): W4's exactly-once
    * claim proven end-to-end instead of asserted — the windowed aggregate
    * runs HALF the input under AvailableNow, terminates (checkpoint
    * committed, sink metadata sealed), then a SECOND query on the SAME
    * checkpoint drains the rest plus the sentinel. The read-back must
    * hash-match the one-shot batch oracle (q_stream_w1's SQL): equality
    * proves no row was lost across the restart (source offsets resumed),
    * none duplicated (the parquet sink's transactional _spark_metadata),
    * and the aggregation STATE survived — windows straddling the
    * kill point get contributions from both runs, so a state reset
    * would change their sums, not just their count.
    *
    * This is the recovery path a 100 TB streaming deployment exercises
    * on every executor loss and every planned restart; the fixture makes
    * it a deterministic two-phase replay. */
  def resumeReplay(spark: SparkSession, dir: String): DataFrame = {
    val tmp = graft.Scratch.dir("graft_stream_resume")
    val in = s"$tmp/in"
    val out = s"$tmp/out"; val ck = s"$tmp/ck"
    // the staged fixture is shared/memoized — COPY files into the
    // per-call arrival dir (never move them out of the shared stage)
    val fixture = stagedEnvelopeWithSentinel(spark, dir, sentinels = 1,
      parts = 4)
    val inDir = new java.io.File(in); inDir.mkdirs()
    val agg = windowAggStream(readCdcStream(spark, in, maxFilesPerTrigger = 1))
    val staged = new java.io.File(fixture).listFiles()
      .filter(f => !f.getName.startsWith(".") && !f.getName.startsWith("_"))
      .sortBy(_.lastModified)
    val (phase1, phase2) = staged.splitAt(staged.length / 2)
    // phase 1 drains, commits the checkpoint and terminates; phase 2
    // RESUMES from the same checkpoint: offsets + state restored
    Seq(phase1, phase2).foreach { phase =>
      phase.foreach { f =>
        val dst = new java.io.File(inDir, f.getName)
        val m = f.lastModified
        java.nio.file.Files.copy(f.toPath, dst.toPath); dst.setLastModified(m)
      }
      drainToParquet(agg, out, ck)
    }
    spark.read.schema(agg.schema).parquet(out)
      .filter(col("user_id") =!= "ZSENTINEL")
      .withColumn("window_start",
        col("window_start").cast(org.apache.spark.sql.types.TimestampNTZType))
      .orderBy(col("window_start"), col("user_id"))
  }

  // restart must be invisible: the oracle is the one-shot batch window SQL
  def resumeReplaySql: String = fanOutReplaySql

  /** MULTI-SOURCE UNION, HASH-CHECKED (q_stream_union): the CDC feed split
    * across TWO file-stream sources (the two-topic deployment shape: a
    * partitioned Kafka feed, one reader per topic) unioned BEFORE the
    * stateful windowed aggregate and drained under AvailableNow. The
    * read-back hash-matches the one-shot batch aggregate over the WHOLE
    * feed (q_stream_a1's oracle): equality proves the union multiplexes
    * without loss or duplication, and that the stateful operator's global
    * watermark advances as the MIN across sources — each source carries
    * its OWN sentinel, because one lagging source would pin the global
    * watermark at its last event and append mode would hold every tail
    * window open forever. Split key is a hash of the raw envelope line, so
    * the halves are time-interleaved (the adversarial case for watermark
    * coordination), not time-partitioned. */
  def unionReplay(spark: SparkSession, dir: String): DataFrame = {
    val split = pmod(xxhash64(col("json")), lit(2L))
    val inA = stagedEnvelopeWithSentinel(spark, dir, sentinels = 1,
      parts = 2, keep = split === 0L, tag = "unionA")
    val inB = stagedEnvelopeWithSentinel(spark, dir, sentinels = 1,
      parts = 2, keep = split === 1L, tag = "unionB")
    val united = readCdcStream(spark, inA, maxFilesPerTrigger = 1)
      .unionByName(readCdcStream(spark, inB, maxFilesPerTrigger = 1))
    parquetReplay(spark, "graft_stream_union", windowAggStream(united))
      .filter(col("user_id") =!= "ZSENTINEL")
      .withColumn("window_start",
        col("window_start").cast(org.apache.spark.sql.types.TimestampNTZType))
      .orderBy(col("window_start"), col("user_id"))
  }

  // the union of the two halves must equal the whole feed's batch windows
  def unionReplaySql: String = fanOutReplaySql

  /** LATE DATA, HASH-CHECKED (q_stream_late): the real watermark DROPPING
    * real late rows — the one streaming behavior every other replay here
    * avoids (their inputs arrive in event-time order, so their watermarks
    * only ever close windows). This is the engine half of q_p11's tuning
    * audit: the same deterministic arrival process (every 101st trade
    * redelivered 7 days late, every 103rd lagging 6 hours), a 24-hour
    * watermark, and a 5-minute windowed aggregate run through the actual
    * micro-batch machinery, one arrival-day file per trigger.
    *
    * The oracle is BOUNDARY-FREE by construction, so it never replays
    * micro-batch boundaries: 7-day redeliveries are only injected ≥ 8
    * days before stream end, which leaves a ≥ 1-day margin between their
    * window ends and the LATE-EVENTS watermark of any batch (Spark's
    * stateful operators gate late input with the PREVIOUS batch's
    * watermark and evict with the current one — a two-batch lag, pinned
    * empirically: with a one-batch margin the engine kept rows this
    * oracle dropped), for any batch span under (holdback − delay)/2 =
    * 3 days; 6-hour laggards sit 18 h inside the watermark and are kept
    * with day-scale margin.
    * So: kept = everything except the deep redeliveries, stated in one
    * WHERE clause. The engine must agree byte-for-byte — if Spark's drop
    * rule, watermark advancement, or state eviction deviated from the
    * p11 model, the per-window counts and DECIMAL sums would not hash.
    *
    * Scale notes: the per-slice fixture writer is replay plumbing (one
    * tiny filtered write per arrival day); the streaming plan itself is
    * the production shape — watermark filter → keyed state-store agg,
    * state O(open windows × markets). */
  def lateWindowReplay(spark: SparkSession, dir: String): DataFrame = {
    // arrival-sliced fixture is immutable once staged → memoized like the
    // sentinel fixtures (the replay measures the watermark machinery,
    // not repeated fixture shuffles)
    val in = lateFixtureDir(spark, dir)
    val agg = readCdcStream(spark, in, maxFilesPerTrigger = 1)
      .select(timestamp_millis(col("source_ts")).as("ts"), col("market"),
        col("trade_price"))
      .withWatermark("ts", "24 hours")
      .groupBy(window(col("ts"), "5 minutes"), col("market"))
      .agg(count(lit(1)).as("n_trades"),
        graft.G.dsum(col("trade_price")).as("total_value"))
      .select(col("window.start").as("window_start"), col("market"),
        col("n_trades"), col("total_value"))
    parquetReplay(spark, "graft_stream_late", agg)
      .filter(col("market") =!= "ZSENTINEL")
      .withColumn("window_start", col("window_start")
        .cast(org.apache.spark.sql.types.TimestampNTZType))
      .orderBy(col("window_start"), col("market"))
  }

  def lateWindowReplaySql: String = {
    val parsed = graft.operators.CdcParser.cdcParseBodySql
    s"""WITH parsed AS ($parsed),
       |cm AS (SELECT max(cdc_ts) AS cmax FROM parsed),
       |kept AS (
       |  SELECT p.* FROM parsed p CROSS JOIN cm
       |  WHERE NOT (p.trade_id % 101 = 0
       |             AND p.cdc_ts <= cm.cmax - 691200000))
       |SELECT make_timestamp((source_ts // 300000) * 300000 * 1000)
       |    AS window_start,
       |  market, count(*) AS n_trades,
       |  CAST(CAST(SUM(CAST(trade_price AS DECIMAL(38,6))) AS VARCHAR) AS DOUBLE)
       |    AS total_value
       |FROM kept GROUP BY 1, 2
       |ORDER BY window_start, market""".stripMargin
  }

  /** The staged arrival-sliced fixture dir (memoized) — exposed so the
    * cost-structure pin (Round16OpsSpec) can count the slice files: the
    * replay's wall-clock is ~all trigger machinery, one micro-batch per
    * slice file, so an accidental slicing change (finer slices, per-slice
    * writes) would silently multiply the per-round bench cost. The round-9
    * 6.2 → 7.1 s reading solo-measures at 6.8 s warm with max/min 2.48
    * across idle reps — machinery noise, not a plan change; the pin is the
    * guard that keeps it that way.
    *
    * The fixture: the envelope stream re-ordered by a
    * deterministic ARRIVAL clock (cdc time + injected lateness — every
    * 101st trade +7 days when ≥ 8 days from stream end, every 103rd
    * +6 hours), written as one file per arrival DAY with ascending
    * modtimes so `maxFilesPerTrigger = 1` replays daily micro-batches in
    * arrival order, then one sentinel far past everything to flush state.
    * Slice width only needs to stay under 3 days for the drop margins
    * (see [[lateWindowReplay]]); 2.5 days is a fixture-granularity
    * choice, not a scale knob. The whole fixture is ONE shuffle: a
    * deterministic slice→partition map partitions the envelope text so
    * each output part-file IS one arrival slice, in filename (= modtime)
    * order — no per-slice filtered writes, no sampled range boundaries
    * (the oracle is boundary-robust, but deterministic files keep the
    * replay byte-stable run to run). */
  private[graft] def lateFixtureDir(spark: SparkSession, dir: String)
      : String = stage(spark, s"$dir#late", stamp = true) { in =>
    val env = graft.operators.CdcParser.eventsAsEnvelopeJsonTs(spark, dir)
      .cache()
    // the holdback cut is defined on PARSED events (the oracle's world):
    // tombstone/malformed envelopes never become trades, so their cdc
    // times must not move the cut
    val cut = env
      .filter(col("event_id") % 17 =!= 0 && col("event_id") % 23 =!= 0)
      .agg(max(col("cdc_ms"))).head().getLong(0) - 691200000L
    val arr = env.withColumn("arrival",
        col("cdc_ms") +
          when(col("event_id") % 101 === 0 && col("cdc_ms") <= cut,
            lit(604800000L))
          .when(col("event_id") % 103 === 0 && col("event_id") % 101 =!= 0,
            lit(21600000L))
          .otherwise(lit(0L)))
      .withColumn("slice", expr("arrival DIV 216000000"))
    val kv = arr.select(col("slice"), col("json")).rdd
      .map(r => (r.getLong(0), r.getString(1)))
    val slices = kv.keys.distinct().collect().sorted
    val idx = slices.zipWithIndex.toMap
    kv.partitionBy(new org.apache.spark.Partitioner {
        override def numPartitions: Int = slices.length
        override def getPartition(key: Any): Int =
          idx(key.asInstanceOf[Long])
      }).values.saveAsTextFile(in)
    val maxSrc = env.agg(max(col("src_ms"))).head().getLong(0)
    writeSentinel(in, "z-sentinel.txt", 0, "ASK", maxSrc + 30L * 86400000L,
      System.currentTimeMillis() + 7200000L)
    env.unpersist()
    ()
  }

  /** One ZSENTINEL trade envelope (trade id 999999990 + `i`, event time
    * `ts`) as its own file `in/name`, modtime `mtime`. */
  private def writeSentinel(in: String, name: String, i: Int, side: String,
      ts: Long, mtime: Long): Unit = {
    val sentinel =
      s"""{"payload": {"before": null, "after": {"trade_id": ${999999990 + i}, """ +
        s""""market": "ZSENTINEL", "trade_price": "1.0", "trade_volume": "1", """ +
        s""""ask_bid": "$side", "sequential_id": ${999999990000L + i}}, """ +
        s""""source": {"ts_ms": $ts, "db": "crypto_db", "table": "crypto_trades"}, """ +
        s""""op": "c", "ts_ms": $ts}}"""
    val f = new java.io.File(in, name)
    java.nio.file.Files.write(f.toPath, (sentinel + "\n").getBytes("UTF-8"))
    f.setLastModified(mtime)
    ()
  }

  /** Shared by [[sessionReplay]], [[windowAggReplay]] and
    * [[tradeQuoteOuterReplay]]: the envelope stream plus ZSENTINEL trades
    * past its end, written so the sentinels are the last micro-batches and
    * the final watermark closes every real window/session. Staged once per
    * (session, dir, params); `tag` disambiguates callers whose `keep`
    * column the key cannot see.
    *
    * `sentinels`: stateful operators that EMIT on state eviction (outer
    * join null rows) need a batch to run AFTER the watermark has already
    * advanced past every real event — one sentinel only advances the
    * watermark at the end of its own batch. Two sentinels in two separate
    * micro-batches (staggered modtimes; pair with maxFilesPerTrigger=1)
    * give that trailing batch. `parts`: range-partition the envelope text
    * by event time into that many files with ascending modtimes (the
    * [[dedupReplay]] pattern), so a one-file-per-trigger replay advances
    * in EVENT-TIME ORDER — unordered multi-batch input would be dropped as
    * late once the first batch's watermark passes it. A replay-fixture
    * granularity knob, not a scale choice (0 = keep the write's natural
    * partitioning; single-batch callers). */
  private def stagedEnvelopeWithSentinel(spark: SparkSession, dir: String,
      sentinels: Int = 1, parts: Int = 0, minMs: Long = Long.MinValue,
      keep: org.apache.spark.sql.Column = lit(true), tag: String = "")
      : String =
    stage(spark, s"$dir#s=$sentinels#p=$parts#m=$minMs#$tag",
        stamp = parts > 0) { in =>
      val env = graft.operators.CdcParser.eventsAsEnvelopeJsonTs(spark, dir)
        .filter(col("src_ms") >= minMs && keep)
      (if (parts > 0) env.repartitionByRange(parts, col("src_ms")) else env)
        .select("json").write.mode("overwrite").text(in)
      val maxTs = env.agg(max(col("src_ms"))).head().getLong(0)
      // alternate ASK/BID: a query with per-side watermark branches (the
      // stream-stream joins split on ask_bid) takes the MIN across branches,
      // so a one-sided sentinel would leave the other branch's watermark at
      // the last real event and hold its final rows in state forever
      (1 to sentinels).foreach { i =>
        writeSentinel(in, s"z-sentinel-$i.txt", i,
          if (i % 2 == 1) "ASK" else "BID", maxTs + i * 2L * 86400000L,
          System.currentTimeMillis() + 7200000L + i * 60000L)
      }
    }

  /** Stream–stream event-time interval join: BID (trade) rows joined to
    * the ASK (quote) rows of the same market whose event time falls in the
    * hour before the trade — the canonical trades⋈quotes enrichment, and
    * the one streaming operator class the rest of the surface didn't
    * exercise. Both sides carry watermarks and the join condition bounds
    * event time on both sides, so each side's buffered state is evicted
    * once the other side's watermark passes the interval: state is
    * O(events per watermark horizon), not O(stream). Inner joins emit
    * eagerly (no watermark wait), so a single-batch replay produces every
    * match; cross-batch buffering is pinned by StreamingSpec's two-batch
    * MemoryStream test. */
  def tradeQuoteJoin(parsed: DataFrame): DataFrame = {
    val trades = parsed.filter(col("ask_bid") === "BID")
      .select(col("market"), col("trade_id"), col("trade_price"),
        col("source_ts").as("t_ms"),
        timestamp_millis(col("source_ts")).as("t_ts"))
      .withWatermark("t_ts", "10 minutes")
    val quotes = parsed.filter(col("ask_bid") === "ASK")
      .select(col("market").as("q_market"), col("trade_id").as("quote_id"),
        col("trade_price").as("quote_price"),
        col("source_ts").as("q_ms"),
        timestamp_millis(col("source_ts")).as("q_ts"))
      .withWatermark("q_ts", "10 minutes")
    trades.join(quotes,
      col("market") === col("q_market") &&
        col("q_ts") >= col("t_ts") - expr("INTERVAL 60 MINUTES") &&
        col("q_ts") <= col("t_ts"))
      .select(col("market"), col("trade_id"), col("quote_id"),
        col("trade_price"), col("quote_price"),
        (col("t_ms") - col("q_ms")).as("lag_ms"))
  }

  /** Stream–stream join, HASH-CHECKED (q_stream_join): replay the envelope
    * stream through [[tradeQuoteJoin]] (both join branches fed by ONE
    * file-stream source — the batch self-join shape a real trades/quotes
    * topology would run with two topics) and read the sink back against a
    * plain DuckDB interval join over the parse oracle. */
  def tradeQuoteJoinReplay(spark: SparkSession, dir: String): DataFrame = {
    val in = stagedEnvelopePlain(spark, dir)
    parquetReplay(spark, "graft_stream_j", tradeQuoteJoin(
        readCdcStream(spark, in, maxFilesPerTrigger = 1 << 20)))
      .orderBy(col("trade_id"), col("quote_id"))
  }

  val tradeQuoteJoinSql: String = {
    val parsed = graft.operators.CdcParser.cdcParseBodySql
    s"""WITH parsed AS ($parsed)
       |SELECT t.market, t.trade_id, q.trade_id AS quote_id,
       |  t.trade_price, q.trade_price AS quote_price,
       |  t.source_ts - q.source_ts AS lag_ms
       |FROM parsed t JOIN parsed q
       |  ON t.market = q.market
       | AND t.ask_bid = 'BID' AND q.ask_bid = 'ASK'
       | AND q.source_ts >= t.source_ts - 3600000
       | AND q.source_ts <= t.source_ts
       |ORDER BY t.trade_id, quote_id""".stripMargin
  }

  /** Stream–stream LEFT OUTER interval join — the missing-quote audit:
    * every BID trade, with its in-window ASK quotes when they exist and
    * NULL quote columns when none arrived. Outer results cannot emit
    * eagerly (a match may still arrive), so unmatched rows are held in
    * the state store and emitted only once BOTH watermarks pass the
    * join interval — the state-expiry semantic the inner join never
    * exercises. Same bounded-state argument as [[tradeQuoteJoin]]:
    * state is O(events per watermark horizon). */
  def tradeQuoteOuterJoin(parsed: DataFrame): DataFrame = {
    val trades = parsed.filter(col("ask_bid") === "BID")
      .select(col("market"), col("trade_id"), col("trade_price"),
        col("source_ts").as("t_ms"),
        timestamp_millis(col("source_ts")).as("t_ts"))
      .withWatermark("t_ts", "10 minutes")
    val quotes = parsed.filter(col("ask_bid") === "ASK")
      .select(col("market").as("q_market"), col("trade_id").as("quote_id"),
        col("trade_price").as("quote_price"),
        col("source_ts").as("q_ms"),
        timestamp_millis(col("source_ts")).as("q_ts"))
      .withWatermark("q_ts", "10 minutes")
    trades.join(quotes,
      col("market") === col("q_market") &&
        col("q_ts") >= col("t_ts") - expr("INTERVAL 60 MINUTES") &&
        col("q_ts") <= col("t_ts"),
      "leftOuter")
      .select(col("market"), col("trade_id"), col("quote_id"),
        col("trade_price"), col("quote_price"),
        (col("t_ms") - col("q_ms")).as("lag_ms"))
  }

  /** Left-outer stream–stream join, HASH-CHECKED (q_stream_outer): the
    * sentinel-terminated envelope replay (the sentinel batch pushes the
    * final watermark 2 days past every real trade, so every buffered
    * unmatched BID is flushed as a NULL row before the stream ends — the
    * same trick the window/session replays use to close their state). */
  def tradeQuoteOuterReplay(spark: SparkSession, dir: String): DataFrame = {
    // outer-join null rows emit on state EVICTION, and this query splits
    // the watermark across two branches (BID trades / ASK quotes) whose
    // MIN gates eviction — so the replay needs sentinels on BOTH sides
    // (one ASK + one BID) to push both branch watermarks past every real
    // event; the trailing no-data micro-batch then flushes every buffered
    // unmatched BID as its null row
    val in = stagedEnvelopeWithSentinel(spark, dir, sentinels = 2)
    parquetReplay(spark, "graft_stream_oj",
        tradeQuoteOuterJoin(readCdcStream(spark, in)))
      .filter(col("market") =!= "ZSENTINEL")
      .orderBy(col("trade_id"), col("quote_id"))
  }

  val tradeQuoteOuterSql: String = {
    val parsed = graft.operators.CdcParser.cdcParseBodySql
    s"""WITH parsed AS ($parsed)
       |SELECT t.market, t.trade_id, q.trade_id AS quote_id,
       |  t.trade_price, q.trade_price AS quote_price,
       |  t.source_ts - q.source_ts AS lag_ms
       |FROM parsed t LEFT JOIN parsed q
       |  ON t.market = q.market
       | AND q.ask_bid = 'ASK'
       | AND q.source_ts >= t.source_ts - 3600000
       | AND q.source_ts <= t.source_ts
       |WHERE t.ask_bid = 'BID'
       |ORDER BY t.trade_id, quote_id""".stripMargin
  }

  /** Stream–static enrichment, HASH-CHECKED (q_stream_enrich): the
    * [[enrichStream]] broadcast join replayed through the file-stream
    * source and read back against a DuckDB join over the parse oracle.
    * The dimension here is per-market reference data computed batch-side
    * (total trades + first-seen timestamp — the "market metadata" table a
    * real deployment keeps beside the stream); the stream side never
    * shuffles (dim broadcast, stateless join, no state store), so the
    * replay's cost is the source scan + sink write. Replayed over several
    * micro-batches (the default maxFilesPerTrigger) to exercise the
    * per-batch dimension re-resolution path, not a single-batch join. */
  def enrichReplay(spark: SparkSession, dir: String): DataFrame = {
    val in = stagedEnvelopePlain(spark, dir)
    val dim = graft.operators.CdcParser.cdcParseRoundtrip(spark, dir)
      .groupBy(col("market"))
      .agg(count(lit(1)).as("market_trades"),
        min(col("source_ts")).as("market_first_ts"))
    val enriched = enrichStream(readCdcStream(spark, in), dim)
      .select(col("trade_id"), col("market"), col("trade_price"),
        col("market_trades"), col("market_first_ts"))
    parquetReplay(spark, "graft_stream_e", enriched).orderBy(col("trade_id"))
  }

  /** Parse oracle joined to the same per-market dim, grouped from itself. */
  val enrichReplaySql: String = {
    val parsed = graft.operators.CdcParser.cdcParseBodySql
    s"""WITH parsed AS ($parsed),
       |dim AS (SELECT market, count(*) AS market_trades,
       |               min(source_ts) AS market_first_ts
       |        FROM parsed GROUP BY market)
       |SELECT p.trade_id, p.market, p.trade_price,
       |  d.market_trades, d.market_first_ts
       |FROM parsed p LEFT JOIN dim d ON p.market = d.market
       |ORDER BY p.trade_id""".stripMargin
  }

  /** DuckDB replay of [[fanOutReplay]]: the q_p1 parse SQL feeding the q_a1
    * window-aggregation SQL under the stream's column mapping (market →
    * user_id, ask_bid → event_type with BID as 'purchase', trade_price →
    * value, trade_volume → k).
    * total_volume is DOUBLE (k rides the envelope as a decimal string) but
    * every k is integer-valued, so the plain double sum is order-exact. */
  val fanOutReplaySql: String = {
    val parsed = graft.operators.CdcParser.cdcParseBodySql
    s"""WITH parsed AS ($parsed),
       |ev AS (SELECT make_timestamp(source_ts * 1000) AS ts,
       |              market AS user_id,
       |              CASE WHEN ask_bid = 'BID' THEN 'purchase' ELSE ask_bid END
       |                AS event_type,
       |              trade_price AS value, trade_volume AS k
       |       FROM parsed)
       |SELECT time_bucket(INTERVAL '5 minutes', ts) AS window_start, user_id,
       |  count(*) AS trade_count,
       |  count(CASE WHEN event_type = 'purchase' THEN 1 END) AS bid_count,
       |  count(CASE WHEN event_type <> 'purchase' THEN 1 END) AS ask_count,
       |  CAST(CAST(SUM(CAST(value * k AS DECIMAL(38,6))) AS VARCHAR) AS DOUBLE) AS total_amount,
       |  SUM(k) AS total_volume,
       |  CAST(CAST(SUM(CAST(value AS DECIMAL(38,6))) AS VARCHAR) AS DOUBLE) / COUNT(value) AS avg_price,
       |  MIN(value) AS min_price,
       |  MAX(value) AS max_price,
       |  CASE WHEN SUM(k) > 0
       |       THEN CAST(CAST(SUM(CAST(value * k AS DECIMAL(38,6))) AS VARCHAR) AS DOUBLE) / SUM(k)
       |       ELSE 0.0 END AS vwap
       |FROM ev GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin
  }

  /** Incremental SCD Type-2 maintenance, STREAMING, HASH-CHECKED
    * (q_stream_scd2): the batch history build (q_p8,
    * [[graft.operators.CdcParser.scd2History]]) kept up to date one
    * micro-batch at a time — the warehouse MERGE a CDC consumer actually
    * runs, here with explicit parquet-backed state so every step is
    * engine-visible:
    *
    *  - state = the OPEN version of each key (at most one row per key),
    *    versioned per micro-batch (`open_<batchId>`) so the state side of
    *    a foreachBatch retry is idempotent (the closed sink is plain
    *    at-least-once parquet append — exactly-once there needs a
    *    transactional table format, which is sink policy, not operator
    *    semantics);
    *  - per batch: the open versions of TOUCHED keys (semi join on the
    *    batch's keys — state I/O scales with the batch, not the history)
    *    are unioned with the batch rows and re-chained per key by
    *    `sequential_id` (one narrow keyed exchange, the q_p8 shape);
    *    every row that gained a successor is emitted to the append-only
    *    CLOSED sink with `valid_to` = successor's `source_ts`; deletes
    *    close their predecessor and persist nothing;
    *  - untouched open versions pass through via anti join.
    *
    * The final history (closed sink ∪ last open state) is hash-compared
    * against the SAME DuckDB oracle as the batch build — proving the
    * incremental maintenance converges to the batch semantics across
    * micro-batch boundaries. Determinism needs same-key events to arrive
    * in `sequential_id` order across batches, which the event-time
    * range-partitioned replay guarantees here (same contract as
    * [[dedupReplay]]); a closed version is never reopened. */
  def scd2Stream(parsed: DataFrame, stateDir: String, closedDir: String)
      : org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] = {
    val spark = parsed.sparkSession
    parsed.writeStream.foreachBatch { (batch: DataFrame, batchId: Long) =>
      val b = batch
        .withColumn("key", col("trade_id") % 3000)
        .select(col("key"), col("op"), col("market"), col("trade_price"),
          col("sequential_id"), col("source_ts"))
      val prevPath = s"$stateDir/open_${batchId - 1}"
      val prev =
        if (batchId == 0) b.limit(0)
        else spark.read.schema(b.schema).parquet(prevPath)
      val bKeys = b.select(col("key")).distinct()
      val touched = prev.join(bKeys, Seq("key"), "left_semi")
        .unionByName(b)
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("key")).orderBy(col("sequential_id"))
      val chained = touched
        .withColumn("valid_to", lead(col("source_ts"), 1).over(w))
      chained.filter(col("valid_to").isNotNull && col("op") =!= "d")
        .select(col("key"), col("sequential_id"), col("market"),
          col("trade_price"), col("source_ts").as("valid_from"),
          col("valid_to"), lit(0L).as("is_current"))
        .write.mode("append").parquet(closedDir)
      val stillOpen = chained.filter(col("valid_to").isNull && col("op") =!= "d")
        .drop("valid_to")
      val untouched = prev.join(bKeys, Seq("key"), "left_anti")
      stillOpen.unionByName(untouched)
        .write.mode("overwrite").parquet(s"$stateDir/open_$batchId")
      ()
    }
  }

  /** Replay [[scd2Stream]] over the sf CDC envelope in event-time order
    * (5 micro-batches) and return closed ∪ open — checked against the
    * batch q_p8 oracle ([[graft.operators.CdcParser.scd2HistorySql]]). */
  def scd2Replay(spark: SparkSession, dir: String): DataFrame = {
    val tmp = graft.Scratch.dir("graft_stream_scd2")
    val state = s"$tmp/state"; val closed = s"$tmp/closed"
    val in = stage(spark, s"$dir#scd2", stamp = true)(
      graft.operators.CdcParser.eventsAsEnvelopeJsonTs(spark, dir)
        .repartitionByRange(5, col("src_ms")).select("json")
        .write.mode("overwrite").text(_))
    new java.io.File(closed).mkdirs()
    drain(spark, s"$tmp/ck",
      scd2Stream(readCdcStream(spark, in, maxFilesPerTrigger = 1),
        state, closed))
    // explicit schemas: the closed sink is legitimately EMPTY when no key
    // ever gained a second version (chains of length 1)
    val open = spark.read.schema("key LONG, sequential_id LONG, " +
        "market STRING, trade_price DOUBLE, source_ts LONG")
      .parquet(latest(state, "open_").get)
      .select(col("key"), col("sequential_id"), col("market"),
        col("trade_price"), col("source_ts").as("valid_from"),
        lit(null).cast("long").as("valid_to"), lit(1L).as("is_current"))
    val closedDf = spark.read.schema(
        "key LONG, sequential_id LONG, market STRING, trade_price DOUBLE, " +
        "valid_from LONG, valid_to LONG, is_current LONG")
      .parquet(closed)
    closedDf.unionByName(open)
      .orderBy(col("key"), col("sequential_id"))
  }

  val scd2ReplaySql: String = graft.operators.CdcParser.scd2HistorySql

  /** INCREMENTAL MERGE maintenance (q_stream_merge): the lakehouse
    * nightly-upsert loop run as a stream — each micro-batch of the delta
    * is MERGEd into a versioned parquet snapshot via the SAME
    * [[graft.operators.Relational.mergeStep]] clause resolution the batch
    * q_r25 uses. The delta is sliced into key-range files (disjoint keys
    * ⇒ sequential per-batch MERGEs compose to exactly the one-shot
    * MERGE), so the final snapshot hash-matches the batch oracle — the
    * stream-equals-batch proof for MERGE, the same move as
    * q_stream_scd2's history maintenance.
    *
    * Retry idempotency: snapshot `snap_<bid>` is derived from the newest
    * `snap_<j>`, j < bid (or the original target) — a foreachBatch retry
    * recomputes from the same parent, the scd2/heavy-hitter state rule.
    * Scale: each batch touches one keyed join of snapshot × delta-slice;
    * in production the snapshot side is partition-pruned to the touched
    * key ranges (here the whole small snapshot rewrites per batch). */
  def mergeReplay(spark: SparkSession, dir: String): DataFrame = {
    import graft.operators.Relational
    val tmp = graft.Scratch.dir("graft_stream_m")
    val st = s"$tmp/state"
    new java.io.File(st).mkdirs()
    val delta = Relational.mergeDelta(spark, dir)
    val in = stage(spark, s"$dir#merge", stamp = true)(
      delta.repartitionByRange(3, col("key")).write.mode("overwrite").parquet(_))
    val snap = Relational.mergeStep(Relational.mergeTarget(spark, dir), delta)
      .schema
    drain(spark, s"$tmp/ck", spark.readStream.schema(delta.schema)
      .option("maxFilesPerTrigger", 1)
      .option("latestFirst", "false")
      .parquet(in)
      .writeStream
      .foreachBatch { (batch: DataFrame, bid: Long) =>
        val s = batch.sparkSession
        val prev = latest(st, "snap_", bid)
          .map(s.read.schema(snap).parquet(_))
          .getOrElse(Relational.mergeTarget(s, dir))
        Relational.mergeStep(prev, batch)
          .write.mode("overwrite").parquet(s"$st/snap_$bid")
        ()
      })
    val fin = spark.read.schema(snap).parquet(latest(st, "snap_").get)
    // action relative to the ORIGINAL target — derivable because the
    // synthetic updates always change bal and inserts use fresh keys
    fin.join(Relational.mergeTarget(spark, dir)
        .select(col("key"), col("bal").as("bal0")), Seq("key"), "left")
      .select(col("key"), col("bal"),
        when(col("bal0").isNull, "inserted")
          .when(col("bal") =!= col("bal0"), "updated")
          .otherwise("kept").as("action"))
      .orderBy(col("key"))
  }

  /** INCREMENTAL DATA-QUALITY PROFILE (q_stream_profile): the q_v1 Deequ
    * per-column profile maintained across micro-batches and hash-matched
    * to the one-shot batch oracle. The profile splits into two state
    * classes, and the query materializes that split honestly:
    *  - n_rows / null counts / min / max are MERGEABLE — O(columns)
    *    scalar state, partial(batch) ⊕ state, the shape that streams for
    *    free at any scale;
    *  - exact NDV is HOLISTIC — the state must be the distinct
    *    (column, value) set itself, O(distinct) storage, unioned and
    *    re-distinct'ed per batch. That cost is not an implementation
    *    choice, it is what EXACT streaming cardinality costs; the O(1)
    *    answer is the a5 HLL sketch, kept as the production variant.
    * Values enter the distinct state as strings (double→shortest-string
    * is injective, so stringified NDV == value NDV); the state never
    * crosses engines — only final counts reach the oracle. */
  def profileReplay(spark: SparkSession, dir: String): DataFrame = {
    val tmp = graft.Scratch.dir("graft_stream_v1")
    val st = s"$tmp/state"
    new java.io.File(st).mkdirs()
    val ev = graft.G.events(spark, dir)
      .select(col("event_id"), col("user_id"), col("event_type"),
        col("value"), col("props"))
    val in = stage(spark, s"$dir#profile", stamp = true)(
      ev.repartitionByRange(4, col("event_id"))
        .write.mode("overwrite").parquet(_))
    val cols = Seq("event_id", "user_id", "event_type", "value", "props")
    def scalarPartial(df: DataFrame): DataFrame =
      df.agg(
        count(lit(1)).as("n_rows"),
        cols.map(c => sum(when(col(c).isNull, 1L).otherwise(0L))
          .as(s"null_$c")) ++
        Seq("event_id", "user_id", "value").flatMap(c => Seq(
          min(col(c)).cast("double").as(s"min_$c"),
          max(col(c)).cast("double").as(s"max_$c"))): _*)
    def distinctPartial(df: DataFrame): DataFrame =
      cols.map(c => df.filter(col(c).isNotNull)
          .select(lit(c).as("col_name"),
            col(c).cast("string").as("val")).distinct())
        .reduce(_ unionByName _)
    // state schemas: each merge below keeps its partial's schema
    val scSchema = scalarPartial(ev).schema
    val dvSchema = distinctPartial(ev).schema
    drain(spark, s"$tmp/ck", spark.readStream.schema(ev.schema)
      .option("maxFilesPerTrigger", 1).option("latestFirst", "false")
      .parquet(in)
      .writeStream
      .foreachBatch { (batch: DataFrame, bid: Long) =>
        val s = batch.sparkSession
        // mergeable half: fold the batch partial into the scalar state
        val part = scalarPartial(batch)
        val sc = latest(st, "sc_", bid) match {
          case None => part
          case Some(f) =>
            val prev = s.read.schema(scSchema).parquet(f)
            prev.unionByName(part).agg(
              sum(col("n_rows")).as("n_rows"),
              cols.map(c => sum(col(s"null_$c")).as(s"null_$c")) ++
              Seq("event_id", "user_id", "value").flatMap(c => Seq(
                min(col(s"min_$c")).as(s"min_$c"),
                max(col(s"max_$c")).as(s"max_$c"))): _*)
        }
        sc.coalesce(1).write.mode("overwrite").parquet(s"$st/sc_$bid")
        // holistic half: union the batch's distinct values into the set
        val dp = distinctPartial(batch)
        val dv = latest(st, "dv_", bid) match {
          case None => dp
          case Some(f) =>
            s.read.schema(dvSchema).parquet(f).unionByName(dp).distinct()
        }
        dv.write.mode("overwrite").parquet(s"$st/dv_$bid")
        ()
      })
    val sc = spark.read.schema(scSchema).parquet(latest(st, "sc_").get)
    val nd = spark.read.schema(dvSchema).parquet(latest(st, "dv_").get)
      .groupBy(col("col_name")).agg(count(lit(1)).as("n_distinct"))
    val numeric = Set("event_id", "user_id", "value")
    val longRows = sc.select(col("n_rows"), expr(
      s"""stack(5, ${cols.map { c =>
           val mn = if (numeric(c)) s"min_$c" else "CAST(NULL AS DOUBLE)"
           val mx = if (numeric(c)) s"max_$c" else "CAST(NULL AS DOUBLE)"
           s"'$c', null_$c, $mn, $mx"
         }.mkString(",\n")})
         |AS (col_name, n_null, min_num, max_num)""".stripMargin))
    longRows.join(nd, Seq("col_name"), "left")
      .select(col("col_name"), col("n_rows"), col("n_null"),
        coalesce(col("n_distinct"), lit(0L)).as("n_distinct"),
        col("min_num"), col("max_num"))
      .orderBy(col("col_name"))
  }

  /** Streaming heavy hitters (q_stream_hh): the SpaceSaving summary
    * ([[graft.functions.SpaceSaving]]) maintained ACROSS micro-batches —
    * the continuously-updated "top n-grams this hour" panel. Per batch the
    * mergeable Aggregator produces one bounded partial (Spark's
    * partial→final tree within the batch); foreachBatch then merges it
    * into the persisted summary with the SAME floor-compensated merge the
    * Aggregator uses between partitions, java-serialized per batch id
    * (idempotent under foreachBatch retry). State is O(capacity) forever,
    * regardless of stream length — the property that makes the sketch the
    * streaming answer while exact counting grows without bound.
    *
    * Rows-only by design (like batch q_c13, merge order shapes the
    * estimates); the SpaceSaving bound contract over the WHOLE stream is
    * spec-pinned against exact corpus counts in Round6bOpsSpec. */
  def heavyHitterReplay(spark: SparkSession, dir: String,
      capacity: Int = 256, k: Int = 50): DataFrame = {
    import graft.functions.SpaceSaving
    val tmp = graft.Scratch.dir("graft_stream_hh")
    val st = s"$tmp/state"
    new java.io.File(st).mkdirs()
    val in = stage(spark, s"$dir#hh", stamp = true)(
      graft.operators.Curation.docTexts(spark, dir)
        .repartitionByRange(4, col("doc_id")).select("text")
        .write.mode("overwrite").text(_))
    val agg = new SpaceSaving.Agg(capacity)
    def readState(f: Option[String]): SpaceSaving.State = f match {
      case None => new SpaceSaving.State(capacity)
      case Some(path) =>
        val ois = new java.io.ObjectInputStream(
          new java.io.FileInputStream(path))
        try ois.readObject().asInstanceOf[SpaceSaving.State] finally ois.close()
    }
    val ssUdf = udaf(agg)
    val stream = spark.readStream.schema("value STRING")
      .option("maxFilesPerTrigger", 1).text(in)
    drain(spark, s"$tmp/ck", stream.writeStream
      .foreachBatch { (batch: DataFrame, bid: Long) =>
        val hh = batch
          .withColumn("toks", split(lower(col("value")), "\\s+"))
          .withColumn("bigram", explode(expr(
            """CASE WHEN size(toks) >= 2
              |  THEN transform(sequence(1, size(toks) - 1),
              |         i -> concat(element_at(toks, i), ' ', element_at(toks, i + 1)))
              |  ELSE array() END""".stripMargin)))
          .agg(ssUdf(col("bigram")).as("hh"))
          .head().getSeq[org.apache.spark.sql.Row](0)
        val bState = new SpaceSaving.State(capacity)
        hh.foreach { r =>
          bState.items.put(r.getString(0),
            new SpaceSaving.Entry(r.getLong(1), r.getLong(2)))
        }
        val merged = agg.merge(readState(latest(st, "sk_", bid)), bState)
        val oos = new java.io.ObjectOutputStream(
          new java.io.FileOutputStream(s"$st/sk_$bid"))
        try oos.writeObject(merged) finally oos.close()
        ()
      })
    import spark.implicits._
    agg.finish(readState(latest(st, "sk_"))).take(k)
      .map(h => (h.bigram, h.cnt_est, h.err))
      .toDF("bigram", "cnt_est", "err")
  }

  /** W4: session config for fault-tolerant state — RocksDB state store
    * (reference: RocksDB backend, EXACTLY_ONCE, 60 s checkpoints).
    * Each stateful partition commits four files per trigger: the changelog,
    * Spark's checksum sidecar, and a Hadoop `.crc` for each. */
  def configureStateStore(spark: SparkSession): Unit = {
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    spark.conf.set(
      "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled",
      "true")
  }
}
