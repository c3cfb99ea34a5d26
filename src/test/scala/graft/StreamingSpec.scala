package graft

import graft.operators.{AnomalyDetection, TradeAggregates}
import graft.streaming.StreamingJobs
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import java.nio.file.Files

/** Streaming semantics: streaming results must equal batch results on the
  * same data (SURVEY §5 plan item 5). */
class StreamingSpec extends SparkSpec {
  import spark.implicits._

  private def parsedStream(jsons: Seq[String]): org.apache.spark.sql.DataFrame = {
    val mem = MemoryStream[String](spark)
    mem.addData(jsons)
    graft.operators.CdcParser.parse(
      mem.toDF().withColumnRenamed("value", "json"), col("json"))
  }

  /** Parsed trades as A1 input under the FIXTURES.md mapping: a BID is
    * the 'purchase' event the aggregate counts as a bid. */
  private def windowInput(parsed: org.apache.spark.sql.DataFrame) =
    parsed.select(timestamp_millis(col("source_ts")).as("ts"),
      col("market").as("user_id"),
      when(col("ask_bid") === "BID", "purchase").otherwise(col("ask_bid"))
        .as("event_type"),
      col("trade_price").as("value"), col("trade_volume").as("k"))

  test("streaming window agg == batch window agg (complete mode)") {
    val trades = Synthetic.trades(300)
    val jsons = trades.map(t => Synthetic.envelopeJson(t))
    val parsed = parsedStream(jsons)
    val q = StreamingJobs.windowAggStream(parsed)
      .writeStream.format("memory").queryName("agg_out")
      .outputMode("complete").start()
    try { q.processAllAvailable() } finally q.stop()
    val streaming = spark.table("agg_out")
      .orderBy(col("window_start"), col("user_id")).collect().toSeq
    val batch = TradeAggregates.windowAggOn(windowInput(
      graft.operators.CdcParser.parseEnvelope(jsons.toDF("json"), col("json"))))
      .orderBy(col("window_start"), col("user_id")).collect().toSeq
    assert(streaming.nonEmpty)
    assert(streaming == batch)
  }

  test("streaming session windows == batch session windows (complete mode)") {
    val trades = Synthetic.trades(200)
    val jsons = trades.map(t => Synthetic.envelopeJson(t))
    val base = parsedStream(jsons)
      .select(timestamp_millis(col("source_ts")).as("ts"),
        col("market").as("user_id"), col("trade_price").as("value"))
    val q = base
      .withWatermark("ts", "10 minutes")
      .groupBy(session_window(col("ts"), "30 minutes"), col("user_id"))
      .agg(count(lit(1)).as("n_events"), G.dsum(col("value")).as("total_value"))
      .select(col("session_window.start").as("session_start"), col("user_id"),
        col("n_events"), col("total_value"))
      .writeStream.format("memory").queryName("sess_out")
      .outputMode("complete").start()
    try { q.processAllAvailable() } finally q.stop()
    val streaming = spark.table("sess_out")
      .orderBy(col("user_id"), col("session_start")).collect().toSeq
    val batch = graft.operators.CdcParser.parseEnvelope(jsons.toDF("json"), col("json"))
      .select(timestamp_millis(col("source_ts")).as("ts"),
        col("market").as("user_id"), col("trade_price").as("value"))
      .groupBy(session_window(col("ts"), "30 minutes"), col("user_id"))
      .agg(count(lit(1)).as("n_events"), G.dsum(col("value")).as("total_value"))
      .select(col("session_window.start").as("session_start"), col("user_id"),
        col("n_events"), col("total_value"))
      .orderBy(col("user_id"), col("session_start")).collect().toSeq
    assert(streaming.nonEmpty)
    assert(streaming == batch)
  }

  /** The detector specs' input twice: in event-time order, and shuffled
    * with a fixed seed, so one micro-batch carries each key's events out of
    * order and only the fold's in-batch (ts_ms, event_id) sort can restore
    * the time-ordered alerts. */
  private def detectorInputs(trades: Seq[Synthetic.Trade])
      : Seq[(String, Seq[String])] = {
    val jsons = trades.map(t => Synthetic.envelopeJson(t))
    Seq("ordered" -> jsons, "shuffled" -> new scala.util.Random(11).shuffle(jsons))
  }

  /** Reference alerts: each key's events folded through `step` in the
    * order given. */
  private def localAlerts(evs: Seq[AnomalyDetection.Ev]): Set[Seq[Any]] =
    evs.groupBy(_.user_id).toSeq.flatMap { case (_, es) =>
      var st = model.DetectorState.empty
      es.flatMap { e => val (a, s2) = AnomalyDetection.step(st, e); st = s2; a }
    }.map(a => Seq[Any](a.alert_type, a.market, a.trade_id)).toSet

  test("stateful detector stream == batch fold on same single batch") {
    val inputs = detectorInputs(Synthetic.trades(200))
    // batch reference: same mapping as detectAnomaliesStream, local fold
    val evs = StreamingJobs.evFromTrades(graft.operators.CdcParser
      .parseEnvelope(inputs.head._2.toDF("json"), col("json"))).collect().toSeq
    val local = localAlerts(evs.sortBy(e => (e.ts_ms, e.event_id)))
    assert(local.nonEmpty)
    inputs.foreach { case (label, jsons) =>
      val q = StreamingJobs.detectAnomaliesStream(parsedStream(jsons))
        .writeStream.format("memory").queryName(s"alerts_out_$label")
        .outputMode("append").start()
      try { q.processAllAvailable() } finally q.stop()
      val streaming = spark.table(s"alerts_out_$label")
        .select("alert_type", "market", "trade_id")
        .collect().map(_.toSeq).toSet
      assert(streaming.nonEmpty, label)
      assert(streaming == local, label)
    }
    // the shuffle reorders events within keys: folded in arrival order,
    // they would raise other alerts
    val arrival = StreamingJobs.evFromTrades(graft.operators.CdcParser
      .parseEnvelope(inputs(1)._2.toDF("json"), col("json"))).collect().toSeq
    assert(localAlerts(arrival) != local)
  }

  test("transformWithState detector == flatMapGroupsWithState detector") {
    val inputs = detectorInputs(Synthetic.trades(200))
    // TWS needs column families -> RocksDB provider (production config W4)
    StreamingJobs.configureStateStore(spark)
    val q2 = StreamingJobs.detectAnomaliesStream(parsedStream(inputs.head._2))
      .writeStream.format("memory").queryName("fmgws_out")
      .outputMode("append").start()
    try { q2.processAllAvailable() } finally q2.stop()
    val fmgws = spark.table("fmgws_out")
      .select("alert_type", "market", "trade_id")
      .collect().map(_.toSeq).toSet
    assert(fmgws.nonEmpty)
    inputs.foreach { case (label, jsons) =>
      val q = StreamingJobs.detectAnomaliesTws(parsedStream(jsons))
        .writeStream.format("memory").queryName(s"tws_out_$label")
        .outputMode("append").start()
      try { q.processAllAvailable() } finally q.stop()
      val tws = spark.table(s"tws_out_$label")
        .select("alert_type", "market", "trade_id")
        .collect().map(_.toSeq).toSet
      assert(tws.nonEmpty, label)
      assert(tws == fmgws, label)
    }
  }

  test("streaming minute rollup == batch rollup (A3 MV analogue)") {
    val trades = Synthetic.trades(240)
    val jsons = trades.map(t => Synthetic.envelopeJson(t, latencyMs = t.trade_id % 50))
    val parsed = parsedStream(jsons)
    val q = StreamingJobs.minuteRollupStream(parsed)
      .writeStream.format("memory").queryName("rollup_out")
      .outputMode("complete").start()
    try { q.processAllAvailable() } finally q.stop()
    val streaming = spark.table("rollup_out")
      .orderBy(col("minute")).collect().toSeq
    val batchParsed = graft.operators.CdcParser
      .parseEnvelope(jsons.toDF("json"), col("json"))
      .filter(col("op").isin("c", "u", "d"))
      .select(timestamp_millis(col("source_ts")).as("ts"), col("cdc_latency_ms"))
      .groupBy(window(col("ts"), "1 minute").getField("start").as("minute"))
      .agg(avg(col("cdc_latency_ms")).as("avg_latency"),
        max(col("cdc_latency_ms")).as("max_latency"),
        min(col("cdc_latency_ms")).as("min_latency"),
        count(lit(1)).as("cnt"))
      .orderBy(col("minute")).collect().toSeq
    assert(streaming.nonEmpty)
    assert(streaming == batchParsed)
  }

  test("fanOutReplay agg sink == batch window agg on the same envelope stream (q_stream_a1)") {
    // the driver-oracle entry for the streaming spine: file-stream source →
    // parse → foreachBatch fan-out → agg sink must reproduce the batch
    // aggregation over the identical events-derived CDC input, row for row
    val streamed = StreamingJobs.fanOutReplay(spark, sf()).collect().toSeq
    val batch = TradeAggregates.windowAggOn(windowInput(
      graft.operators.CdcParser.cdcParseRoundtrip(spark, sf())))
      .withColumn("window_start", col("window_start")
        .cast(org.apache.spark.sql.types.TimestampNTZType))
      .orderBy(col("window_start"), col("user_id")).collect().toSeq
    assert(streamed.nonEmpty)
    assert(streamed == batch)
  }

  test("fan-out agg sink counts every parsed BID as a bid and the rest as asks") {
    val agg = StreamingJobs.fanOutReplay(spark, sf())
      .agg(sum(col("bid_count")), sum(col("ask_count")), sum(col("trade_count")))
      .head()
    val parsed = graft.operators.CdcParser.cdcParseRoundtrip(spark, sf())
    val bids = parsed.filter(col("ask_bid") === "BID").count()
    assert(bids > 0)
    assert(agg.getLong(0) == bids)
    assert(agg.getLong(1) == parsed.count() - bids)
    assert(agg.getLong(2) == parsed.count())
  }

  test("parquetReplay reads its sink back with the stream's schema and no " +
      "job; a stream with no rows reads back empty") {
    val in = Files.createTempDirectory("graft_pr_in")
    Files.write(in.resolve("a.json"),
      "{\"id\":1,\"s\":\"x\"}\n{\"id\":2,\"s\":\"y\"}\n{\"id\":3}\n"
        .getBytes("UTF-8"))
    val src = spark.readStream.schema("id LONG, s STRING").json(in.toString)
    val sc = spark.sparkContext
    // jobs the replay call starts, split by whether the stream's own
    // thread started them; a fence job marks the end of the call (the
    // listener bus delivers in order, so every earlier start is counted)
    def countJobs(body: => org.apache.spark.sql.DataFrame)
        : (org.apache.spark.sql.DataFrame, Int, Int) = {
      val stream = new java.util.concurrent.atomic.AtomicInteger
      val other = new java.util.concurrent.atomic.AtomicInteger
      val fence = new java.util.concurrent.CountDownLatch(1)
      val l = new org.apache.spark.scheduler.SparkListener {
        override def onJobStart(
            e: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
          def has(k: String) =
            Option(e.properties).exists(_.getProperty(k) != null)
          if (has("graft.test.fence")) fence.countDown()
          else if (has("sql.streaming.queryId")) stream.incrementAndGet()
          else other.incrementAndGet()
          ()
        }
      }
      sc.addSparkListener(l)
      try {
        val df = body
        sc.setLocalProperty("graft.test.fence", "1")
        try sc.parallelize(Seq(1), 1).count()
        finally sc.setLocalProperty("graft.test.fence", null)
        assert(fence.await(60, java.util.concurrent.TimeUnit.SECONDS))
        (df, stream.get, other.get)
      } finally sc.removeSparkListener(l)
    }
    val (df, streamJobs, otherJobs) =
      countJobs(StreamingJobs.parquetReplay(spark, "graft_test_pr", src))
    assert(streamJobs > 0, "the listener saw none of the stream's own jobs")
    assert(otherJobs == 0,
      s"$otherJobs job(s) outside the stream: the read-back inferred a schema")
    assert(df.schema == src.schema)
    assert(df.orderBy("id").collect().toSeq.map(r =>
        (r.getLong(0), Option(r.getString(1)))) ==
      Seq((1L, Some("x")), (2L, Some("y")), (3L, None)))
    // an input with no files runs no batch, so the sink has no data
    // files; inferring a schema from it throws "Unable to infer schema"
    val none = spark.readStream.schema(src.schema)
      .json(Files.createTempDirectory("graft_pr_none").toString)
    val (empty, _, emptyOther) = countJobs(
      StreamingJobs.parquetReplay(spark, "graft_test_pr", none))
    assert(emptyOther == 0)
    assert(empty.schema == src.schema)
    assert(empty.count() == 0)
    // a fan-out sink read-back: after the replay, its schema comes from
    // the parsed stream by analysis, with no job
    StreamingJobs.fanOutReplay(spark, sf())
    val (raw, _, rawOther) =
      countJobs(StreamingJobs.fanOutRawReplay(spark, sf()))
    assert(rawOther == 0,
      s"$rawOther job(s) outside the stream: the raw sink inferred a schema")
    assert(raw.count() > 0)
  }

  test("fan-out raw + alert sinks reproduce the batch parse (q_stream_raw / q_stream_alerts)") {
    // read-back of the OTHER two sinks of the same T1 replay: the raw sink
    // must hold exactly the parsed rows, the alert sink exactly the
    // stateless LARGE_TRADE subset
    val raw = StreamingJobs.fanOutRawReplay(spark, sf()).collect().toSeq
    val batch = graft.operators.CdcParser.cdcParseRoundtripSorted(spark, sf())
      .collect().toSeq
    assert(raw.nonEmpty && raw == batch)
    val alerts = StreamingJobs.fanOutAlertsReplay(spark, sf()).collect().toSeq
    val batchAlerts = graft.operators.CdcParser.cdcParseRoundtrip(spark, sf())
      .filter(col("op") === "c" &&
        col("trade_price") * col("trade_volume") >= 3000.0)
      .select(col("trade_id"), col("market"), col("trade_price"),
        col("trade_volume"),
        (col("trade_price") * col("trade_volume")).as("amount"))
      .orderBy(col("trade_id")).collect().toSeq
    assert(alerts.nonEmpty && alerts == batchAlerts)
  }

  test("stateful detector replay == local fold; key mapping collision-free (q_stream_d3d4)") {
    val parsed = graft.operators.CdcParser.cdcParseRoundtrip(spark, sf())
    // the q_stream_d3d4 oracle groups by market/user_id; the stream groups
    // by the hashed key — equivalence requires the mapping be injective on
    // the corpus
    val nMkts = parsed.filter(col("op") === "c")
      .select("market").distinct().count()
    val nKeys = StreamingJobs.evFromTrades(parsed)
      .select("user_id").distinct().count()
    assert(nMkts == nKeys, "market->key hash collision")
    val streamed = StreamingJobs.detectorReplay(spark, sf())
      .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    val evs = StreamingJobs.evFromTrades(parsed).collect()
    val local = evs.groupBy(_.user_id).toSeq.flatMap { case (_, es) =>
      var st = model.DetectorState.empty
      es.sortBy(e => (e.ts_ms, e.event_id)).toSeq.flatMap { e =>
        val (a, s2) = AnomalyDetection.step(st, e); st = s2; a }
    }
    val localCounts = local.groupBy(_.alert_type)
      .map { case (t, as) => (t, as.size.toLong) }.toSeq.sortBy(_._1)
    assert(streamed.nonEmpty && streamed == localCounts)
  }

  test("stateful detector carries state across micro-batches (two-batch == global fold)") {
    val trades = Synthetic.trades(300)
    val jsons = trades.map(t => Synthetic.envelopeJson(t))
    // trades are time-ordered, so a half split preserves per-key global
    // (ts, id) order across the batch boundary
    val (first, second) = jsons.splitAt(150)
    val mem = MemoryStream[String](spark)
    val parsed = graft.operators.CdcParser.parse(
      mem.toDF().withColumnRenamed("value", "json"), col("json"))
    val q = StreamingJobs.detectAnomaliesStream(parsed)
      .writeStream.format("memory").queryName("carry_out")
      .outputMode("append").start()
    try {
      mem.addData(first); q.processAllAvailable()
      mem.addData(second); q.processAllAvailable()
    } finally q.stop()
    val streaming = spark.table("carry_out")
      .select("alert_type", "market", "trade_id")
      .collect().map(_.toSeq).toSet
    def fold(js: Seq[String], st0: Map[Long, model.DetectorState] = Map.empty)
        : (Set[Seq[Any]], Map[Long, model.DetectorState]) = {
      val evs = StreamingJobs.evFromTrades(
        graft.operators.CdcParser.parseEnvelope(js.toDF("json"), col("json")))
        .collect()
      var states = st0
      val out = evs.groupBy(_.user_id).toSeq.flatMap { case (k, es) =>
        var st = states.getOrElse(k, model.DetectorState.empty)
        val as = es.sortBy(e => (e.ts_ms, e.event_id)).toSeq.flatMap { e =>
          val (a, s2) = AnomalyDetection.step(st, e); st = s2; a }
        states = states.updated(k, st)
        as
      }.map(a => Seq[Any](a.alert_type, a.market, a.trade_id)).toSet
      (out, states)
    }
    val (global, _) = fold(jsons) // one fold over everything
    assert(streaming == global)
    // the test is non-vacuous only if a state reset at the boundary would
    // change the output: fold each half from empty state and compare
    val (h1, _) = fold(first)
    val (h2, _) = fold(second)
    assert(h1.union(h2) != global,
      "split corpus not state-sensitive; pick a different split")
  }

  test("streaming dedup drops redelivered events (S3 INSERT IGNORE)") {
    val trades = Synthetic.trades(100)
    // every 4th trade delivered twice (WebSocket redelivery)
    val jsons = trades.map(t => Synthetic.envelopeJson(t)) ++
      trades.filter(_.trade_id % 4 == 0).map(t => Synthetic.envelopeJson(t))
    val parsed = parsedStream(jsons)
    val q = StreamingJobs.dedupStream(parsed)
      .writeStream.format("memory").queryName("dedup_out")
      .outputMode("append").start()
    try { q.processAllAvailable() } finally q.stop()
    val ids = spark.table("dedup_out")
      .select("sequential_id").as[Long].collect()
    assert(ids.length == 100)
    assert(ids.toSet.size == 100)
  }

  test("stream-stream interval join == batch join, matches across micro-batches") {
    import spark.implicits._
    val trades = Synthetic.trades(300)
    val jsons = trades.map(t => Synthetic.envelopeJson(t))
    // trades are time-ordered (1 s cadence), so this is a time split:
    // batch 2 is strictly later and nothing arrives behind the watermark
    val (first, second) = jsons.splitAt(150)
    val mem = MemoryStream[String](spark)
    val parsed = graft.operators.CdcParser.parse(
      mem.toDF().withColumnRenamed("value", "json"), col("json"))
    val q = StreamingJobs.tradeQuoteJoin(parsed)
      .writeStream.format("memory").queryName("ssj_out")
      .outputMode("append").start()
    try {
      mem.addData(first); q.processAllAvailable()
      mem.addData(second); q.processAllAvailable()
    } finally q.stop()
    val streaming = spark.table("ssj_out")
      .orderBy("trade_id", "quote_id").collect().toSeq
    val bp = graft.operators.CdcParser
      .parseEnvelope(jsons.toDF("json"), col("json"))
    val bt = bp.filter(col("ask_bid") === "BID")
      .select(col("market"), col("trade_id"), col("trade_price"),
        col("source_ts").as("t_ms"))
    val bq = bp.filter(col("ask_bid") === "ASK")
      .select(col("market").as("q_market"), col("trade_id").as("quote_id"),
        col("trade_price").as("quote_price"), col("source_ts").as("q_ms"))
    val batch = bt.join(bq,
        col("market") === col("q_market") &&
          col("q_ms") >= col("t_ms") - lit(3600000L) &&
          col("q_ms") <= col("t_ms"))
      .select(col("market"), col("trade_id"), col("quote_id"),
        col("trade_price"), col("quote_price"),
        (col("t_ms") - col("q_ms")).as("lag_ms"))
      .orderBy("trade_id", "quote_id").collect().toSeq
    assert(streaming.nonEmpty && streaming == batch)
    // the join state really buffered across micro-batches: some match
    // pairs a second-batch trade with a first-batch quote
    val firstIds = trades.take(150).map(_.trade_id).toSet
    val secondIds = trades.drop(150).map(_.trade_id).toSet
    assert(streaming.exists(r =>
      secondIds.contains(r.getLong(1)) && firstIds.contains(r.getLong(2))))
  }

  test("stream-static broadcast join enrichment == batch join") {
    import spark.implicits._
    val trades = Synthetic.trades(100)
    val jsons = trades.map(t => Synthetic.envelopeJson(t))
    val dim = Synthetic.markets.zipWithIndex
      .map { case (m, i) => (m, if (i % 2 == 0) "gold" else "silver") }
      .toDF("market", "tier")
    val q = StreamingJobs.enrichStream(parsedStream(jsons), dim)
      .writeStream.format("memory").queryName("enrich_out")
      .outputMode("append").start()
    try { q.processAllAvailable() } finally q.stop()
    val streaming = spark.table("enrich_out")
      .select("trade_id", "market", "tier")
      .orderBy("trade_id").collect().toSeq
    val batch = graft.operators.CdcParser
      .parseEnvelope(jsons.toDF("json"), col("json"))
      .join(broadcast(dim), Seq("market"), "left")
      .select("trade_id", "market", "tier")
      .orderBy("trade_id").collect().toSeq
    assert(streaming.nonEmpty && streaming == batch)
    assert(streaming.forall(_.getString(2) != null))
  }

  test("foreachBatch fan-out writes raw/agg/alerts sinks (T1)") {
    val in = Files.createTempDirectory("graft_in").toString
    val out = Files.createTempDirectory("graft_out").toString
    val ckpt = Files.createTempDirectory("graft_ckpt").toString
    val jsons = Synthetic.trades(100).map(t => Synthetic.envelopeJson(t))
    Files.write(java.nio.file.Paths.get(in, "part-0.json"),
      jsons.mkString("\n").getBytes)
    val q = StreamingJobs.fanOut(spark, in, out, ckpt,
      trigger = Trigger.AvailableNow())
    q.awaitTermination(60000)
    assert(spark.read.parquet(s"$out/raw").count() == 100)
    assert(spark.read.parquet(s"$out/agg").count() > 0)
    assert(spark.read.parquet(s"$out/alerts").count() > 0)
  }

  /** `n` trades as envelope files `part-0.json` … in a fresh dir, `per`
    * envelopes per file. */
  private def envelopeFiles(n: Int, per: Int): String = {
    val in = Files.createTempDirectory("graft_fo_in")
    Synthetic.trades(n).map(t => Synthetic.envelopeJson(t)).grouped(per)
      .zipWithIndex.foreach { case (js, i) =>
        Files.write(in.resolve(s"part-$i.json"), js.mkString("\n").getBytes)
      }
    in.toString
  }

  private def partFiles(dir: String): Int =
    new java.io.File(dir).list().count(_.startsWith("part-"))

  test("fanOut writes a small batch as one partition: one part file per " +
      "sink and no exchange in the agg append") {
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    import org.apache.spark.sql.execution.datasources.InsertIntoHadoopFsRelationCommand
    import org.apache.spark.sql.execution.exchange.Exchange
    val in = envelopeFiles(300, 100)
    val out = Files.createTempDirectory("graft_fo_out").toString
    val ckpt = Files.createTempDirectory("graft_fo_ck").toString
    // an AQE plan hides its stages from a bare collect: descend explicitly
    def exchanges(p: SparkPlan): Int = p.collectWithSubqueries {
      case _: Exchange => 1
      case a: AdaptiveSparkPlanExec => exchanges(a.executedPlan)
      case s: QueryStageExec => exchanges(s.plan)
    }.sum
    val aggPlans = new java.util.concurrent.ConcurrentLinkedQueue[SparkPlan]()
    val listener = new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution,
          durationNs: Long): Unit =
        if (qe.analyzed.exists {
          case c: InsertIntoHadoopFsRelationCommand =>
            c.outputPath.getName == "agg"
          case _ => false
        }) { aggPlans.add(qe.executedPlan); () }
      override def onFailure(funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution,
          exception: Exception): Unit = ()
    }
    // the stream's session clone copies the listener manager at start
    spark.listenerManager.register(listener)
    try {
      val q = StreamingJobs.fanOut(spark, in, out, ckpt,
        trigger = Trigger.AvailableNow(), maxFilesPerTrigger = 3)
      q.awaitTermination(120000)
      assert(q.exception.isEmpty)
      assert(q.recentProgress.count(_.numInputRows > 0) == 1,
        "the three files did not drain in one batch")
      // listener callbacks land asynchronously
      val deadline = System.nanoTime() + 30000000000L
      while (aggPlans.isEmpty && System.nanoTime() < deadline)
        Thread.sleep(50)
    } finally spark.listenerManager.unregister(listener)
    Seq("raw", "agg", "alerts").foreach(sink =>
      assert(partFiles(s"$out/$sink") == 1, s"$sink: one part file per batch"))
    assert(spark.read.parquet(s"$out/raw").count() == 300)
    assert(aggPlans.size == 1)
    assert(exchanges(aggPlans.peek()) == 0,
      s"the agg append shuffled:\n${aggPlans.peek()}")
  }

  /** Asserts that no job of this context is still running. The status
    * store lags the scheduler: once a later job's end is recorded, every
    * job that ended before it is recorded too. */
  private def assertNoJobRunning(clue: String): Unit = {
    val sc = spark.sparkContext
    sc.setJobGroup("graft-test-fence", "fence")
    try sc.parallelize(Seq(1), 1).count()
    finally sc.clearJobGroup()
    val deadline = System.nanoTime() + 30000000000L
    def fenceDone = sc.statusTracker.getJobIdsForGroup("graft-test-fence")
      .flatMap(sc.statusTracker.getJobInfo)
      .exists(_.status == org.apache.spark.JobExecutionStatus.SUCCEEDED)
    while (!fenceDone && System.nanoTime() < deadline) Thread.sleep(20)
    assert(fenceDone)
    assert(sc.statusTracker.getActiveJobIds.isEmpty, clue)
  }

  /** A listener that records, per fan-out sink under `out`, the start and
    * end ms of its append's SQL execution. */
  private class AppendTimes(out: String)
      extends org.apache.spark.scheduler.SparkListener {
    import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}
    private val sink = new java.util.concurrent.ConcurrentHashMap[Long, String]()
    private val start = new java.util.concurrent.ConcurrentHashMap[Long, Long]()
    private val end = new java.util.concurrent.ConcurrentHashMap[Long, Long]()
    @volatile var onStart: String => Unit = _ => ()
    override def onOtherEvent(
        e: org.apache.spark.scheduler.SparkListenerEvent): Unit = e match {
      case s: SparkListenerSQLExecutionStart =>
        Seq("raw", "agg", "alerts")
          .find(k => s.physicalPlanDescription.contains(s"$out/$k"))
          .foreach { k =>
            sink.put(s.executionId, k)
            start.put(s.executionId, s.time)
            onStart(k)
          }
      case s: SparkListenerSQLExecutionEnd => end.put(s.executionId, s.time)
      case _ => ()
    }
    /** sink -> (start, end) of its ended appends. */
    def intervals: Map[String, (Long, Long)] = {
      import scala.jdk.CollectionConverters._
      sink.asScala.toMap.collect {
        case (x, k) if end.containsKey(x) => k -> (start.get(x), end.get(x))
      }
    }
  }

  test("fanOut's raw, agg and alerts appends overlap in time") {
    val in = envelopeFiles(300, 100)
    val out = Files.createTempDirectory("graft_fo_out").toString
    val ckpt = Files.createTempDirectory("graft_fo_ck").toString
    val times = new AppendTimes(out)
    spark.sparkContext.addSparkListener(times)
    val spans = try {
      val q = StreamingJobs.fanOut(spark, in, out, ckpt,
        trigger = Trigger.AvailableNow(), maxFilesPerTrigger = 3)
      q.awaitTermination(120000)
      assert(q.exception.isEmpty)
      // listener events land asynchronously
      val deadline = System.nanoTime() + 30000000000L
      while (times.intervals.size < 3 && System.nanoTime() < deadline)
        Thread.sleep(50)
      times.intervals
    } finally spark.sparkContext.removeSparkListener(times)
    assert(spans.keySet == Set("raw", "agg", "alerts"), spans)
    // appends run one after another never share an instant
    val lastStart = spans.values.map(_._1).max
    val firstEnd = spans.values.map(_._2).min
    assert(lastStart < firstEnd, s"the appends did not overlap: $spans")
  }

  test("fanOut's stop() during its appends ends the query cleanly with no " +
      "job left running") {
    val in = envelopeFiles(3000, 1000)
    val out = Files.createTempDirectory("graft_fo_out").toString
    val ckpt = Files.createTempDirectory("graft_fo_ck").toString
    val appending = new java.util.concurrent.CountDownLatch(1)
    val times = new AppendTimes(out)
    times.onStart = _ => appending.countDown()
    spark.sparkContext.addSparkListener(times)
    try {
      val q = StreamingJobs.fanOut(spark, in, out, ckpt,
        trigger = Trigger.ProcessingTime("1 second"), maxFilesPerTrigger = 1)
      assert(appending.await(120, java.util.concurrent.TimeUnit.SECONDS))
      q.stop()
      assert(!q.isActive)
      assert(q.exception.isEmpty, q.exception)
    } finally spark.sparkContext.removeSparkListener(times)
    assertNoJobRunning("an append was still running after stop()")
  }

  test("fanOut fails a failing agg append only after raw and alerts " +
      "commit, with no job left running") {
    val in = envelopeFiles(100, 100)
    val out = Files.createTempDirectory("graft_fo_out").toString
    val ckpt = Files.createTempDirectory("graft_fo_ck").toString
    // the agg sink's path is a regular file, so its append cannot commit
    Files.write(java.nio.file.Paths.get(out, "agg"), "x".getBytes)
    val q = StreamingJobs.fanOut(spark, in, out, ckpt,
      trigger = Trigger.AvailableNow())
    val e = intercept[org.apache.spark.sql.streaming.StreamingQueryException](
      q.awaitTermination(120000))
    val chain = Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
      .map(t => String.valueOf(t.getMessage)).toSeq
    assert(chain.exists(_.contains(s"$out/agg")),
      s"not the agg append's error: ${chain.mkString(" <- ")}")
    val parsed = graft.operators.CdcParser.parse(
      spark.read.text(in).withColumnRenamed("value", "json"), col("json"))
    assert(spark.read.parquet(s"$out/raw").count() == 100)
    val alerts = parsed.filter(col("op") === "c" &&
      col("trade_price") * col("trade_volume") >= 3000.0).count()
    assert(alerts > 0)
    assert(spark.read.parquet(s"$out/alerts").count() == alerts)
    assertNoJobRunning("an append was still running after the query terminated")
  }

  test("fan-out width rule: one partition per openCostInBytes, at least " +
      "one; an unknown size estimate leaves the batch unchanged") {
    val conf = spark.sessionState.conf
    val open = conf.filesOpenCostInBytes
    assert(StreamingJobs.fanOutWidth(conf, 0) == 1)
    assert(StreamingJobs.fanOutWidth(conf, open) == 1)
    assert(StreamingJobs.fanOutWidth(conf, open + 1) == 2)
    assert(StreamingJobs.fanOutWidth(conf, conf.defaultSizeInBytes) ==
      Int.MaxValue)
    // an RDD-backed frame reports no statistics: Spark's default size
    val rows = spark.sparkContext.parallelize(
      Seq(org.apache.spark.sql.Row(1L), org.apache.spark.sql.Row(2L)), 3)
    val unknown = spark.createDataFrame(rows,
      org.apache.spark.sql.types.StructType.fromDDL("id LONG"))
    assert(unknown.queryExecution.optimizedPlan.stats.sizeInBytes ==
      BigInt(conf.defaultSizeInBytes))
    assert(StreamingJobs.sizedByBytes(unknown).rdd.getNumPartitions == 3)
    val small = spark.range(0, 100, 1, 3).toDF()
    assert(StreamingJobs.sizedByBytes(small).rdd.getNumPartitions == 1)
  }

  test("partitioned table writer: layout + pruning (ST1/ST2/ST4)") {
    val dir = Files.createTempDirectory("graft_tbl").toString
    val df = G.events(spark, sf())
    Tables.writePartitioned(df, dir, "ts", Seq("user_id", "ts"))
    val back = Tables.read(spark, dir)
    assert(back.count() == df.count())
    assert(back.columns.contains("month") && back.columns.contains("inserted_at"))
    // partition pruning: a month filter must read a subset of files
    val pruned = back.filter(col("month") === "202401")
    assert(pruned.count() == df.count()) // all data is Jan 2024
    assert(Tables.retentionFilter(back, "ts", "2024-01-15 00:00:00").count()
      < back.count())
  }
}
