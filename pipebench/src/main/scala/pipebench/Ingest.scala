package pipebench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, StandardCopyOption}
import java.nio.file.attribute.FileTime
import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.Random

import graft.Synthetic
import graft.model.DetectorState
import graft.operators.{AnomalyDetection, CdcParser, TradeAggregates}
import graft.streaming.StreamingJobs
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryListener, StreamingQueryProgress, Trigger}

/** `cdc_ingest`: the primary surface, a restart after an outage and then
  * live traffic. `StreamingJobs.fanOut` (raw, agg and alert sinks) and
  * `StreamingJobs.detectAnomaliesStream` (parquet sink, RocksDB state) read
  * the same envelope directory side by side with `ProcessingTime(0)`.
  *
  * Phase 1 drains a pre-staged backlog; phase 2 is an open loop writing one
  * file of [[EventsPerFile]] envelopes every [[FileIntervalMs]]. An event's
  * latency runs from its file's due time to the later of its two commits;
  * commit times come from the query progress events (the only listener in
  * a timed run). */
object Ingest {

  val EventsPerFile = 100
  val FileIntervalMs = 200L // 500 events/s
  val BacklogFiles = 80
  val MaxFilesPerTrigger = 40
  val Markets = 200
  /** A generator that writes a file this late makes the run invalid. */
  val MaxLatenessMs = 1000.0

  /** One envelope line as written: the trade image and its operation. */
  final case class Line(t: Synthetic.Trade, op: String) {
    def json: String = Synthetic.envelopeJson(t, op)
  }

  /** Seeded envelope stream, one file per element: 200 KRW markets with
    * Zipf-skewed frequencies, about 90% inserts, 7% updates and 3% deletes
    * of earlier trades, about 2% WebSocket redeliveries written right after
    * their original, and strictly increasing event time. */
  def generate(seed: Long, files: Int): IndexedSeq[IndexedSeq[Line]] = {
    val rnd = new Random(seed)
    val names = "KRW-BTC" +: "KRW-ETH" +: (3 to Markets).map(i => f"KRW-A$i%03d")
    val ranked = rnd.shuffle(names).toIndexedSeq
    val cum = ranked.indices.map(i => 1.0 / math.pow(i + 1, 1.1)).scanLeft(0.0)(_ + _).tail
    def market(): String = {
      val u = rnd.nextDouble() * cum.last
      ranked(math.min(ranked.size - 1, cum.search(u).insertionPoint))
    }
    val lastPrice = mutable.Map.empty[String, Double]
    val inserted = mutable.ArrayBuffer.empty[Synthetic.Trade]
    var nextId = 1L
    var ts = 1700000000000L
    (0 until files).map { _ =>
      val out = IndexedSeq.newBuilder[Line]
      (0 until EventsPerFile).foreach { _ =>
        ts += 2
        val u = rnd.nextDouble()
        val line =
          if (u < 0.90 || inserted.size < 10) {
            val m = market()
            val p0 = lastPrice.getOrElse(m, 50 + rnd.nextDouble() * 150)
            // mostly a small walk, sometimes a jump the spike rule sees
            val step = if (rnd.nextDouble() < 0.01) 0.08 else 0.004
            val p = math.rint(p0 * (1 + (rnd.nextDouble() * 2 - 1) * step) * 100) / 100
            lastPrice(m) = p
            val vol = math.rint(rnd.nextDouble() * (if (rnd.nextDouble() < 0.005) 2000 else 100))
            val t = Synthetic.Trade(nextId, m, p, vol,
              if (rnd.nextBoolean()) "BID" else "ASK", ts)
            nextId += 1
            inserted += t
            Line(t, "c")
          } else {
            val old = inserted(rnd.nextInt(inserted.size))
            if (u < 0.97)
              Line(old.copy(price = math.rint(old.price * 1.001 * 100) / 100, tsMs = ts), "u")
            else Line(old.copy(tsMs = ts), "d")
          }
        out += line
        if (rnd.nextDouble() < 0.02) out += line
      }
      out.result()
    }
  }

  private def fileName(i: Int) = f"env-$i%06d.json"

  /** Write atomically: the file source must never list a partial file. */
  private def writeFile(dir: Path, i: Int, lines: Seq[Line], mtimeMs: Option[Long]): Unit = {
    val tmp = dir.resolve(s".${fileName(i)}.tmp")
    Files.write(tmp, lines.map(_.json).mkString("", "\n", "\n").getBytes(StandardCharsets.UTF_8))
    mtimeMs.foreach(ms => Files.setLastModifiedTime(tmp, FileTime.fromMillis(ms)))
    Files.move(tmp, dir.resolve(fileName(i)), StandardCopyOption.ATOMIC_MOVE)
  }

  /** The commit probe: every progress event, per query. */
  final class Probe extends StreamingQueryListener {
    val progress = new ConcurrentHashMap[java.util.UUID, java.util.concurrent.ConcurrentLinkedQueue[StreamingQueryProgress]]()
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      progress.computeIfAbsent(e.progress.id, _ => new java.util.concurrent.ConcurrentLinkedQueue())
        .add(e.progress)
    def of(q: StreamingQuery): Seq[StreamingQueryProgress] =
      Option(progress.get(q.id)).map(_.asScala.toSeq.sortBy(_.batchId)).getOrElse(Nil)
    def rows(q: StreamingQuery): Long = of(q).map(_.numInputRows).sum
  }

  def dur(p: StreamingQueryProgress, k: String): Double =
    Option(p.durationMs.get(k)).map(_.doubleValue).getOrElse(0.0)
  def startMs(p: StreamingQueryProgress): Long = java.time.Instant.parse(p.timestamp).toEpochMilli
  def commitMs(p: StreamingQueryProgress): Long = startMs(p) + dur(p, "triggerExecution").toLong

  def run(ctx: Main.Ctx): Unit = {
    val r = ctx.report
    val liveFiles = math.max(1, (ctx.seconds * 1000L / FileIntervalMs).toInt)
    val files = generate(ctx.seed, BacklogFiles + liveFiles)
    val root = ctx.work.resolve("cdc")
    val in = root.resolve("in")
    Files.createDirectories(in)
    val now0 = System.currentTimeMillis()
    (0 until BacklogFiles).foreach(i =>
      writeFile(in, i, files(i), Some(now0 - (BacklogFiles - i) * 1000L)))
    val backlogRows = files.take(BacklogFiles).map(_.size).sum
    val totalRows = files.map(_.size).sum

    val probe = new Probe
    val spark = Main.setup(ctx) { s =>
      StreamingJobs.configureStateStore(s)
      s.streams.addListener(probe)
    }
    val engine = if (ctx.trace) Some(new Engine(spark).register()) else None
    val from = engine.map(_.snap())
    val out = root.resolve("out").toString

    // phase 1: catch-up
    val t0 = System.currentTimeMillis()
    val fan = StreamingJobs.fanOut(spark, in.toString, out, root.resolve("ck-fan").toString,
      Trigger.ProcessingTime(0), MaxFilesPerTrigger)
    val det = StreamingJobs.detectAnomaliesStream(
        StreamingJobs.readCdcStream(spark, in.toString, MaxFilesPerTrigger))
      .writeStream
      .option("checkpointLocation", root.resolve("ck-det").toString)
      .trigger(Trigger.ProcessingTime(0))
      .format("parquet").option("path", s"$out/detector")
      .outputMode("append")
      .start()
    val queries = Seq(fan, det)
    def awaitRows(n: Long, timeoutS: Int): Boolean = {
      val deadline = System.nanoTime() + timeoutS * 1000000000L
      while (queries.exists(q => probe.rows(q) < n) && queries.forall(_.isActive) &&
        System.nanoTime() < deadline) Thread.sleep(10)
      queries.forall(q => probe.rows(q) >= n)
    }
    val caughtUp = awaitRows(backlogRows, 150)
    Main.log("caught up")
    val catchupEnd = queries.map(q => probe.of(q).find {
      var acc = 0L
      p => { acc += p.numInputRows; acc >= backlogRows }
    }.map(commitMs).getOrElse(System.currentTimeMillis())).max
    val coldS = (catchupEnd - t0) / 1e3
    r.put("cold_s", coldS, "s")

    // phase 2: open-loop live traffic
    val dueMs = new Array[Long](liveFiles)
    val wroteMs = new Array[Long](liveFiles)
    val tLive = System.currentTimeMillis() + 100
    for (j <- 0 until liveFiles) {
      dueMs(j) = tLive + j * FileIntervalMs
      val wait = dueMs(j) - System.currentTimeMillis()
      if (wait > 0) Thread.sleep(wait)
      ctx.spans("generator.write", fileName(BacklogFiles + j))(
        writeFile(in, BacklogFiles + j, files(BacklogFiles + j), None))
      wroteMs(j) = System.currentTimeMillis()
    }
    val drained = awaitRows(totalRows, 60)
    Main.log("live phase drained")
    queries.foreach(_.stop())
    queries.foreach(q => q.exception.foreach(e => r.op(false, s"${q.name}: ${e.getMessage}")))
    val to = engine.map { e => e.settle(); e.snap() }
    val lateness = dueMs.indices.map(j => (wroteMs(j) - dueMs(j)).toDouble)

    // latency of every live event
    val rowsPerFile = files.map(_.size)
    val live = (BacklogFiles until files.size).flatMap(f => Seq.fill(rowsPerFile(f))(dueMs(f - BacklogFiles)))
    val commits = queries.map { q =>
      val batches = probe.of(q).map(p => Stats.Batch(p.numInputRows, commitMs(p)))
      scala.util.Try(Stats.commitTimes(batches, totalRows)).toOption
    }
    if (caughtUp && drained && commits.forall(_.isDefined)) {
      val lat = Stats.latencies(live.toArray, commits.map(_.get.drop(backlogRows)))
      r.put("latency_mid_ms", Stats.median(lat.toSeq), "ms")
      r.put("latency_tail_ms", Stats.tail(lat.toSeq)._2, "ms")
    }
    r.op(caughtUp, s"catch-up did not commit $backlogRows rows")
    r.op(drained, s"live phase did not commit all $totalRows rows within 60 s")
    // triggers run back to back while files keep arriving, so their summed
    // time is the phase length; the time of one trigger cycle is what moves
    val liveTrigger = queries.map(q => Main.p50(probe.of(q)
      .filter(p => p.numInputRows > 0 && startMs(p) >= tLive - 50).map(dur(_, "triggerExecution"))))
    r.put("warm_s", liveTrigger.sum / 1e3, "s")
    // files written but not yet committed by both queries, at each write:
    // bounded when the live rate is sustainable
    val fileEnd = rowsPerFile.scanLeft(0L)(_ + _).tail
    def filesDone(q: StreamingQuery, atMs: Long): Int = {
      val rows = probe.of(q).filter(p => commitMs(p) <= atMs).map(_.numInputRows).sum
      fileEnd.count(_ <= rows)
    }
    val backlog = wroteMs.indices.map { j =>
      (BacklogFiles + j + 1 - queries.map(filesDone(_, wroteMs(j))).min).toDouble
    }
    val lateMax = lateness.max
    System.err.println(f"[pipebench] cdc_ingest: backlog $backlogRows rows in $coldS%.2f s, " +
      f"live ${live.size} rows, generator lateness max $lateMax%.0f ms p95 " +
      f"${Stats.at(lateness.sorted, 0.95)}%.0f ms, unconsumed files max ${backlog.max}%.0f " +
      f"(first half ${backlog.take(liveFiles / 2).max}%.0f)")
    r.op(lateMax <= MaxLatenessMs,
      f"generator fell behind by $lateMax%.0f ms (bound $MaxLatenessMs ms): run invalid")

    val lines = files.flatten
    val (expectedDetector, foldS) = Main.time(detectorFold(spark, lines))
    check(spark, out, lines, expectedDetector, r)
    Main.log("sinks checked")

    engine.foreach { e =>
      Engine.layers(e, from.get, to.get, Main.Cores).foreach { case (k, v, u) => r.put(k, v, u) }
      traced(ctx, spark, probe, fan, det, coldS, backlogRows, tLive, backlog,
        lateness, foldS, lines.count(_.op == "c"), in)
    }
  }

  /** Per-layer numbers of the traced run. */
  private def traced(ctx: Main.Ctx, spark: SparkSession, probe: Probe, fan: StreamingQuery, det: StreamingQuery, coldS: Double,
      backlogRows: Int, tLive: Long, backlog: Seq[Double], lateness: Seq[Double],
      foldS: Double, inserts: Int, in: Path): Unit = {
    val r = ctx.report
    def p50(xs: Seq[Double]) = Main.p50(xs)
    def p95(xs: Seq[Double]) = if (xs.isEmpty) 0.0 else Stats.at(xs.sorted.toIndexedSeq, 0.95)
    val fanLive = probe.of(fan).filter(p => p.numInputRows > 0 && startMs(p) >= tLive - 50)
    val detLive = probe.of(det).filter(p => p.numInputRows > 0 && startMs(p) >= tLive - 50)
    for ((name, ps) <- Seq("fanout" -> fanLive, "detector" -> detLive)) {
      val trig = ps.map(dur(_, "triggerExecution"))
      val add = ps.map(dur(_, "addBatch"))
      r.put(s"StreamingJobs.$name.trigger_ms_p50", p50(trig), "ms")
      r.put(s"StreamingJobs.$name.trigger_ms_p95", p95(trig), "ms")
      r.put(s"StreamingJobs.$name.add_batch_ms_p50", p50(add), "ms")
      r.put(s"StreamingJobs.$name.overhead_ms_p50", p50(trig.zip(add).map { case (t, a) => t - a }), "ms")
    }
    val liveAll = fanLive ++ detLive
    r.put("StreamingJobs.query_planning_ms_p50", p50(liveAll.map(dur(_, "queryPlanning"))), "ms")
    r.put("StreamingJobs.wal_commit_ms_p50", p50(liveAll.map(dur(_, "walCommit"))), "ms")
    r.put("StreamingJobs.commit_offsets_ms_p50", p50(liveAll.map(dur(_, "commitOffsets"))), "ms")
    r.put("StreamingJobs.latest_offset_ms_p50", p50(liveAll.map(dur(_, "latestOffset"))), "ms")
    r.put("StreamingJobs.rows_per_trigger_p50", p50(liveAll.map(_.numInputRows.toDouble)), "rows")
    r.put("StreamingJobs.backlog_files_max", backlog.max, "files")
    val fanAll = probe.of(fan).filter(_.numInputRows > 0)
    val catchup = Seq(fan, det).map(q => probe.of(q).filter(p => p.numInputRows > 0 && startMs(p) < tLive - 50))
    r.put("StreamingJobs.first_trigger_ms", fanAll.headOption.map(dur(_, "triggerExecution")).getOrElse(0.0), "ms")
    r.put("StreamingJobs.catchup_triggers", catchup.map(_.size).max.toDouble, "count")
    r.put("StreamingJobs.ingest_catchup_eps", backlogRows / coldS, "1/s")
    // reconcile: the live phase runs from the first due write to the last
    // commit; what the triggers do not cover is idle polling
    val liveEnd = (fanLive ++ detLive).map(commitMs).max
    r.put("reconcile.live_phase_s", (liveEnd - tLive) / 1e3, "s")
    r.put("reconcile.live_fanout_trigger_s", fanLive.map(dur(_, "triggerExecution")).sum / 1e3, "s")
    r.put("reconcile.live_detector_trigger_s", detLive.map(dur(_, "triggerExecution")).sum / 1e3, "s")
    r.put("reconcile.catchup_fanout_trigger_s", catchup.head.map(dur(_, "triggerExecution")).sum / 1e3, "s")
    r.put("reconcile.catchup_detector_trigger_s", catchup(1).map(dur(_, "triggerExecution")).sum / 1e3, "s")
    for ((name, q) <- Seq("fanout" -> fan, "detector" -> det); p <- probe.of(q))
      ctx.spans.record(s"StreamingJobs.$name.trigger", s"batch${p.batchId}", startMs(p), commitMs(p))
    val state = probe.of(det).flatMap(_.stateOperators.headOption)
    r.put("AnomalyDetection.state_rows", state.lastOption.map(_.numRowsTotal.toDouble).getOrElse(0.0), "rows")
    r.put("AnomalyDetection.state_memory_bytes", state.lastOption.map(_.memoryUsedBytes.toDouble).getOrElse(0.0), "B")
    r.put("AnomalyDetection.state_commit_ms_p50", p50(state.map(_.commitTimeMs.toDouble)), "ms")
    r.put("AnomalyDetection.step_events_per_s", inserts / foldS, "1/s")
    r.put("gen.lateness_max_ms", lateness.max, "ms")
    r.put("gen.lateness_p95_ms", p95(lateness), "ms")
    // direct calls over the staged backlog
    val raw = spark.read.text((0 until BacklogFiles).map(i => in.resolve(fileName(i)).toString): _*)
    val n = raw.count()
    val parsed = CdcParser.parse(raw, col("value"))
    val (_, parseS) = Main.time(ctx.spans("CdcParser.parse", "backlog")(
      parsed.write.mode("overwrite").format("noop").save()))
    r.put("CdcParser.parse_rows_per_s", n / parseS, "1/s")
    val cached = parsed.cache()
    cached.count()
    val (_, winS) = Main.time(ctx.spans("TradeAggregates.windowAggOn", "backlog")(
      TradeAggregates.windowAggOn(cached.select(
        timestamp_millis(col("source_ts")).as("ts"), col("market").as("user_id"),
        col("ask_bid").as("event_type"), col("trade_price").as("value"),
        col("trade_volume").as("k"))).write.mode("overwrite").format("noop").save()))
    r.put("TradeAggregates.window_rows_per_s", n / winS, "1/s")
    cached.unpersist()
  }

  /** Detector key of a market, as the stream derives it: a hashed id whose
    * value mod 3 is the threshold tier (BTC, ETH, rest). */
  private def marketKeys(spark: SparkSession, markets: Seq[String]): Map[String, Long] = {
    import spark.implicits._
    val tier = when(col("market").contains("BTC"), 0L)
      .when(col("market").contains("ETH"), 1L).otherwise(2L)
    markets.toDF("market")
      .select(col("market"), (pmod(xxhash64(col("market")), lit(1000000000L)) * 3 + tier).as("k"))
      .as[(String, Long)].collect().toMap
  }

  /** Expected detector alerts: `AnomalyDetection.step` folded per market
    * over the inserts in event-time order, as (alert type, trade id). */
  private def detectorFold(spark: SparkSession, lines: Seq[Line]): Map[(String, Long), Int] = {
    val ins = lines.filter(_.op == "c")
    val key = marketKeys(spark, ins.map(_.t.market).distinct)
    val out = mutable.Map.empty[(String, Long), Int].withDefaultValue(0)
    ins.groupBy(_.t.market).foreach { case (m, es) =>
      var st = DetectorState.empty
      es.sortBy(l => (l.t.tsMs, l.t.trade_id)).foreach { l =>
        val t = l.t
        val (alerts, st2) = AnomalyDetection.step(st, AnomalyDetection.Ev(key(m), t.trade_id,
          t.tsMs, t.price, t.volume.toLong, t.price * t.volume))
        st = st2
        alerts.foreach(a => out((a.alert_type, a.trade_id)) += 1)
      }
    }
    out.toMap
  }

  private def multiset[K](xs: Iterable[K]): Map[K, Int] =
    xs.groupBy(identity).map { case (k, v) => k -> v.size }

  /** Size of the symmetric difference of two multisets. */
  private def diff[K](a: Map[K, Int], b: Map[K, Int]): Int =
    (a.keySet ++ b.keySet).toSeq.map(k => math.abs(a.getOrElse(k, 0) - b.getOrElse(k, 0))).sum

  /** The four sink checks. Each wrong or missing event is one failed
    * operation; every written envelope is one attempted operation. */
  private def check(spark: SparkSession, out: String, lines: Seq[Line],
      expectedDetector: Map[(String, Long), Int], r: Report): Unit = {
    import spark.implicits._
    def read(sink: String): DataFrame = spark.read.parquet(s"$out/$sink")
    val bad = Seq(
      "raw sink trade_id multiset" -> diff(
        multiset(read("raw").select("trade_id").as[Long].collect().toSeq),
        multiset(lines.map(_.t.trade_id))),
      "agg sink summed trade_count" -> math.abs(
        read("agg").agg(sum("trade_count")).as[Long].head() - lines.size).toInt,
      "alerts sink (D1 over inserts)" -> diff(
        multiset(read("alerts").select("trade_id").as[Long].collect().toSeq),
        multiset(lines.filter(l => l.op == "c" && l.t.price * l.t.volume >= 3000.0).map(_.t.trade_id))),
      "detector sink vs step fold" -> diff(
        read("detector").select("alert_type", "trade_id").as[(String, Long)].collect().toSeq
          .groupBy(identity).map { case (k, v) => k -> v.size },
        expectedDetector))
    bad.foreach { case (what, n) =>
      if (n > 0) System.err.println(s"[pipebench] cdc_ingest check failed: $what off by $n events")
    }
    val nBad = math.min(lines.size, bad.map(_._2).sum)
    (0 until lines.size).foreach(i => r.op(i >= nBad, s"${bad.filter(_._2 > 0).map(_._1).mkString(", ")}"))
  }
}
