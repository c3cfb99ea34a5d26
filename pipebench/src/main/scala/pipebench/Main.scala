package pipebench

import java.nio.file.{Files, Path, Paths}

import org.apache.spark.sql.SparkSession

/** Benchmark entry point: one workload per run.
  *
  * {{{
  * Main --workload cdc_ingest|batch_mix --seed N
  *      --seconds S --trace 0|1 --data DIR --work DIR [--dump DIR]
  * }}}
  *
  * Prints one JSON line last: `correct`, `attempted`, `failed` and every
  * metric the run measured (the launcher keeps the ones the contract
  * names). Progress, health figures and every failed check go to stderr. */
object Main {

  val Cores = 4

  /** Everything a workload needs from the command line. */
  final case class Ctx(seed: Long, seconds: Int, trace: Boolean, data: Path,
      work: Path, dump: Option[Path], report: Report, spans: Spans) {
    def traceDir: Path = work.resolve("trace")
  }

  def main(args: Array[String]): Unit = {
    val kv = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = kv("workload")
    val trace = kv.getOrElse("trace", "0") == "1"
    val ctx = Ctx(kv.getOrElse("seed", "1").toLong, kv.getOrElse("seconds", "10").toInt,
      trace, Paths.get(kv("data")).toAbsolutePath, Paths.get(kv("work")).toAbsolutePath,
      kv.get("dump").map(Paths.get(_).toAbsolutePath), new Report, new Spans(trace))
    val r = ctx.report
    workload match {
      case "cdc_ingest" => Ingest.run(ctx)
      case "batch_mix" => BatchMix.run(ctx)
      case other => sys.error(s"unknown workload $other")
    }
    r.put("jvm.peak_rss_mb", peakRssMb(), "MB")
    r.put("retained_heap_mb", retainedHeapMb(), "MB")
    log("done")
    val metrics = r.all.map { case (k, v, u) => k -> Map("value" -> v, "unit" -> u) }.toMap
    if (trace) {
      ctx.spans.write(ctx.traceDir.resolve(s"$workload.spans.json"))
      Json.write(ctx.traceDir.resolve(s"$workload.summary.json"), Map(
        "workload" -> workload, "seed" -> ctx.seed, "seconds" -> ctx.seconds,
        "spans" -> ctx.spans.size, "metrics" -> metrics))
    }
    r.errorList.take(20).foreach(e => System.err.println(s"[pipebench] FAILED $e"))
    println(Json(Map("correct" -> (r.nFailed == 0), "attempted" -> r.nAttempted,
      "failed" -> r.nFailed, "metrics" -> metrics)))
    System.out.flush()
    // exit rather than return: non-daemon Spark and stream threads must
    // not keep the JVM alive
    sys.exit(if (r.nFailed == 0) 0 else 3)
  }

  /** Heap still reachable at the end of the run, with the workload's session,
    * caches and state alive: heap used after a full collection, in MB.
    * Unlike peak RSS it does not depend on when the collector chose to
    * grow the heap, so work moved into caches shows without the noise. */
  def retainedHeapMb(): Double = {
    System.gc()
    java.lang.management.ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
  }

  /** Peak resident set of this JVM (VmHWM), in MB. */
  def peakRssMb(): Double = {
    import scala.jdk.CollectionConverters._
    Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024)
      .getOrElse(sys.error("no VmHWM in /proc/self/status"))
  }

  /** A local[4] session through the library facade, with every scratch
    * directory inside the run's work directory. */
  def session(ctx: Ctx): SparkSession = {
    val s = graft.Graft.session("pipebench", Cores, Map(
      "spark.local.dir" -> ctx.work.resolve("spark-local").toString,
      "spark.sql.warehouse.dir" -> ctx.work.resolve("warehouse").toString,
      "spark.hadoop.hadoop.tmp.dir" -> ctx.work.resolve("hadoop-tmp").toString))
    s.sparkContext.setLogLevel("WARN")
    s
  }

  /** JVM, codegen and parquet reader/writer start-up, which would otherwise
    * land on whichever timed operation comes first (the repo's bench loop
    * warms its session the same way). Untimed. */
  private def warmUp(ctx: Ctx, s: SparkSession): Unit = {
    val w = ctx.work.resolve("warmup").toString
    s.range(1000).selectExpr("id", "id % 7 AS k").write.mode("overwrite").parquet(w)
    s.read.parquet(w).groupBy("k").count().write.mode("overwrite").format("noop").save()
  }

  def stop(spark: SparkSession): Unit = {
    spark.stop()
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
  }

  /** Set up `n` times, tearing down all but the last, and report the median
    * set-up time as `setup_s`. Set-up is what the workload does before its
    * first timed operation, making the inputs aside: the session and any
    * views or state-store configuration. The first set-up runs in a cold
    * JVM and is followed by an untimed warm-up; the median is therefore a
    * warm-JVM set-up. */
  def setup(ctx: Ctx, n: Int = 3)(prepare: SparkSession => Unit): SparkSession = {
    var last: Option[SparkSession] = None
    val times = (1 to n).map { i =>
      last.foreach(stop)
      val t0 = System.nanoTime()
      val s = ctx.spans("setup", s"setup$i") { val s = session(ctx); prepare(s); s }
      val t = (System.nanoTime() - t0) / 1e9
      if (i == 1) ctx.spans("warmup", "setup1")(warmUp(ctx, s))
      last = Some(s)
      t
    }
    ctx.report.put("setup_s", Stats.median(times), "s")
    log(s"set up ${times.map(t => f"$t%.2f").mkString(", ")} s")
    last.get
  }

  private val jvmStartMs = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime

  /** Progress line on stderr, stamped with seconds since JVM start. */
  def log(msg: String): Unit =
    System.err.println(f"[pipebench] +${(System.currentTimeMillis() - jvmStartMs) / 1e3}%.1fs $msg")

  /** Wall seconds of `body`. */
  def time[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val v = body
    (v, (System.nanoTime() - t0) / 1e9)
  }

  def p50(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else Stats.median(xs)
}
