package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Library facade — the one-stop entry point for a user switching from the
  * reference pipeline.
  *
  * {{{
  * val spark = Graft.session()                  // tuned session
  * Graft.open(spark, "/data/sf")                // views + functions
  * spark.sql("SELECT * FROM events_v LIMIT 5")  // SQL surface
  * Graft.query("q_r1_pricing_summary")(spark, "/data/sf")  // named queries
  * }}}
  *
  * Three query surfaces, matching the reference's (SURVEY §3):
  *  1. the DataFrame operators under `graft.operators.*`,
  *  2. `spark.sql` over the views registered here (+ `vector_dot`),
  *  3. the streaming dataflow in `graft.streaming.StreamingJobs`.
  */
object Graft {

  /** Entries in Spark's generated-class cache, set by every session built
    * here. With Spark's default of 100 a class was evicted before its plan
    * ran again: a cold rep of the 273 queries compiles 6,368 classes and the
    * warm rep recompiled 5,949. 8,192 holds the whole cold rep.
    * A static conf, JVM-wide: `CodeGenerator` sizes its cache once, from the
    * session active at the first codegen, so the first session wins.
    * Cost: 13.5–16 KB of retained heap per cached class (+3.5 to +4.2 MB
    * measured for the benchmark's batch_mix, 259 classes) plus metaspace. */
  val CodegenCacheEntries = 8192

  /** The confs `session` sets: AQE on, UTC, shuffle parallelism = cores
    * (not the 200 default — at cluster scale set this to 2–3× total
    * executor cores instead), the codegen cache above, the fork-free local
    * filesystem (`LocalFs.scala`) for both Hadoop APIs, `extraConf` last so
    * a caller's override wins. `Smoke`'s bare session gets none of these,
    * the shim included, by intent: it checks a stock session. */
  private[graft] def conf(cores: Int,
      extraConf: Map[String, String] = Map.empty): Map[String, String] = Map(
    "spark.master" -> s"local[$cores]",
    "spark.sql.shuffle.partitions" -> cores.toString,
    "spark.sql.session.timeZone" -> "UTC",
    "spark.sql.adaptive.enabled" -> "true",
    "spark.sql.adaptive.coalescePartitions.enabled" -> "true",
    // Small-shuffle parallelism floor: AQE coalescing bottoms out at
    // minPartitionSize (default 1m), serializing byte-small but CPU-dense
    // stages (3× on q_x12's verify shuffle); ≫1 MB partitions are untouched.
    "spark.sql.adaptive.coalescePartitions.minPartitionSize" -> "64k",
    "spark.sql.codegen.cache.maxEntries" -> CodegenCacheEntries.toString,
    "spark.hadoop.fs.file.impl" -> classOf[NioLocalFileSystem].getName,
    "spark.hadoop.fs.AbstractFileSystem.file.impl" -> classOf[NioLocalFs].getName,
    "spark.ui.enabled" -> "false"
  ) ++ extraConf

  /** The one session factory: every main but Smoke, and the test suites,
    * build their session here, passing their differences as `extraConf`. */
  def session(appName: String = "graft", cores: Int =
      Runtime.getRuntime.availableProcessors.min(32),
      extraConf: Map[String, String] = Map.empty): SparkSession = {
    val b = SparkSession.builder().appName(appName)
    conf(cores, extraConf).foreach { case (k, v) => b.config(k, v) }
    b.getOrCreate()
  }

  /** What a main asks of `session`. A main exposes its `Setup` so a spec
    * can pin its confs without starting a second SparkContext. */
  final case class Setup(appName: String, cores: Int,
      extraConf: Map[String, String] = Map.empty) {
    def conf: Map[String, String] = Graft.conf(cores, extraConf)
    def session(): SparkSession = Graft.session(appName, cores, extraConf)
  }

  /** `SPARK_GRAFT_CPUS`, else the main's own default core count. */
  private[graft] def envCores(default: Int): Int =
    sys.env.get("SPARK_GRAFT_CPUS").fold(default)(_.toInt)

  /** FAIR: concurrent jobs (the 12-panel volley, Verify's query pool) share
    * cores instead of queueing FIFO. */
  private[graft] val Fair = Map("spark.scheduler.mode" -> "FAIR")

  /** Register the table views (`events_v`, `lineitem_v`, …), the
    * `vector_dot` codegen function, and the streaming state-store config —
    * after this the full SQL surface works on a bare session. */
  def open(spark: SparkSession, dir: String): Unit = {
    operators.SqlSurface.createViews(spark, dir)
    functions.VectorExpressions.ensureRegistered(spark)
    functions.HashExpressions.ensureRegistered(spark)
    streaming.StreamingJobs.configureStateStore(spark)
  }

  /** Named query lookup (driver-contract names, e.g. "q_a1_window_agg_5m"). */
  def query(name: String): (SparkSession, String) => DataFrame =
    SparkEntry.queries(name)

  /** All query names, sorted — the implemented-operator inventory. */
  def queryNames: Seq[String] = SparkEntry.queries.keys.toSeq.sorted
}
