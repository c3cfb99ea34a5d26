package graft

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.functions.col

/** `Graft.session` is the one session factory: it sizes the codegen cache
  * for the suite's working set, routes local `file:` I/O through the
  * fork-free `graft.LocalFs`, and every main keeps the confs it set on its
  * own builder before they were folded into it. `Smoke` is not among the
  * mains below: it builds a bare session on purpose (a stock session, as
  * the driver's t1 check runs), so it gets neither the cache size nor the
  * local filesystem shim. */
class SessionSpec extends SparkSpec {

  private def compiles: Long = CodegenMetrics.METRIC_COMPILATION_TIME.getCount

  test("a plan that already ran is not recompiled after 250 other plans") {
    // each literal is inlined into its plan's generated class, so every i
    // is a distinct cache entry — 2.5× Spark's default 100-entry cache
    def run(i: Int): Unit =
      spark.range(16).select((col("id") * (1000 + i)).as("v")).collect()
    run(0)
    val before = compiles
    (1 to 250).foreach(run)
    assert(compiles - before >= 250, "each plan compiles its own class")
    val again = compiles
    run(0)
    assert(compiles == again,
      "plan 0's class was evicted: the codegen cache is too small")
  }

  private val LocalFsImpls = Map(
    "spark.hadoop.fs.file.impl" -> "graft.NioLocalFileSystem",
    "spark.hadoop.fs.AbstractFileSystem.file.impl" -> "graft.NioLocalFs")

  test("the test session is built by Graft.session and keeps its own confs") {
    assert(spark.conf.get("spark.sql.codegen.cache.maxEntries") ==
      Graft.CodegenCacheEntries.toString)
    LocalFsImpls.foreach { case (k, v) => assert(spark.conf.get(k) == v, k) }
    assert(spark.conf.get("spark.sql.shuffle.partitions") == "4")
    assert(spark.conf.get(
      "spark.sql.adaptive.coalescePartitions.minPartitionSize") == "1m")
    assert(spark.sparkContext.master == "local[4]")
  }

  test("every main keeps the cores and confs it set before the fold") {
    def envOr(default: Int) = sys.env.get("SPARK_GRAFT_CPUS").fold(default)(_.toInt)
    val nproc = math.min(Runtime.getRuntime.availableProcessors, 32)
    val mains = Seq(
      // (setup, default cores, FAIR scheduler)
      (Bench.setup, envOr(4), true),
      (Verify.setup, envOr(nproc), true),
      (Prof.setup, envOr(32), true),
      (Stress.setup, envOr(32), false),
      (ScaleGen.setup, envOr(16), false),
      (Explain.setup, 4, false),
      (StreamDemo.setup, 4, false))
    mains.foreach { case (setup, cores, fair) =>
      val c = setup.conf
      val name = setup.appName
      assert(setup.cores == cores, name)
      assert(c("spark.master") == s"local[$cores]", name)
      assert(c("spark.sql.shuffle.partitions") == cores.toString, name)
      assert(c("spark.sql.session.timeZone") == "UTC", name)
      assert(c("spark.ui.enabled") == "false", name)
      assert(c("spark.sql.adaptive.enabled") == "true", name)
      assert(c("spark.sql.adaptive.coalescePartitions.minPartitionSize") ==
        "64k", name)
      assert(c("spark.sql.codegen.cache.maxEntries") ==
        Graft.CodegenCacheEntries.toString, name)
      LocalFsImpls.foreach { case (k, v) => assert(c(k) == v, s"$name $k") }
      assert(c.get("spark.scheduler.mode") == (if (fair) Some("FAIR") else None),
        name)
    }
    assert(mains.map(_._1.appName).distinct.size == mains.size)
  }

  test("extraConf overrides the factory's defaults") {
    val c = Graft.conf(2, Map("spark.sql.shuffle.partitions" -> "7",
      "spark.sql.codegen.cache.maxEntries" -> "10"))
    assert(c("spark.master") == "local[2]")
    assert(c("spark.sql.shuffle.partitions") == "7")
    assert(c("spark.sql.codegen.cache.maxEntries") == "10")
  }
}
