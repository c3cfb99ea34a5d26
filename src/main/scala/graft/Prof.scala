package graft

import org.apache.spark.sql.streaming.StreamingQueryListener

/** Optimization-round profiling harness (guide §1): run one named query
  * N times in a Bench-identical session, split wall time into "build"
  * (the `queries(name)` call — for streaming replays this RUNS the whole
  * stream; for batch queries it is plan construction plus any memoized
  * eager builds) and "exec" (the noop-sink write, §1.4), and dump every
  * micro-batch's StreamingQueryProgress durationMs so replay overhead is
  * attributable (triggerExecution vs addBatch vs walCommit vs
  * stateStoreCommit...).
  *
  * Usage: runMain graft.Prof <query> [sfDir] [reps]
  */
object Prof {
  private[graft] def setup: Graft.Setup =
    Graft.Setup("graft-prof", Graft.envCores(32), Graft.Fair)

  def main(args: Array[String]): Unit = {
    // same measurement-honesty contract as Bench/Verify (ADVICE r11):
    // a durable artifact root would let rep-1 "build" timings silently
    // read indexes published by earlier invocations
    ArtifactStore.freshRootForThisInvocation()
    val names = args(0).split(",").toSeq
    val sfDir = args.lift(1).getOrElse("/root/testdata/sf0.1")
    val reps = args.lift(2).map(_.toInt).getOrElse(3)
    val spark = setup.session()
    spark.sparkContext.setLogLevel("WARN")
    if (sys.env.contains("PROF_JOBS"))
      spark.sparkContext.addSparkListener(
        new org.apache.spark.scheduler.SparkListener {
          // boxed key/value types: with [Int, Long] a remove() miss
          // unboxes null to 0L and the null guard is vacuously true
          // (ADVICE r11) — an unmatched JobEnd must be skipped, not
          // printed as a multi-hour duration
          private val t0 = new java.util.concurrent.ConcurrentHashMap[
            Integer, java.lang.Long]()
          override def onJobStart(
              e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
            t0.put(e.jobId, System.nanoTime())
          override def onJobEnd(
              e: org.apache.spark.scheduler.SparkListenerJobEnd): Unit = {
            val s = t0.remove(Integer.valueOf(e.jobId))
            if (s != null)
              println(f"JOB ${e.jobId}%4d ${(System.nanoTime() - s) / 1e6}%8.1f ms")
          }
          override def onStageCompleted(
              e: org.apache.spark.scheduler.SparkListenerStageCompleted)
              : Unit = {
            val si = e.stageInfo
            val ms = for {
              a <- si.completionTime; b <- si.submissionTime
            } yield a - b
            println(f"STAGE ${si.stageId}%4d ${ms.getOrElse(-1L)}%7d ms " +
              f"tasks=${si.numTasks}%3d ${si.name.takeWhile(_ != '(').trim}%s")
          }
        })
    spark.streams.addListener(new StreamingQueryListener {
      override def onQueryStarted(
          e: StreamingQueryListener.QueryStartedEvent): Unit = ()
      override def onQueryTerminated(
          e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
      override def onQueryProgress(
          e: StreamingQueryListener.QueryProgressEvent): Unit = {
        val p = e.progress
        println(s"PROGRESS batch=${p.batchId} rows=${p.numInputRows} " +
          s"durationMs=${p.durationMs}")
      }
    })
    // same warm-up as Bench
    spark.range(1000).selectExpr("sum(id)").write
      .mode("overwrite").format("noop").save()
    spark.read.parquet(s"$sfDir/region.parquet").count()
    // Within-JVM A/B (PROF_AB="conf.key=valueA|valueB"): warm the query
    // once, then alternate the conf between timed reps — box-load drift
    // hits both arms equally, unlike separate JVM runs (measured ±30%
    // cross-run noise on this box).
    val ab = sys.env.get("PROF_AB").map { s =>
      val Array(k, vs) = s.split("=", 2); (k, vs.split("\\|"))
    }
    names.foreach { name =>
      ab.foreach { case (_, _) => // warm-up rep outside the A/B pairs
        SparkEntry.queries(name)(spark, sfDir)
          .write.mode("overwrite").format("noop").save()
        spark.catalog.clearCache()
      }
      (1 to reps).foreach { i =>
        ab.foreach { case (k, vs) =>
          val v = vs((i - 1) % vs.length)
          spark.conf.set(k, v)
          println(s"PROF_AB $k=$v")
        }
        val t0 = System.nanoTime()
        val df = SparkEntry.queries(name)(spark, sfDir)
        val t1 = System.nanoTime()
        df.write.mode("overwrite").format("noop").save()
        val t2 = System.nanoTime()
        spark.catalog.clearCache()
        println(f"PROF $name rep=$i build=${(t1 - t0) / 1e9}%.3fs " +
          f"exec=${(t2 - t1) / 1e9}%.3fs total=${(t2 - t0) / 1e9}%.3fs")
      }
    }
    spark.stop()
  }
}
