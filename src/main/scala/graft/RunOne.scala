package graft

/** Run a single SparkEntry query by name: rows, elapsed, optional plan.
  * Usage: runMain graft.RunOne <query_name> [sfDir] [explain]. */
object RunOne {
  private[graft] def setup: Graft.Setup =
    Graft.Setup("graft-runone", Graft.envCores(4))

  def main(args: Array[String]): Unit = {
    val name = args(0)
    val sfDir = args.lift(1).getOrElse("/root/testdata/sf0.01")
    val spark = setup.session()
    spark.sparkContext.setLogLevel("WARN")
    val t0 = System.nanoTime()
    val df = SparkEntry.queries(name)(spark, sfDir)
    if (args.contains("explain")) df.explain("formatted")
    val n = df.count()
    println(f"RUNONE $name rows=$n elapsed=${(System.nanoTime() - t0) / 1e9}%.2fs")
    df.show(10, truncate = false)
    spark.stop()
  }
}
