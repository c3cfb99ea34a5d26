package graft

/** Plan audit: print `explain(formatted)` for selected queries (all by
  * default) — used to check filter pushdown (PushedFilters), column pruning
  * (ReadSchema), broadcast vs shuffle joins, and WholeStageCodegen spans.
  *
  * Usage: runMain graft.Explain [sfDir] [queryName...]
  */
object Explain {
  private[graft] def setup: Graft.Setup = Graft.Setup("graft-explain", 4)

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val names = if (args.length > 1) args.drop(1).toSeq
      else SparkEntry.queries.keys.toSeq.sorted
    val spark = setup.session()
    spark.sparkContext.setLogLevel("ERROR")
    names.foreach { n =>
      println(s"\n========== $n ==========")
      try SparkEntry.queries(n)(spark, sfDir).explain("formatted")
      catch { case e: Throwable => println(s"failed: ${e.getMessage}") }
    }
    spark.stop()
  }
}
