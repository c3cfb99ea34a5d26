package pipebench

import org.apache.spark.sql.{Column, DataFrame, Observation}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.MapType

/** Order-insensitive hash of a query result, collected as observed metrics
  * of the same execution that the timed noop write runs, so checking a
  * result costs no second execution.
  *
  * Each row hashes to 64 bits (xxhash64 over every column, in name order;
  * map columns go through to_json because Spark does not hash maps). The
  * result hash sums the high and the low 32-bit halves separately, which
  * cannot overflow a long below 2^31 rows, and keeps the row count. Sums do
  * not depend on row order and, unlike XOR, do not cancel duplicate rows. */
object ResultHash {

  def observe(df: DataFrame, name: String): (DataFrame, Observation) = {
    val cols = df.schema.fields.sortBy(_.name).map { f =>
      val c = col(s"`${f.name}`")
      f.dataType match {
        case _: MapType => to_json(c)
        case _ => c
      }
    }
    val h: Column = xxhash64(cols.toIndexedSeq: _*)
    val obs = Observation(name)
    val out = df.observe(obs,
      count(lit(1)).as("n"),
      coalesce(sum(shiftrightunsigned(h, 32)), lit(0L)).as("hi"),
      coalesce(sum(h.bitwiseAND(lit(0xffffffffL))), lit(0L)).as("lo"))
    (out, obs)
  }

  /** "n:hi:lo" once the observed execution has finished. */
  def value(obs: Observation): String = {
    val m = obs.get
    s"${m("n")}:${m("hi")}:${m("lo")}"
  }

  /** Hash of a frame, running it through a noop write. */
  def of(df: DataFrame): String = {
    val (o, obs) = observe(df, s"h${System.nanoTime()}")
    o.write.mode("overwrite").format("noop").save()
    value(obs)
  }
}
