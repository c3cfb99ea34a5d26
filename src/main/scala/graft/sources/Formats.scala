package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.G

/** Interchange-format round-trips (q_src_roundtrip): write `orders`
  * out as CSV, JSON and ORC, read each back, and aggregate — the result
  * must hash-match the same aggregate computed by DuckDB straight off
  * the parquet. Identical rows for all three formats IS the fidelity
  * proof: any type loss through a codec (double formatting, timestamp
  * precision, header/schema drift) breaks the hash for that format's
  * row. `orders` is the widest-typed table (bigint, varchar, double,
  * timestamp), so it exercises every scalar shape the engine stores.
  *
  * Scale shape: each leg is a plain distributed write then a scan-agg —
  * no shuffle beyond the single-row final aggregate, and the text
  * formats read back with an EXPLICIT schema (schema inference would be
  * a second full scan at 100 TB, and CSV inference demotes timestamps
  * to string; reference semantics are schema-on-write like its sink DDL,
  * reference `schema.sql` / ClickHouse table defs).
  *
  * CSV and JSON get a micro-precision timestamp format on BOTH write
  * and read: Spark's default CSV/JSON timestamp pattern truncates to
  * millis, which would silently round parquet's micros — exactly the
  * class of defect this query exists to catch. Avro is absent by
  * container constraint (no spark-avro connector jar), documented here
  * rather than stubbed.
  */
object Formats {

  private val TsFmt = "yyyy-MM-dd HH:mm:ss.SSSSSS"

  def roundTrip(spark: SparkSession, dir: String): DataFrame = {
    val orders = G.table(spark, dir, "orders")
    val schema = orders.schema
    val tmp = graft.Scratch.dir("graft_fmt")

    orders.write.mode("overwrite")
      .option("header", "true").option("timestampFormat", TsFmt)
      .csv(s"$tmp/csv")
    orders.write.mode("overwrite")
      .option("timestampFormat", TsFmt)
      .json(s"$tmp/json")
    orders.write.mode("overwrite").orc(s"$tmp/orc")

    val csv = spark.read.schema(schema)
      .option("header", "true").option("timestampFormat", TsFmt)
      .csv(s"$tmp/csv")
    val json = spark.read.schema(schema)
      .option("timestampFormat", TsFmt)
      .json(s"$tmp/json")
    val orc = spark.read.orc(s"$tmp/orc")

    def fingerprint(df: DataFrame, fmt: String): DataFrame =
      df.agg(
        count(lit(1)).as("n_rows"),
        sum(col("o_orderkey")).as("sum_key"),
        G.dsum(col("o_totalprice")).as("sum_price"),
        countDistinct(col("o_orderstatus")).as("n_status"),
        min(col("o_orderdate")).as("min_date"),
        max(col("o_orderdate")).as("max_date"),
        min(col("o_orderpriority")).as("min_prio"))
        .select(lit(fmt).as("fmt"), col("*"))

    fingerprint(csv, "csv")
      .unionByName(fingerprint(json, "json"))
      .unionByName(fingerprint(orc, "orc"))
      .orderBy("fmt")
  }

  /** One aggregate off the parquet, replicated per format name — equal
    * rows assert each codec round-tripped losslessly. */
  val roundTripSql: String =
    """WITH a AS (
      |  SELECT count(*) AS n_rows,
      |         CAST(sum(o_orderkey) AS BIGINT) AS sum_key,
      |         CAST(CAST(SUM(CAST(o_totalprice AS DECIMAL(38,6))) AS VARCHAR) AS DOUBLE) AS sum_price,
      |         count(DISTINCT o_orderstatus) AS n_status,
      |         min(o_orderdate) AS min_date,
      |         max(o_orderdate) AS max_date,
      |         min(o_orderpriority) AS min_prio
      |  FROM orders)
      |SELECT f.fmt, a.*
      |FROM a CROSS JOIN (VALUES ('csv'), ('json'), ('orc')) AS f(fmt)
      |ORDER BY f.fmt""".stripMargin
}
