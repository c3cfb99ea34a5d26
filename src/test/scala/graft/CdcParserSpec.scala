package graft

import graft.operators.CdcParser
import org.apache.spark.sql.functions.col

/** P1/P2 envelope-parse edge cases (FIXTURES.md §A1; reference behavior
  * `CdcEventParser.java:42-115`). */
class CdcParserSpec extends SparkSpec {
  import spark.implicits._

  /** Every fixture runs BOTH parse paths and asserts bit-identical output
    * (the Jackson kernel is semantically pinned to the from_json
    * formulation). */
  private def parse(jsons: String*) = {
    val df = jsons.toDF("json")
    val slow = CdcParser.parseEnvelope(df, col("json")).collect()
    val fast = CdcParser.parse(df, col("json")).collect()
    assert(fast.map(_.toSeq).toSeq == slow.map(_.toSeq).toSeq,
      "fast/declarative parser divergence")
    slow
  }

  private val fullInsert =
    """{"payload": {"before": null, "after": {"trade_id": 1, "market": "KRW-BTC",
      |"trade_price": "97000000.00000000", "trade_volume": "0.001",
      |"trade_amount": "97000.0", "ask_bid": "BID",
      |"upbit_timestamp": 1770955800000, "sequential_id": 17709558000000001},
      |"source": {"ts_ms": 1770955828100, "db": "crypto_db", "table": "crypto_trades"},
      |"op": "c", "ts_ms": 1770955828123}}""".stripMargin.replace("\n", "")

  test("insert with payload wrapper parses fully") {
    val r = parse(fullInsert)
    assert(r.length == 1)
    val row = r.head
    assert(row.getAs[String]("op") == "c")
    assert(row.getAs[Long]("trade_id") == 1L)
    assert(row.getAs[String]("market") == "KRW-BTC")
    assert(row.getAs[Double]("trade_price") == 9.7e7)
    assert(row.getAs[Double]("trade_volume") == 0.001)
    assert(row.getAs[String]("ask_bid") == "BID")
    assert(row.getAs[Long]("cdc_latency_ms") == 23L)
  }

  test("delete takes the before image (CdcEventParser.java:57-62)") {
    val del =
      """{"payload": {"before": {"trade_id": 7, "market": "KRW-ETH",
        |"trade_price": "5.5"}, "after": null,
        |"source": {"ts_ms": 10}, "op": "d", "ts_ms": 15}}"""
        .stripMargin.replace("\n", "")
    val r = parse(del)
    assert(r.length == 1)
    assert(r.head.getAs[Long]("trade_id") == 7L)
    assert(r.head.getAs[Double]("trade_price") == 5.5)
  }

  test("tombstone / missing op emits 0 rows (:53-54)") {
    assert(parse("""{"payload": {"before": null, "after": null}}""").isEmpty)
    assert(parse("""{"payload": {"after": {"trade_id": 1}}}""").isEmpty)
  }

  test("malformed JSON emits 0 rows, no failure (:94-96)") {
    assert(parse("""{"oops""", "", "not json at all").isEmpty)
  }

  test("missing payload wrapper: fields at root accepted (:48-51)") {
    val root =
      """{"before": null, "after": {"trade_id": 3, "market": "KRW-XRP"},
        |"source": {"ts_ms": 1}, "op": "u", "ts_ms": 4}"""
        .stripMargin.replace("\n", "")
    val r = parse(root)
    assert(r.length == 1)
    assert(r.head.getAs[String]("op") == "u")
    assert(r.head.getAs[Long]("cdc_latency_ms") == 3L)
  }

  test("missing fields default to 0 / UNKNOWN (:76-86)") {
    val sparse =
      """{"payload": {"after": {"trade_id": 9}, "op": "c"}}"""
    val r = parse(sparse)
    assert(r.length == 1)
    val row = r.head
    assert(row.getAs[String]("market") == "UNKNOWN")
    assert(row.getAs[String]("ask_bid") == "UNKNOWN")
    assert(row.getAs[Double]("trade_price") == 0.0)
    assert(row.getAs[Long]("upbit_timestamp") == 0L)
    assert(row.getAs[Long]("source_ts") == 0L)
  }

  test("non-numeric decimal string parses to 0.0 (:104-115)") {
    val bad =
      """{"payload": {"after": {"trade_id": 2, "trade_price": "garbage"},
        |"op": "c", "ts_ms": 1}}""".stripMargin.replace("\n", "")
    val r = parse(bad)
    assert(r.length == 1)
    assert(r.head.getAs[Double]("trade_price") == 0.0)
  }

  test("numeric (unquoted) decimal fields also accepted") {
    val numeric =
      """{"payload": {"after": {"trade_id": 2, "trade_price": 123.25},
        |"op": "c", "ts_ms": 1}}""".stripMargin.replace("\n", "")
    val r = parse(numeric)
    assert(r.length == 1)
    assert(r.head.getAs[Double]("trade_price") == 123.25)
  }

  test("synthetic generator roundtrips through the parser") {
    val ts = Synthetic.trades(50)
    val jsons = ts.map(t => Synthetic.envelopeJson(t)) ++
      ts.take(10).map(t => Synthetic.envelopeJson(t, op = "d", wrapped = false))
    val r = parse(jsons: _*)
    assert(r.length == 60)
    assert(r.count(_.getAs[String]("op") == "d") == 10)
  }

  test("kernel tryCastDouble == Spark try_cast(STRING AS DOUBLE) on edges") {
    val cases = Seq("3.14", " 3.14 ", "-0.5", "+.5", ".5", "5.", "1e5",
      "1E-3", "+1e+3", "garbage", "", " ", "1d", "1f", "0x10", "NaN",
      "Infinity", "1.2.3", "e5", ".", "-", "--1", "1e", "1e+", "123",
      "00042", "9e999")
    val sparkSide = cases.toDF("s")
      .selectExpr("coalesce(try_cast(s AS DOUBLE), 0.0d) AS d")
      .collect().map(_.getDouble(0))
    val kernelSide = cases.map { s =>
      val j = s"""{"payload": {"after": {"trade_id": 1, "trade_price": ${
        com.fasterxml.jackson.databind.json.JsonMapper.builder().build()
          .writeValueAsString(s)}}, "op": "c", "ts_ms": 1}}"""
      CdcParser.parse(Seq(j).toDF("json"), col("json"))
        .collect().head.getAs[Double]("trade_price")
    }
    cases.lazyZip(sparkSide).lazyZip(kernelSide).foreach { (c, sp, k) =>
      assert(sp == k || (sp.isNaN && k.isNaN), s"case '$c': spark=$sp kernel=$k")
    }
  }

  test("fast path == declarative path on the full roundtrip corpus") {
    // both parsers run on the envelopes themselves, not through the
    // cdc_parsed artifact, whose second read would be a memo hit
    val env = CdcParser.eventsAsEnvelopeJson(spark, sf())
    val slowDf = CdcParser.parseEnvelope(env, col("json")).collect()
    val fastDf = CdcParser.parse(env, col("json")).collect()
    assert(fastDf.nonEmpty)
    assert(fastDf.length == slowDf.length)
    assert(fastDf.map(_.toSeq).sortBy(_.toString()).toSeq ==
      slowDf.map(_.toSeq).sortBy(_.toString()).toSeq)
  }
}
