package pipebench

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

class ResultHashSpec extends AnyFunSuite with BeforeAndAfterAll {

  private lazy val spark = SparkSession.builder().master("local[2]")
    .config("spark.ui.enabled", "false").getOrCreate()

  override def afterAll(): Unit = spark.stop()

  private val rows = Seq(
    (1L, "KRW-BTC", 101.5, Map("a" -> 1)),
    (2L, "KRW-ETH", 55.25, Map("b" -> 2)),
    (3L, "KRW-XRP", 0.5, Map.empty[String, Int]),
    (3L, "KRW-XRP", 0.5, Map.empty[String, Int]))

  private def hash(rs: Seq[(Long, String, Double, Map[String, Int])], parts: Int) = {
    import spark.implicits._
    ResultHash.of(rs.toDF("id", "market", "price", "tags").repartition(parts))
  }

  test("a permuted result gives the same hash") {
    assert(hash(rows, 1) == hash(rows.reverse, 3))
  }

  test("one changed cell gives a different hash") {
    val changed = rows.updated(1, rows(1).copy(_3 = 55.26))
    assert(hash(rows, 1) != hash(changed, 1))
  }

  test("a dropped duplicate row gives a different hash") {
    assert(hash(rows, 1) != hash(rows.dropRight(1), 1))
  }

  test("the hash does not depend on column order") {
    import spark.implicits._
    val df = rows.toDF("id", "market", "price", "tags")
    assert(ResultHash.of(df) == ResultHash.of(df.select("tags", "price", "market", "id")))
  }
}
