package pipebench

import org.scalatest.funsuite.AnyFunSuite

class StatsSpec extends AnyFunSuite {

  test("tail is p95 when at least ten samples lie beyond it") {
    val xs = (1 to 400).map(_.toDouble)
    val (p, v) = Stats.tail(xs)
    assert(p == 0.95)
    assert(v == 380.0)
    assert(xs.count(_ > v) >= Stats.MinBeyond)
  }

  test("tail steps down so that exactly ten samples lie beyond it") {
    val xs = scala.util.Random.shuffle((1 to 60).map(_.toDouble))
    val (p, v) = Stats.tail(xs)
    assert(v == 50.0)
    assert(p == 50.0 / 60)
    assert(xs.count(_ > v) == Stats.MinBeyond)
  }

  test("tail at exactly 200 samples is p95 with ten beyond") {
    val (p, v) = Stats.tail((1 to 200).map(_.toDouble))
    assert(p == 0.95 && v == 190.0)
  }

  test("tail refuses samples too few to keep ten beyond a rank above the median") {
    intercept[IllegalArgumentException](Stats.tail((1 to 20).map(_.toDouble)))
    val (p, _) = Stats.tail((1 to 21).map(_.toDouble))
    assert(p > 0.5)
  }

  test("nearest-rank median") {
    assert(Stats.median(Seq(3.0, 1.0, 2.0)) == 2.0)
    assert(Stats.median(Seq(4.0, 1.0, 3.0, 2.0)) == 2.0)
  }

  // Three files of 3, 2 and 4 rows; the query read files {1}, {} (an empty
  // trigger), {2, 3} in three batches committed at 100, 150 and 230.
  private val batches = Seq(
    Stats.Batch(3, 100), Stats.Batch(0, 150), Stats.Batch(6, 230))

  test("cumulative input rows map each row to the batch that committed it") {
    assert(Stats.commitTimes(batches, 9).toSeq ==
      Seq(100, 100, 100, 230, 230, 230, 230, 230, 230))
  }

  test("an event's latency is its later commit minus its due time") {
    val fan = Stats.commitTimes(batches, 9)
    val det = Stats.commitTimes(Seq(Stats.Batch(5, 120), Stats.Batch(4, 210)), 9)
    val due = Array[Long](10, 10, 10, 60, 60, 90, 90, 90, 90)
    assert(Stats.latencies(due, Seq(fan, det)).toSeq ==
      Seq(110.0, 110.0, 110.0, 170.0, 170.0, 140.0, 140.0, 140.0, 140.0))
  }

  test("batches that read fewer or more rows than were written are refused") {
    intercept[IllegalArgumentException](Stats.commitTimes(batches, 10))
    intercept[IllegalArgumentException](Stats.commitTimes(batches, 8))
  }
}
