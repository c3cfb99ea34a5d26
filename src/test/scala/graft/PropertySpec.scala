package graft

import graft.operators.{Dedup, TradeAggregates}
import org.apache.spark.sql.functions._
import org.scalacheck.{Gen, Prop, Test => SCTest}

/** Property-based checks (SURVEY §5 item 4): window aggregate ≡ brute
  * force, dedup idempotence, simhash behavior — over generated inputs. */
class PropertySpec extends SparkSpec {
  import spark.implicits._

  private def check(prop: Prop, n: Int = 10): Unit = {
    val r = SCTest.check(
      SCTest.Parameters.default.withMinSuccessfulTests(n), prop)
    assert(r.passed, r.status.toString)
  }

  private val genEvent = for {
    ts <- Gen.choose(0L, 6L * 3600 * 1000) // 6 hours of millis
    uid <- Gen.choose(0L, 4L)
    typ <- Gen.oneOf("purchase", "view", "click")
    cents <- Gen.choose(1L, 20000L)
    k <- Gen.choose(0L, 100L)
  } yield (ts, uid, typ, cents / 100.0, k)

  test("window aggregate equals in-memory brute force on random events") {
    val prop = Prop.forAll(Gen.listOfN(200, genEvent)) { evs =>
      evs.isEmpty || {
        val df = evs.toDF("ts_ms", "user_id", "event_type", "value", "k")
          .withColumn("ts", timestamp_millis(col("ts_ms")))
        val got = TradeAggregates.windowAggOn(df)
          .select("user_id", "trade_count", "bid_count", "total_volume",
            "min_price", "max_price", "total_amount")
          .collect()
          .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
            r.getDouble(4), r.getDouble(5), r.getDouble(6)))
          .sorted
        val expected = evs
          // floorDiv: Spark windows floor toward -inf (shrunk inputs can
          // produce negative timestamps outside the generator's range)
          .groupBy(e => (Math.floorDiv(e._1, 300000L), e._2))
          .map { case ((_, uid), es) =>
            val amount = es.map(e => BigDecimal(e._4 * e._5)
              .setScale(6, BigDecimal.RoundingMode.HALF_UP)).sum.toDouble
            (uid, es.size.toLong,
              es.count(_._3 == "purchase").toLong,
              es.map(_._5).sum,
              es.map(_._4).min, es.map(_._4).max, amount)
          }.toSeq.sorted
        got.toSeq == expected
      }
    }
    check(prop)
  }

  test("dedup is idempotent and keeps the minimum id per content hash") {
    val genDoc = for {
      id <- Gen.choose(0L, 1000L)
      text <- Gen.oneOf("alpha beta gamma", "delta epsilon", "zeta eta theta",
        "iota kappa", "lambda mu nu")
    } yield (id, text)
    val prop = Prop.forAll(Gen.listOfN(60, genDoc)) { docs0 =>
      val docs = docs0.distinctBy(_._1)
      docs.isEmpty || {
        val df = docs.toDF("doc_id", "text")
        val once = df.groupBy(md5(col("text")).as("h"))
          .agg(min(col("doc_id")).as("kept"))
        val kept = once.select("kept").as[Long].collect().toSet
        val expected = docs.groupBy(_._2).values.map(_.map(_._1).min).toSet
        // idempotence: deduping the deduped set changes nothing
        val again = df.filter(col("doc_id").isin(kept.toSeq: _*))
          .groupBy(md5(col("text")).as("h"))
          .agg(min(col("doc_id")).as("kept"))
          .select("kept").as[Long].collect().toSet
        kept == expected && again == kept
      }
    }
    check(prop, n = 8)
  }

  test("as-of union-window core equals brute-force nested loop") {
    import org.apache.spark.sql.expressions.Window
    val genEv = for {
      uid <- Gen.choose(0L, 3L)
      ms <- Gen.choose(0L, 50L) // tight range → plenty of ts collisions
      isSignup <- Gen.oneOf(true, false)
    } yield (uid, ms, isSignup)
    val prop = Prop.forAll(Gen.listOfN(80, genEv)) { evs0 =>
      val evs = evs0.zipWithIndex.map { case ((u, m, s), i) =>
        (u, i.toLong, m, s) } // unique event ids
      val signupRows = evs.filter(_._4)
      val purchaseRows = evs.filterNot(_._4)
      purchaseRows.isEmpty || signupRows.isEmpty || {
        // brute force: latest strictly-prior signup; ties on ms → max id
        val expected = purchaseRows.flatMap { case (u, id, ms, _) =>
          val prior = signupRows.filter(s => s._1 == u && s._3 < ms)
          if (prior.isEmpty) None
          else {
            val best = prior.maxBy(s => (s._3, s._2))
            Some(id -> best._2)
          }
        }.toMap
        // distributed union-window core (mirrors Relational.asofJoin)
        val df = evs.toDF("user_id", "event_id", "ms", "is_signup")
        val signups = df.filter(col("is_signup"))
          .groupBy(col("user_id"), col("ms"))
          .agg(max(col("event_id")).as("signup_id"))
          .select(col("user_id"), col("ms"), col("signup_id"),
            lit(1).as("is_right"), lit(null).cast("long").as("event_id"))
        val purchases = df.filter(!col("is_signup"))
          .select(col("user_id"), col("ms"),
            lit(null).cast("long").as("signup_id"), lit(0).as("is_right"),
            col("event_id"))
        val w = Window.partitionBy(col("user_id"))
          .orderBy(col("ms"), col("is_right"), col("event_id"))
          .rowsBetween(Window.unboundedPreceding, -1)
        val got = signups.union(purchases)
          .withColumn("prior", last(col("signup_id"), ignoreNulls = true).over(w))
          .filter(col("is_right") === 0 && col("prior").isNotNull)
          .select(col("event_id"), col("prior"))
          .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
        got == expected
      }
    }
    check(prop, n = 8)
  }

  test("fuzz: fast parse == declarative parse on randomized envelopes") {
    import graft.operators.CdcParser
    import org.apache.spark.sql.functions.col
    // random envelope text: optional wrapper, random field subsets, random
    // scalar shapes (quoted/unquoted/garbage), op sometimes missing,
    // sometimes truncated JSON
    val genField: Gen[String] = Gen.oneOf(
      Gen.choose(0L, 99L).map(v => s""""trade_id": $v"""),
      Gen.alphaStr.map(s => s""""market": "${s.take(8)}""""),
      Gen.oneOf(
        Gen.choose(0, 99999).map(v => s""""trade_price": "$v.25""""),
        Gen.choose(0, 99).map(v => s""""trade_price": $v.5"""),
        Gen.const(""""trade_price": "oops""""),
        Gen.const(""""trade_price": null""")),
      Gen.choose(0L, 9L).map(v => s""""sequential_id": $v"""),
      Gen.const(""""unknown_extra": {"nested": [1, 2, {"x": "y"}]}"""))
    val genImage: Gen[String] = Gen.oneOf(
      Gen.const("null"),
      Gen.listOf(genField).map(fs => "{" + fs.distinct.mkString(", ") + "}"))
    val genEnvelope: Gen[String] = for {
      before <- genImage
      after <- genImage
      hasOp <- Gen.oneOf(true, true, false)
      op <- Gen.oneOf("c", "u", "d", "r")
      ts <- Gen.choose(0L, 1000L)
      srcTs <- Gen.choose(0L, 1000L)
      wrapped <- Gen.oneOf(true, false)
      truncate <- Gen.oneOf(false, false, false, true)
    } yield {
      val opPart = if (hasOp) s""", "op": "$op"""" else ""
      val body = s"""{"before": $before, "after": $after$opPart, """ +
        s""""ts_ms": $ts, "source": {"ts_ms": $srcTs, "db": "x"}}"""
      val j = if (wrapped) s"""{"payload": $body}""" else body
      if (truncate) j.dropRight(j.length / 3) else j
    }
    val prop = Prop.forAll(Gen.listOfN(60, genEnvelope)) { jsons =>
      jsons.isEmpty || {
        val df = jsons.toDF("json")
        val slow = CdcParser.parseEnvelope(df, col("json"))
          .collect().map(_.toSeq)
        val fast = CdcParser.parse(df, col("json"))
          .collect().map(_.toSeq)
        slow.sortBy(_.toString()).toSeq == fast.sortBy(_.toString()).toSeq
      }
    }
    check(prop, n = 8)
  }

  test("denseRank: dense 1..m, order-preserving, ties share a rank") {
    val genKeys = Gen.listOfN(300, Gen.choose(-50L, 50L))
    val prop = Prop.forAll(genKeys) { keys =>
      val kv = spark.sparkContext
        .parallelize(keys.zipWithIndex.map { case (k, i) => (k, i.toLong) }, 7)
      val (ranked, m) = Dedup.denseRank(kv)
      val got = ranked.collect().toMap // pos -> rank
      val expect = {
        val order = keys.distinct.sorted.zipWithIndex
          .map { case (k, i) => k -> (i + 1L) }.toMap
        keys.zipWithIndex.map { case (k, i) => i.toLong -> order(k) }.toMap
      }
      m == keys.distinct.size && got == expect
    }
    check(prop, n = 10)
  }

  test("simhash: identical text → distance 0; distance is symmetric") {
    val genText = Gen.listOfN(12,
      Gen.oneOf("spark", "flink", "query", "table", "scan", "merge", "row"))
      .map(_.mkString(" "))
    val prop = Prop.forAll(genText, genText) { (a, b) =>
      val sigs = Dedup.simhashOn(
        Seq((1L, a), (2L, a), (3L, b)).toDF("doc_id", "text"))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      def d(x: Long, y: Long) = java.lang.Long.bitCount(x ^ y)
      d(sigs(1L), sigs(2L)) == 0 && d(sigs(1L), sigs(3L)) == d(sigs(3L), sigs(1L))
    }
    check(prop, n = 8)
  }

  test("waterfill allocation laws hold on random avail vectors: exact " +
    "spend, per-source cap, max-min fairness") {
    val genAvail = Gen.listOfN(8, Gen.choose(1L, 2000L))
    val prop = Prop.forAll(genAvail) { avails =>
      val avail = avails.zipWithIndex
        .map { case (a, i) => (f"s$i%02d", a) }
        .toDF("source", "avail")
      val rows = graft.operators.Curation.waterfillFromAvail(avail)
        .collect()
        .map(r => (r.getString(0), r.getAs[Long]("avail"),
          r.getAs[Long]("budget"), r.getAs[Long]("allocation"),
          r.getAs[Boolean]("capped")))
      val total = avails.sum
      val budget = total * 9 / 10
      val spend = rows.map(_._4).sum == math.min(budget, total)
      val cap = rows.forall { case (_, a, _, alloc, _) => alloc <= a }
      // max-min fairness: every capped source's allocation is >= any
      // uncapped (full) source's avail minus 1 (the remainder step), and
      // capped allocations differ by at most 1
      val cappedAlloc = rows.filter(_._5).map(_._4)
      val fullAvail = rows.filterNot(_._5).map(_._2)
      val fair = cappedAlloc.isEmpty ||
        ((cappedAlloc.max - cappedAlloc.min) <= 1 &&
          fullAvail.forall(a => a <= cappedAlloc.max))
      spend && cap && fair
    }
    check(prop, n = 10)
  }

  test("packSized greedy fold laws on random doc sizes: offsets fit " +
    "capacity, example ids are dense per shard, offsets reconstruct") {
    val cap = 100L
    val genDocs = Gen.listOfN(40,
      Gen.zip(Gen.choose(0L, 200L), Gen.choose(1L, 60L)))
    val prop = Prop.forAll(genDocs) { raw =>
      val docs = raw.map(_._1).distinct.sorted
        .zip(raw.map(_._2)).map { case (id, n) => (id, id / 4, n) }
      docs.isEmpty || {
        val got = graft.operators.Curation
          .packSized(docs.toDS(), cap).collect()
          .map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
            r.getLong(3), r.getLong(4)))
          .sortBy(_._1)
        got.length == docs.length &&
        got.forall { case (_, _, _, off, n) => n > cap || off + n <= cap } &&
        got.groupBy(_._2).forall { case (_, g) =>
          val exIds = g.sortBy(_._1).map(_._3)
          // dense, non-decreasing example ids starting at 0
          exIds.head == 0L &&
          exIds.zip(exIds.tail).forall { case (a, b) =>
            b == a || b == a + 1 }
        }
      }
    }
    check(prop, n = 10)
  }
}
