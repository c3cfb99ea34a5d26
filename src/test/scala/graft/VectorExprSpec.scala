package graft

import graft.functions.VectorExpressions
import org.apache.spark.sql.functions._

/** VectorDot: interpreted eval == codegen result == SQL-registered call. */
class VectorExprSpec extends SparkSpec {
  import spark.implicits._

  test("vector_dot matches the higher-order fold and works from SQL") {
    VectorExpressions.ensureRegistered(spark)
    val df = Seq(
      (1L, Seq(1.0, 2.0, 3.0), Seq(4.0, 5.0, 6.0)),
      (2L, Seq(0.1, 0.2), Seq(0.3, 0.4)),
      (3L, Seq.empty[Double], Seq.empty[Double]))
      .toDF("id", "a", "b")
    val viaExpr = df.select(col("id"),
      VectorExpressions.vector_dot(col("a"), col("b")).as("d"))
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val viaFold = df.select(col("id"),
      aggregate(zip_with(col("a"), col("b"), (x, y) => x * y),
        lit(0.0), (acc, v) => acc + v).as("d"))
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(viaExpr == viaFold)
    assert(viaExpr(1L) == 32.0)
    assert(viaExpr(3L) == 0.0)
    df.createOrReplaceTempView("vecs")
    val viaSql = spark.sql("SELECT id, vector_dot(a, b) AS d FROM vecs")
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(viaSql == viaExpr)
  }

  test("poly_hash: codegen == interpreted == tight-loop kernel, incl. SQL") {
    import graft.functions.HashExpressions
    HashExpressions.ensureRegistered(spark)
    val texts = Seq("", "a", "hello world", "ünïcødé ⚡ text",
      "the quick brown fox", "𝔘nicode surrogates 𝄞")
    val df = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
      .toDF("id", "text")
    val viaExpr = df.select(col("id"),
      HashExpressions.poly_hash(col("text")).as("h"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // reference: the Scala loop shared with Dedup/TextAnalysis kernels
    def ref(s: String): Long = {
      var h = 0L; var i = 0
      while (i < s.length) {
        h = (h * 31 + s.codePointAt(i)) % 1000000007L
        i += Character.charCount(s.codePointAt(i))
      }
      h
    }
    texts.zipWithIndex.foreach { case (t, i) =>
      assert(viaExpr(i.toLong) == ref(t), s"mismatch on '$t'")
    }
    df.createOrReplaceTempView("ph_texts")
    val viaSql = spark.sql("SELECT id, poly_hash(text) AS h FROM ph_texts")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(viaSql == viaExpr)
  }

  test("a second ensureRegistered leaves the function registry unchanged") {
    import graft.functions.HashExpressions
    import org.apache.spark.sql.catalyst.FunctionIdentifier
    val registry = spark.sessionState.functionRegistry
    val names = Seq("vector_dot", "quant_stats", "vector_dist2", "poly_hash")
    // a replaced function gets a new ExpressionInfo, so reference
    // equality of the looked-up infos shows nothing was re-registered
    def infos = names.map(n => registry.lookupFunction(FunctionIdentifier(n)))
    VectorExpressions.ensureRegistered(spark)
    HashExpressions.ensureRegistered(spark)
    val first = infos
    val listed = registry.listFunction().size
    VectorExpressions.ensureRegistered(spark)
    HashExpressions.ensureRegistered(spark)
    assert(first.forall(_.isDefined))
    assert(infos.zip(first).forall { case (a, b) => a.get eq b.get })
    assert(registry.listFunction().size == listed)
  }

  test("cosine of a vector with itself is 1.0") {
    VectorExpressions.ensureRegistered(spark)
    val df = Seq((1L, Seq(0.5, -1.5, 2.0))).toDF("id", "v")
    val c = df.select(
      VectorExpressions.vector_cosine(col("v"), col("v")).as("c"))
      .head().getDouble(0)
    assert(math.abs(c - 1.0) < 1e-15)
  }

  test("the four custom columns evaluate on a session with no function " +
      "registered") {
    import graft.functions.HashExpressions
    import org.apache.spark.sql.catalyst.FunctionIdentifier
    val fresh = spark.newSession()
    val registry = fresh.sessionState.functionRegistry
    assert(Seq("vector_dot", "quant_stats", "vector_dist2", "poly_hash")
      .forall(n => !registry.functionExists(FunctionIdentifier(n))))
    import fresh.implicits._
    val r = Seq((Seq(1.0, 2.0), Seq(4.0, 6.0), "ab")).toDF("a", "b", "s")
      .select(VectorExpressions.vector_dot(col("a"), col("b")),
        VectorExpressions.vector_dist2(col("a"), col("b")),
        VectorExpressions.quant_stats(col("a")).getField("n_sat"),
        HashExpressions.poly_hash(col("s")))
      .head()
    assert(r.getDouble(0) == 16.0)
    assert(r.getDouble(1) == 25.0)
    assert(r.getLong(2) == 1L)
    assert(r.getLong(3) == 97L * 31 + 98)
  }

  test("vector_dist2 == the aggregate(zip_with) fold bit for bit, with the " +
      "fold's nulls for unequal lengths and null elements") {
    val rnd = new scala.util.Random(20261018L)
    def vec(n: Int) = Seq.fill(n)(rnd.nextGaussian() * 3)
    val random = Seq(1, 8, 64).flatMap(n => Seq.fill(20)((vec(n), vec(n))))
    // unequal lengths, then two empty arrays
    val dense = random ++ Seq((vec(3), vec(4)), (vec(0), vec(1)),
      (vec(0), vec(0)))
    val holes = dense.map { case (a, b) => (a.map(Option(_)), b.map(Option(_))) } ++
      Seq((Seq(Some(1.0), None, Some(2.0)), Seq(Some(1.0), Some(0.5), Some(2.0))),
        (Seq(Some(1.0), Some(2.0)), Seq(Some(1.0), None)))
    val fold = aggregate(
      zip_with(col("a"), col("b"), (x, y) => (x - y) * (x - y)),
      lit(0.0), (s, t) => s + t)
    def dist2s(df: org.apache.spark.sql.DataFrame): Seq[Option[Double]] =
      df.select(col("id"),
          VectorExpressions.vector_dist2(col("a"), col("b")), fold)
        .orderBy("id").collect().toSeq.map { r =>
          if (r.isNullAt(2)) assert(r.isNullAt(1), s"row ${r.getLong(0)}")
          else assert(!r.isNullAt(1) && r.getDouble(1) == r.getDouble(2),
            s"row ${r.getLong(0)}: ${r.get(1)} vs ${r.getDouble(2)}")
          if (r.isNullAt(1)) None else Some(r.getDouble(1))
        }
    def frame[T: scala.reflect.runtime.universe.TypeTag](rows: Seq[(T, T)]) =
      rows.zipWithIndex.map { case ((a, b), i) => (i.toLong, a, b) }
        .toDF("id", "a", "b")
    // repartitioned, so the projection is not folded into the local
    // relation on the driver: whole-stage codegen, then interpreted eval
    for ((wholeStage, factory) <- Seq("true" -> "CODEGEN_ONLY",
        "false" -> "NO_CODEGEN")) {
      spark.conf.set("spark.sql.codegen.wholeStage", wholeStage)
      spark.conf.set("spark.sql.codegen.factoryMode", factory)
      try {
        val d = dist2s(frame(dense).repartition(2))
        assert(d.take(random.size).forall(_.isDefined))
        assert(d.drop(random.size) == Seq(None, None, Some(0.0)))
        val h = dist2s(frame(holes).repartition(2))
        assert(h == d ++ Seq(None, None))
      } finally {
        spark.conf.unset("spark.sql.codegen.wholeStage")
        spark.conf.unset("spark.sql.codegen.factoryMode")
      }
    }
  }
}
