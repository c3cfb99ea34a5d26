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
}
