package graft.functions

import org.apache.spark.sql.{Column, GraftSqlShims, SparkSession}
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{DataType, DoubleType}

/** Native Catalyst expressions for vector math (SURVEY §7.3: custom code is
  * justified only where built-ins can't express the semantics *efficiently*
  * — Spark's higher-order functions (`zip_with` + `aggregate`) compute a dot
  * product but are `CodegenFallback`: one closure call and boxed array
  * allocation per element. `VectorDot` generates a primitive double loop
  * inside whole-stage codegen instead.
  *
  * Semantics are a strict left-to-right fold in double precision — exactly
  * the higher-order-function formulation and DuckDB's `list_dot_product`,
  * so oracle hash-parity is preserved bit for bit.
  */
case class VectorDot(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = DoubleType
  override def prettyName: String = "vector_dot"

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = math.min(x.numElements(), y.numElements())
    var acc = 0.0
    var i = 0
    while (i < n) {
      acc += x.getDouble(i) * y.getDouble(i)
      i += 1
    }
    acc
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val n = ctx.freshName("n")
      val i = ctx.freshName("i")
      val acc = ctx.freshName("acc")
      s"""
         |int $n = java.lang.Math.min($a.numElements(), $b.numElements());
         |double $acc = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  $acc += $a.getDouble($i) * $b.getDouble($i);
         |}
         |${ev.value} = $acc;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): VectorDot =
    copy(left = newLeft, right = newRight)
}

/** Squared Euclidean distance of two array<double> columns: the
  * nearest-centroid kernel of the vector family. `Similarity.nearest`
  * scores every (point, centroid) pair with it (the IVF and PQ Lloyd
  * rounds, q_y18's and q_stream_centroids' delta assignment, the cell
  * ranks of q_y15 and q_y25_filtered_search, the q_y17 query route,
  * q_y21's final assign and the q_y26 probe ranks); q_y18 and
  * q_stream_centroids measure centroid drift with it, and q_y8, q_y17 and
  * q_y21 score their ADC tables and seeding distances with it.
  * At the constant-cell law k reaches the hundreds, and the higher-order
  * `aggregate(zip_with(...))` formulation's per-row array allocation was
  * the dominant cost of the Stress ivf_neardup rung.
  *
  * Same strict left-to-right fold as that formulation and the oracle's
  * `list_reduce(list_prepend(0.0, list_transform(...)))`: each (xᵢ−yᵢ)²
  * term is computed independently and added in index order, so results are
  * bit-identical. The null rule is the fold's too: null when either array
  * is null, when the lengths differ (zip_with pads the shorter side with
  * nulls) or when either array holds a null element; 0.0 for two empty
  * arrays. */
case class VectorDist2(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = DoubleType
  override def nullable: Boolean = true
  override def prettyName: String = "vector_dist2"

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = x.numElements()
    if (n != y.numElements()) return null
    var acc = 0.0
    var i = 0
    while (i < n) {
      if (x.isNullAt(i) || y.isNullAt(i)) return null
      val d = x.getDouble(i) - y.getDouble(i)
      acc += d * d
      i += 1
    }
    acc
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val n = ctx.freshName("n")
      val i = ctx.freshName("i")
      val acc = ctx.freshName("acc")
      val d = ctx.freshName("d")
      val ok = ctx.freshName("ok")
      s"""
         |int $n = $a.numElements();
         |boolean $ok = $n == $b.numElements();
         |double $acc = 0.0;
         |for (int $i = 0; $ok && $i < $n; $i++) {
         |  if ($a.isNullAt($i) || $b.isNullAt($i)) { $ok = false; break; }
         |  double $d = $a.getDouble($i) - $b.getDouble($i);
         |  $acc += $d * $d;
         |}
         |${ev.isNull} = !$ok;
         |${ev.value} = $acc;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): VectorDist2 =
    copy(left = newLeft, right = newRight)
}

/** Int8-quantization statistics of an array<double> in one codegen'd pass:
  * struct(max_abs, n_sat, rmse) for the symmetric scale 127/max|x|,
  * q = floor(x·scale + 0.5).
  *
  * Same justification as [[VectorDot]]: the higher-order-function
  * formulation (three `aggregate`/`filter` folds) is CodegenFallback — a
  * closure call per element per fold; this generates two primitive loops
  * (max pass, then error pass) inside whole-stage codegen. Arithmetic is
  * the identical sequential fold, so results are bit-equal to the HOF
  * formulation and the DuckDB list_transform/list_reduce oracle
  * (Round3OpsSpec pins the parity). */
case class QuantStats(child: Expression)
    extends org.apache.spark.sql.catalyst.expressions.UnaryExpression {
  import org.apache.spark.sql.types.{LongType, StructField, StructType}

  override def dataType: DataType = StructType(Seq(
    StructField("max_abs", DoubleType, nullable = false),
    StructField("n_sat", LongType, nullable = false),
    StructField("rmse", DoubleType, nullable = false)))
  override def prettyName: String = "quant_stats"

  override def nullSafeEval(input: Any): Any = {
    val v = input.asInstanceOf[ArrayData]
    val n = v.numElements()
    var maxAbs = 0.0
    var i = 0
    while (i < n) {
      // NaN propagates through the max pass (a > maxAbs is false for NaN,
      // which would silently leave maxAbs at 0): greatest() in both Spark
      // and DuckDB orders NaN largest, so the HOF/oracle formulations
      // yield max_abs = NaN — match them, producing (NaN, 0, NaN).
      val a = math.abs(v.getDouble(i))
      if (a > maxAbs || java.lang.Double.isNaN(a)) maxAbs = a
      i += 1
    }
    // All-zero vector: scale would be Infinity and rmse NaN; define the
    // degenerate case as (0, 0, 0) — identically in codegen, the HOF
    // formulation (Similarity.quantizeInt8Hof, whose division is lazily
    // guarded so ANSI mode cannot throw DIVIDE_BY_ZERO) and the DuckDB
    // oracle (its CASE guards fire before scale is consumed).
    if (maxAbs == 0.0) {
      new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
        Array[Any](0.0, 0L, 0.0))
    } else {
      val scale = 127.0 / maxAbs
      var sat = 0L
      var s = 0.0
      i = 0
      while (i < n) {
        val x = v.getDouble(i)
        val q = math.floor(x * scale + 0.5)
        if (math.abs(q) >= 127.0) sat += 1
        val e = x - q / scale
        s += e * e
        i += 1
      }
      new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
        Array[Any](maxAbs, sat, math.sqrt(s / n)))
    }
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, v => {
      val n = ctx.freshName("n")
      val i = ctx.freshName("i")
      val maxAbs = ctx.freshName("maxAbs")
      val a = ctx.freshName("a")
      val scale = ctx.freshName("scale")
      val sat = ctx.freshName("sat")
      val s = ctx.freshName("s")
      val x = ctx.freshName("x")
      val q = ctx.freshName("q")
      val e = ctx.freshName("e")
      s"""
         |int $n = $v.numElements();
         |double $maxAbs = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  double $a = java.lang.Math.abs($v.getDouble($i));
         |  if ($a > $maxAbs || java.lang.Double.isNaN($a)) $maxAbs = $a;
         |}
         |long $sat = 0L;
         |double $s = 0.0;
         |if ($maxAbs != 0.0) {
         |  double $scale = 127.0 / $maxAbs;
         |  for (int $i = 0; $i < $n; $i++) {
         |    double $x = $v.getDouble($i);
         |    double $q = java.lang.Math.floor($x * $scale + 0.5);
         |    if (java.lang.Math.abs($q) >= 127.0) $sat++;
         |    double $e = $x - $q / $scale;
         |    $s += $e * $e;
         |  }
         |}
         |${ev.value} =
         |  new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
         |    new Object[]{$maxAbs, $sat,
         |      $maxAbs == 0.0 ? 0.0 : java.lang.Math.sqrt($s / $n)});
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): QuantStats =
    copy(child = newChild)
}

object VectorExpressions {
  import GraftSqlShims.{column, expression}
  import org.apache.spark.sql.functions.sqrt

  /** Register `vector_dot`, `quant_stats` and `vector_dist2` in the function
    * registry, so SQL text can call them (`Graft.open` does this). The
    * Column builders below need no registration. Idempotent. */
  def ensureRegistered(spark: SparkSession): Unit = {
    import HashExpressions.registerOnce
    registerOnce(spark, "vector_dot")(exprs => VectorDot(exprs.head, exprs(1)))
    registerOnce(spark, "quant_stats")(exprs => QuantStats(exprs.head))
    registerOnce(spark, "vector_dist2")(exprs => VectorDist2(exprs.head, exprs(1)))
  }

  /** Dot product of two array<double> columns (codegen'd). */
  def vector_dot(a: Column, b: Column): Column =
    column(VectorDot(expression(a), expression(b)))

  /** struct(max_abs, n_sat, rmse) of int8 quantization of an array<double>
    * column (codegen'd). */
  def quant_stats(v: Column): Column = column(QuantStats(expression(v)))

  /** Squared Euclidean distance of two array<double> columns (codegen'd;
    * bit-identical to the HOF/oracle folds, nulls included). */
  def vector_dist2(a: Column, b: Column): Column =
    column(VectorDist2(expression(a), expression(b)))

  /** Cosine similarity built from vector_dot — same fold order as the
    * DuckDB oracle (`list_dot_product` / sqrt composition). */
  def vector_cosine(a: Column, b: Column): Column =
    vector_dot(a, b) / (sqrt(vector_dot(a, a)) * sqrt(vector_dot(b, b)))
}
