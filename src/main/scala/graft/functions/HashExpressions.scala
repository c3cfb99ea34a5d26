package graft.functions

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.{DataType, LongType}
import org.apache.spark.unsafe.types.UTF8String

/** `poly_hash(str)` — the engine's rolling content hash
  * (Σ codepoint·31^k mod 1e9+7, left to right) as a native codegen'd
  * Expression.
  *
  * Why a custom Expression (SURVEY §7.3 justification): the same hash via
  * higher-order functions (`aggregate` over `range`+`substr`) is
  * CodegenFallback — a closure call and a boxed Long per CHARACTER; the
  * mapPartitions formulation (TextAnalysis.fingerprint) is fast but leaves
  * whole-stage codegen, forcing object serialization boundaries around it.
  * This expression generates a primitive loop inside WSCG, composes with
  * any other expression (filters/projections stay fused), and is
  * SQL-callable.
  *
  * Arithmetic is identical to `TextAnalysis.fingerprint`, the DuckDB
  * `list_reduce` oracle, and `Dedup.polyHashMod` (all mod 1e9+7 over
  * codepoints), so it is a drop-in for any of them. */
case class PolyHash(child: Expression) extends UnaryExpression {

  override def dataType: DataType = LongType
  override def prettyName: String = "poly_hash"

  override def nullSafeEval(input: Any): Any = {
    val s = input.asInstanceOf[UTF8String].toString
    var h = 0L
    var i = 0
    while (i < s.length) {
      h = (h * 31 + s.codePointAt(i)) % 1000000007L
      i += Character.charCount(s.codePointAt(i))
    }
    h
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => {
      val s = ctx.freshName("s")
      val h = ctx.freshName("h")
      val i = ctx.freshName("i")
      val cp = ctx.freshName("cp")
      s"""
         |String $s = $c.toString();
         |long $h = 0L;
         |int $i = 0;
         |while ($i < $s.length()) {
         |  int $cp = $s.codePointAt($i);
         |  $h = ($h * 31L + $cp) % 1000000007L;
         |  $i += Character.charCount($cp);
         |}
         |${ev.value} = $h;
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): PolyHash =
    copy(child = newChild)
}

object HashExpressions {
  import org.apache.spark.sql.GraftSqlShims.{column, expression}

  /** Register `poly_hash` in the session's function registry, so SQL text
    * can call it (`Graft.open` does this). Idempotent. */
  def ensureRegistered(spark: SparkSession): Unit =
    registerOnce(spark, "poly_hash")(exprs => PolyHash(exprs.head))

  /** Register `name` unless the session's registry already has it:
    * replacing a function logs a "replaced a previously registered
    * function" WARN every time. */
  private[functions] def registerOnce(spark: SparkSession, name: String)(
      builder: Seq[Expression] => Expression): Unit = {
    val registry = spark.sessionState.functionRegistry
    if (!registry.functionExists(FunctionIdentifier(name)))
      registry.createOrReplaceTempFunction(name, builder, "built-in")
  }

  /** Rolling content hash of a string column (codegen'd). */
  def poly_hash(c: Column): Column = column(PolyHash(expression(c)))
}
