package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.GraftShims.{toColumn => toCol, toExpression => toExpr}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._

/**
 * Single-pass vector kernels for the similarity-search operators
 * (optimization round r06, guide §4.1/§1.2 "per-task work"): the original
 * column form `aggregate(zip_with(a, b, _*_), 0.0, _+_)` is built from
 * higher-order functions, which are CodegenFallback in Spark — the whole
 * projection drops out of whole-stage codegen and every row pays
 * interpreted lambda evaluation plus element boxing. At 60k+ verified
 * candidate pairs per query that interpreted tax dominated the bench
 * (q_embed_lsh_pairs 5.1s → sub-second). [[CosineSim]] is the same
 * arithmetic as ONE flat loop over the unsafe array data.
 */
object VectorStatics {

  /**
   * EXACT twin of the HOF cosine column
   * (`when(na > 0 && nb > 0, dot / (na * nb)).otherwise(0.0)` over
   * `aggregate`/`zip_with`), including its quirks:
   *  - null input array → `aggregate(null, ...)` nulls the norm, the CASE
   *    condition is null, the `otherwise` fires → 0.0 (NOT null);
   *  - null element → same path → 0.0;
   *  - zero norm / empty array → condition false → 0.0;
   *  - unequal lengths with both norms positive → `zip_with` pads with
   *    null, the dot aggregate goes null, CASE condition true → null;
   *  - FLOAT arrays multiply in float then widen to double (zip_with's
   *    `x * y` is FloatType; the aggregate accumulator is double), so
   *    float inputs keep bit-identical results vs the HOF form.
   */
  def cosine(a: ArrayData, b: ArrayData, aFloat: Boolean,
      bFloat: Boolean): java.lang.Double = {
    if (a == null || b == null) return ZERO
    val n = a.numElements()
    val m = b.numElements()
    var na = 0.0
    var i = 0
    while (i < n) {
      if (a.isNullAt(i)) return ZERO
      if (aFloat) { val f = a.getFloat(i); na += (f * f).toDouble }
      else { val d = a.getDouble(i); na += d * d }
      i += 1
    }
    var nb = 0.0
    i = 0
    while (i < m) {
      if (b.isNullAt(i)) return ZERO
      if (bFloat) { val f = b.getFloat(i); nb += (f * f).toDouble }
      else { val d = b.getDouble(i); nb += d * d }
      i += 1
    }
    na = math.sqrt(na)
    nb = math.sqrt(nb)
    if (!(na > 0 && nb > 0)) return ZERO
    if (n != m) return null
    var dot = 0.0
    i = 0
    while (i < n) {
      val p =
        if (aFloat && bFloat) (a.getFloat(i) * b.getFloat(i)).toDouble
        else {
          val x = if (aFloat) a.getFloat(i).toDouble else a.getDouble(i)
          val y = if (bFloat) b.getFloat(i).toDouble else b.getDouble(i)
          x * y
        }
      dot += p
      i += 1
    }
    java.lang.Double.valueOf(dot / (na * nb))
  }

  private val ZERO = java.lang.Double.valueOf(0.0)
}

/** Row-local cosine as a proper codegen'd expression (see
  * [[VectorStatics.cosine]] for the pinned null/length/precision
  * semantics). Inputs must be array<float> or array<double>. */
case class CosineSim(left: Expression, right: Expression)
    extends BinaryExpression {

  /** Rejects anything but array<float|double> at ANALYSIS time, so a bad
    * input type never reaches eval or codegen. */
  override def checkInputDataTypes(): TypeCheckResult =
    Seq(left, right).map(_.dataType).find {
      case ArrayType(FloatType | DoubleType, _) => false
      case _ => true
    } match {
      case Some(t) => TypeCheckResult.TypeCheckFailure(
        s"CosineSim expects array<float|double> inputs, got ${t.simpleString}")
      case None => TypeCheckResult.TypeCheckSuccess
    }

  private def elemIsFloat(e: Expression): Boolean = e.dataType match {
    case ArrayType(FloatType, _) => true
    case _ => false
  }

  override def dataType: DataType = DoubleType
  override def nullable: Boolean = true

  override def eval(input: InternalRow): Any = {
    val a = left.eval(input)
    val b = right.eval(input)
    val r = VectorStatics.cosine(a.asInstanceOf[ArrayData],
      b.asInstanceOf[ArrayData], elemIsFloat(left), elemIsFloat(right))
    if (r == null) null else r.doubleValue()
  }

  override protected def doGenCode(ctx: CodegenContext,
      ev: ExprCode): ExprCode = {
    val leftGen = left.genCode(ctx)
    val rightGen = right.genCode(ctx)
    val af = elemIsFloat(left)
    val bf = elemIsFloat(right)
    val boxed = ctx.freshName("cosRes")
    // no nullSafeCodeGen: a null input array must yield 0.0, not null
    // (the HOF chain's CASE-null path — see VectorStatics.cosine)
    ev.copy(code = code"""
      ${leftGen.code}
      ${rightGen.code}
      java.lang.Double $boxed = graft.functions.VectorStatics.cosine(
        ${leftGen.isNull} ? null : ${leftGen.value},
        ${rightGen.isNull} ? null : ${rightGen.value}, $af, $bf);
      boolean ${ev.isNull} = ($boxed == null);
      double ${ev.value} = ${ev.isNull} ? -1.0 : $boxed.doubleValue();
    """)
  }

  override protected def withNewChildrenInternal(newLeft: Expression,
      newRight: Expression): CosineSim = copy(left = newLeft, right = newRight)
}

object VectorExprs {
  /** Column facade: row-local cosine between two float/double array
    * columns, whole-stage-codegen'd. */
  def cosine(a: Column, b: Column): Column =
    toCol(CosineSim(toExpr(a), toExpr(b)))
}
