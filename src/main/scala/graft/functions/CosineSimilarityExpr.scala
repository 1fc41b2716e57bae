package graft.functions

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{AbstractDataType, ArrayType, DataType, DoubleType, FloatType}

/** Native Catalyst expression for cosine similarity over two
  * ArrayType(Float|Double) columns — the M6 optimization path from
  * SURVEY §4.1: semantically identical to `VectorOps.cosine` (zip_with +
  * aggregate), but evaluated as one tight primitive loop per row instead
  * of interpreting nested lambda expressions, which profiling shows
  * dominates brute-force kNN time at scale.
  *
  * Registered via `SparkSessionExtensions` (`GraftExtensions`) or
  * post-hoc with `CosineSimilarityExpr.register(spark)`; then usable from
  * SQL and `call_function("graft_cosine", a, b)`.
  */
case class CosineSimilarityExpr(left: Expression, right: Expression)
    extends BinaryExpression {

  override def prettyName: String = "graft_cosine"
  override def dataType: DataType = DoubleType

  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    def ok(t: DataType) = t match {
      case ArrayType(FloatType, _) | ArrayType(DoubleType, _) => true
      case _ => false
    }
    if (ok(left.dataType) && ok(right.dataType))
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"graft_cosine expects array<float|double> args, got " +
          s"${left.dataType.sql} / ${right.dataType.sql}")
  }

  private def toDoubles(v: Any, t: DataType): Array[Double] = t match {
    case ArrayType(FloatType, _) =>
      val a = v.asInstanceOf[ArrayData].toFloatArray()
      val out = new Array[Double](a.length)
      var i = 0
      while (i < a.length) { out(i) = a(i); i += 1 }
      out
    case _ => v.asInstanceOf[ArrayData].toDoubleArray()
  }

  override protected def nullSafeEval(a: Any, b: Any): Any = {
    val x = toDoubles(a, left.dataType)
    val y = toDoubles(b, right.dataType)
    require(x.length == y.length,
      s"graft_cosine: length mismatch ${x.length} vs ${y.length}")
    var dot = 0.0; var nx = 0.0; var ny = 0.0
    var i = 0
    while (i < x.length) {
      dot += x(i) * y(i); nx += x(i) * x(i); ny += y(i) * y(i); i += 1
    }
    val denom = math.sqrt(nx) * math.sqrt(ny)
    if (denom == 0.0) 0.0 else dot / denom
  }

  private def getter(t: DataType, arr: String, i: String): String = t match {
    case ArrayType(FloatType, _) => s"(double) $arr.getFloat($i)"
    case _ => s"$arr.getDouble($i)"
  }

  /** Full codegen — keeps the expression inside WholeStageCodegen instead
    * of falling back to interpreted eval (the point of going native). */
  override protected def doGenCode(ctx: CodegenContext,
      ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      val dot = ctx.freshName("dot")
      val nx = ctx.freshName("nx")
      val ny = ctx.freshName("ny")
      val x = ctx.freshName("x")
      val y = ctx.freshName("y")
      val denom = ctx.freshName("denom")
      s"""
         |int $n = $a.numElements();
         |if ($n != $b.numElements()) {
         |  throw new IllegalArgumentException(
         |    "graft_cosine: length mismatch " + $n + " vs " + $b.numElements());
         |}
         |double $dot = 0.0, $nx = 0.0, $ny = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  double $x = ${getter(left.dataType, a, i)};
         |  double $y = ${getter(right.dataType, b, i)};
         |  $dot += $x * $y; $nx += $x * $x; $ny += $y * $y;
         |}
         |double $denom = java.lang.Math.sqrt($nx) * java.lang.Math.sqrt($ny);
         |${ev.value} = ($denom == 0.0) ? 0.0 : $dot / $denom;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): CosineSimilarityExpr =
    copy(left = newLeft, right = newRight)
}

/** Native dot product over two ArrayType(Float|Double) columns — one
  * tight codegen'd loop. Used with precomputed norms
  * (`cosinePrenormed`) so pairwise kNN scoring is O(d) per pair with no
  * interpreted lambdas (the HOF `aggregate(zip_with(...))` form this
  * replaces interprets 3 lambdas per element per pair). */
case class DotProductExpr(left: Expression, right: Expression)
    extends BinaryExpression {

  override def prettyName: String = "graft_dot"
  override def dataType: DataType = DoubleType

  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    def ok(t: DataType) = t match {
      case ArrayType(FloatType, _) | ArrayType(DoubleType, _) => true
      case _ => false
    }
    if (ok(left.dataType) && ok(right.dataType))
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"graft_dot expects array<float|double> args, got " +
          s"${left.dataType.sql} / ${right.dataType.sql}")
  }

  private def getElem(t: DataType, arr: ArrayData, i: Int): Double = t match {
    case ArrayType(FloatType, _) => arr.getFloat(i).toDouble
    case _ => arr.getDouble(i)
  }

  override protected def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = math.min(x.numElements(), y.numElements())
    var dot = 0.0
    var i = 0
    while (i < n) {
      dot += getElem(left.dataType, x, i) * getElem(right.dataType, y, i)
      i += 1
    }
    dot
  }

  private def getter(t: DataType, arr: String, i: String): String = t match {
    case ArrayType(FloatType, _) => s"(double) $arr.getFloat($i)"
    case _ => s"$arr.getDouble($i)"
  }

  override protected def doGenCode(ctx: CodegenContext,
      ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      val dot = ctx.freshName("dot")
      s"""
         |int $n = java.lang.Math.min($a.numElements(), $b.numElements());
         |double $dot = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  $dot += ${getter(left.dataType, a, i)} * ${getter(right.dataType, b, i)};
         |}
         |${ev.value} = $dot;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): DotProductExpr =
    copy(left = newLeft, right = newRight)
}

object DotProductExpr {
  val name = "graft_dot"

  val function: Native.Function =
    Native(name, classOf[DotProductExpr], "(array, array)") {
      case Seq(a, b) => DotProductExpr(a, b) }

  def register(spark: SparkSession): Unit = Native.register(spark, Seq(function))
}

object CosineSimilarityExpr {
  val name = "graft_cosine"

  val function: Native.Function =
    Native(name, classOf[CosineSimilarityExpr], "(array, array)") {
      case Seq(a, b) => CosineSimilarityExpr(a, b) }

  /** Post-hoc registration on a live session. */
  def register(spark: SparkSession): Unit = Native.register(spark, Seq(function))
}

/** `SparkSessionExtensions` hook: enable with
  * `.config("spark.sql.extensions", "graft.functions.GraftExtensions")`.
  * Injects the native functions and the `graft_*` table functions (the
  * two lists `graft.SqlSurface.register` registers post hoc) plus the
  * opt-in approx-distinct optimizer rule (active only under its flag). */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    graft.SqlSurface.natives.foreach(ext.injectFunction)
    graft.SqlSurface.tableFunctions.foreach(ext.injectTableFunction)
    ext.injectOptimizerRule(_ => graft.plans.ApproxDistinctRule)
    ext.injectOptimizerRule(_ => graft.plans.BandedRangeJoinRule)
  }
}
