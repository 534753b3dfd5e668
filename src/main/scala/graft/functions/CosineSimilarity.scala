package graft.functions

import org.apache.spark.sql.{Column, ExpressionColumns, SparkSession}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, ExpressionInfo}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, FloatType}

/** Native Catalyst expression for cosine similarity over two
  * `array<float>` columns — the hot loop of the similarity-search path
  * (SURVEY §4.3's "custom work only where profiling demands").
  *
  * Why native instead of `zip_with` + `aggregate` HOFs: higher-order
  * lambdas are interpreted per element inside the generated code, so a
  * 64-dim dot product pays ~192 lambda invocations per row. This
  * expression emits one fused while-loop in whole-stage codegen (and a
  * matching interpreted eval), accumulating dot/norm sums sequentially in
  * double — the SAME fold order as the HOF form and DuckDB's list_reduce,
  * so results stay bit-identical with the oracle.
  */
case class CosineSimilarity(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = DoubleType

  // Result is null on length mismatch or any null element (the same
  // outcome the zip_with/aggregate HOF form produces), even when both
  // input columns are non-nullable.
  override def nullable: Boolean = true

  override def checkInputDataTypes(): TypeCheckResult = {
    def ok(t: DataType) = t match {
      case ArrayType(FloatType, _) => true
      case _ => false
    }
    if (ok(left.dataType) && ok(right.dataType)) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"cosine_sim expects (array<float>, array<float>), got " +
        s"(${left.dataType.catalogString}, ${right.dataType.catalogString})")
  }

  override protected def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = x.numElements()
    // null on length mismatch or null elements — matching zip_with
    // semantics rather than silently truncating or reading garbage
    if (n != y.numElements()) return null
    var dot = 0.0; var nx = 0.0; var ny = 0.0
    var i = 0
    while (i < n) {
      if (x.isNullAt(i) || y.isNullAt(i)) return null
      val xv = x.getFloat(i).toDouble
      val yv = y.getFloat(i).toDouble
      dot += xv * yv; nx += xv * xv; ny += yv * yv
      i += 1
    }
    dot / (math.sqrt(nx) * math.sqrt(ny))
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (x, y) => {
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      val dot = ctx.freshName("dot")
      val nx = ctx.freshName("nx")
      val ny = ctx.freshName("ny")
      val xv = ctx.freshName("xv")
      val yv = ctx.freshName("yv")
      s"""
         |int $n = $x.numElements();
         |if ($n != $y.numElements()) {
         |  ${ev.isNull} = true;
         |} else {
         |  double $dot = 0.0; double $nx = 0.0; double $ny = 0.0;
         |  for (int $i = 0; $i < $n; $i++) {
         |    if ($x.isNullAt($i) || $y.isNullAt($i)) { ${ev.isNull} = true; break; }
         |    double $xv = (double) $x.getFloat($i);
         |    double $yv = (double) $y.getFloat($i);
         |    $dot += $xv * $yv; $nx += $xv * $xv; $ny += $yv * $yv;
         |  }
         |  if (!${ev.isNull}) {
         |    ${ev.value} = $dot / (java.lang.Math.sqrt($nx) * java.lang.Math.sqrt($ny));
         |  }
         |}
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): CosineSimilarity =
    copy(left = newLeft, right = newRight)

  override def prettyName: String = "cosine_sim"
}

/** The four native functions as Column builders, plus their SQL
  * registration. Library code calls the builders, which wrap the
  * Catalyst expressions directly and need no registry entry. SQL text
  * needs the names registered: `spark.sql.extensions=
  * graft.GraftExtensions` does that for every [[graft.Session]], and
  * `ensureRegistered` is the imperative twin for sessions built outside
  * the library. */
object GraftFunctions {
  import ExpressionColumns.{column, expression}

  def cosineSim(a: Column, b: Column): Column =
    column(CosineSimilarity(expression(a), expression(b)))

  def squaredL2(a: Column, b: Column): Column =
    column(SquaredL2(expression(a), expression(b)))

  /** Aggregate: the `k` highest-scoring `(id, score)` structs. */
  def topKByScore(score: Column, id: Column, k: Int): Column =
    column(TopKByScore(expression(score), expression(id), k)
      .toAggregateExpression())

  /** Aggregate: a theta sketch of the non-null `key`s. */
  def thetaSketch(key: Column, lgK: Int): Column =
    column(ThetaSketchAgg(expression(key), lgK).toAggregateExpression())

  val cosineSimBuilder: Seq[Expression] => Expression = {
    case Seq(a, b) => CosineSimilarity(a, b)
    case other => throw new IllegalArgumentException(
      s"cosine_sim expects 2 arguments, got ${other.size}")
  }

  /** topk_by_score(score, id, k) — k must be a foldable int literal. */
  val topKBuilder: Seq[Expression] => Expression = {
    case Seq(s, i, kExpr) if kExpr.foldable =>
      TopKByScore(s, i, kExpr.eval().asInstanceOf[Number].intValue())
        .toAggregateExpression()
    case other => throw new IllegalArgumentException(
      "topk_by_score expects (score, id, <int literal k>)")
  }

  val squaredL2Builder: Seq[Expression] => Expression = {
    case Seq(a, b) => SquaredL2(a, b)
    case other => throw new IllegalArgumentException(
      s"squared_l2 expects 2 arguments, got ${other.size}")
  }

  /** theta_sketch(key[, lgK]) — lgK must be a foldable int literal. */
  val thetaBuilder: Seq[Expression] => Expression = {
    case Seq(k) => ThetaSketchAgg(k).toAggregateExpression()
    case Seq(k, lg) if lg.foldable =>
      ThetaSketchAgg(k, lg.eval().asInstanceOf[Number].intValue())
        .toAggregateExpression()
    case other => throw new IllegalArgumentException(
      "theta_sketch expects (key[, <int literal lgK>])")
  }

  /** Registers whichever of the four functions `spark` lacks: a session
    * built with `spark.sql.extensions=graft.GraftExtensions` (every
    * [[graft.Session]]) already has them all, and re-registering one logs
    * a registry WARN per call. */
  def ensureRegistered(spark: SparkSession): Unit = {
    val registry = spark.sessionState.functionRegistry
    Seq("cosine_sim" -> cosineSimBuilder, "topk_by_score" -> topKBuilder,
      "theta_sketch" -> thetaBuilder, "squared_l2" -> squaredL2Builder).foreach {
      case (name, builder) =>
        if (!registry.functionExists(FunctionIdentifier(name)))
          registry.createOrReplaceTempFunction(name, builder, "built-in")
    }
  }
}
