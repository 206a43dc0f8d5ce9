package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, ExpressionInfo}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.GraftColumnShim
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, FloatType}

/** Native Catalyst expressions for vector math (SURVEY.md §4/§7.4,
  * extension preference (b): a codegen'd `Expression` beats a UDF).
  *
  * The higher-order-function form
  * `aggregate(zip_with(a,b,(x,y)->x*y), 0D, (s,x)->s+x)` materialises an
  * intermediate products array per row and interprets two lambdas; this
  * expression compiles to a single fused Java loop inside whole-stage
  * codegen — no allocation, no virtual calls. Accumulation order is the
  * same left-to-right index order, so results are bit-identical to the
  * HOF form (and to DuckDB's list_reduce — oracle-safe).
  */
case class VectorDot(left: Expression, right: Expression)
  extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (ArrayType(FloatType, _), ArrayType(FloatType, _)) =>
        TypeCheckResult.TypeCheckSuccess
      case (l, r) => TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires two array<float> arguments, got $l and $r")
    }
  override def dataType: DataType = DoubleType
  override def prettyName: String = "vector_dot"

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = math.min(x.numElements(), y.numElements())
    var s = 0.0
    var i = 0
    while (i < n) {
      s += x.getFloat(i).toDouble * y.getFloat(i).toDouble
      i += 1
    }
    s
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val n = ctx.freshName("n")
      val i = ctx.freshName("i")
      val s = ctx.freshName("s")
      s"""
         |int $n = java.lang.Math.min($a.numElements(), $b.numElements());
         |double $s = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  $s += (double) $a.getFloat($i) * (double) $b.getFloat($i);
         |}
         |${ev.value} = $s;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): VectorDot =
    copy(left = newLeft, right = newRight)
}

/** Cosine similarity as one fused loop (dot + both norms in a single
  * pass over the arrays). A zero-norm input (zero or empty vector)
  * yields NaN, matching the SQL 0/0 semantics of the oracle twin —
  * rankers must filter NaN (see Similarity.annTopK / IvfIndex.topK).
  */
case class VectorCosine(left: Expression, right: Expression)
  extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (ArrayType(FloatType, _), ArrayType(FloatType, _)) =>
        TypeCheckResult.TypeCheckSuccess
      case (l, r) => TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires two array<float> arguments, got $l and $r")
    }
  override def dataType: DataType = DoubleType
  override def prettyName: String = "vector_cosine"

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = math.min(x.numElements(), y.numElements())
    var dot = 0.0; var na = 0.0; var nb = 0.0
    var i = 0
    while (i < n) {
      val xv = x.getFloat(i).toDouble
      val yv = y.getFloat(i).toDouble
      dot += xv * yv; na += xv * xv; nb += yv * yv
      i += 1
    }
    dot / (math.sqrt(na) * math.sqrt(nb))
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val n = ctx.freshName("n"); val i = ctx.freshName("i")
      val dot = ctx.freshName("dot"); val na = ctx.freshName("na"); val nb = ctx.freshName("nb")
      val xv = ctx.freshName("xv"); val yv = ctx.freshName("yv")
      s"""
         |int $n = java.lang.Math.min($a.numElements(), $b.numElements());
         |double $dot = 0.0; double $na = 0.0; double $nb = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  double $xv = (double) $a.getFloat($i);
         |  double $yv = (double) $b.getFloat($i);
         |  $dot += $xv * $yv; $na += $xv * $xv; $nb += $yv * $yv;
         |}
         |${ev.value} = $dot / (java.lang.Math.sqrt($na) * java.lang.Math.sqrt($nb));
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): VectorCosine =
    copy(left = newLeft, right = newRight)
}

/** Squared L2 distance as one fused loop — the k-means / IVF assignment
  * hot path (`IvfIndex.assign`, `sim_kmeans_assign`). Op sequence per
  * element: float→double promotion, subtract, square, left-to-right
  * accumulation — bit-identical to the HOF form
  * `aggregate(zip_with(a,b,(x,y)->(x-y)*(x-y)), 0D, (s,v)->s+v)` and to
  * DuckDB's list_reduce over the same transform (oracle-safe).
  */
case class VectorDistSq(left: Expression, right: Expression)
  extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (ArrayType(FloatType, _), ArrayType(FloatType, _)) =>
        TypeCheckResult.TypeCheckSuccess
      case (l, r) => TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires two array<float> arguments, got $l and $r")
    }
  override def dataType: DataType = DoubleType
  override def prettyName: String = "vector_dist_sq"

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = math.min(x.numElements(), y.numElements())
    var s = 0.0
    var i = 0
    while (i < n) {
      val d = x.getFloat(i).toDouble - y.getFloat(i).toDouble
      s += d * d
      i += 1
    }
    s
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val n = ctx.freshName("n")
      val i = ctx.freshName("i")
      val s = ctx.freshName("s")
      val d = ctx.freshName("d")
      s"""
         |int $n = java.lang.Math.min($a.numElements(), $b.numElements());
         |double $s = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  double $d = (double) $a.getFloat($i) - (double) $b.getFloat($i);
         |  $s += $d * $d;
         |}
         |${ev.value} = $s;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): VectorDistSq =
    copy(left = newLeft, right = newRight)
}

/** Column-API + SQL registration for the native expressions. */
object GraftFunctions {

  def vectorDot(a: Column, b: Column): Column =
    GraftColumnShim.column(
      VectorDot(GraftColumnShim.expression(a), GraftColumnShim.expression(b)))

  def vectorCosine(a: Column, b: Column): Column =
    GraftColumnShim.column(
      VectorCosine(GraftColumnShim.expression(a), GraftColumnShim.expression(b)))

  def vectorDistSq(a: Column, b: Column): Column =
    GraftColumnShim.column(
      VectorDistSq(GraftColumnShim.expression(a), GraftColumnShim.expression(b)))

  private val registrations: Seq[(FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression)] = Seq(
    (FunctionIdentifier("vector_dot"),
      new ExpressionInfo(classOf[VectorDot].getName, "vector_dot"),
      (children: Seq[Expression]) => VectorDot(children(0), children(1))),
    (FunctionIdentifier("vector_cosine"),
      new ExpressionInfo(classOf[VectorCosine].getName, "vector_cosine"),
      (children: Seq[Expression]) => VectorCosine(children(0), children(1))),
    (FunctionIdentifier("vector_dist_sq"),
      new ExpressionInfo(classOf[VectorDistSq].getName, "vector_dist_sq"),
      (children: Seq[Expression]) => VectorDistSq(children(0), children(1))))

  /** Runtime registration (tests, notebooks): makes the functions
    * callable from SQL in an existing session.
    */
  def register(spark: org.apache.spark.sql.SparkSession): Unit =
    registrations.foreach { case (id, info, builder) =>
      spark.sessionState.functionRegistry.registerFunction(id, info, builder)
    }

  private[functions] def all = registrations
}

/** Config-time extension with only BIT-EXACT additions — native
  * functions and result-identical plan rewrites. Safe anywhere,
  * including oracle-compared sessions:
  * `--conf spark.sql.extensions=graft.functions.GraftExactExtensions`.
  */
class GraftExactExtensions extends (org.apache.spark.sql.SparkSessionExtensions => Unit) {
  override def apply(ext: org.apache.spark.sql.SparkSessionExtensions): Unit = {
    GraftFunctions.all.foreach(ext.injectFunction)
    ext.injectOptimizerRule(_ => graft.plans.BandJoinRewrite)
  }
}
