package graft.functions

import org.apache.spark.sql.{Column, SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Cast, Expression, ExpressionInfo}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.graftbridge.Bridge
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType}

/** Native Catalyst dot product over two `array<double>` columns, with
  * whole-stage codegen — the SURVEY.md §4.3 "fused cosine" extension,
  * added once profiling showed the interpreted-HOF formulation
  * (`aggregate(zip_with(a, b, *))`) dominating the vector-heavy queries.
  *
  * Numerical contract: sequential left-to-right summation over element
  * index, IDENTICAL to the HOF fold it replaces — swapping one for the
  * other cannot change any declared query's output (§2.0 rule 7 relies
  * on this order-stability, and the DuckDB parity gate re-verified green
  * after the swap).
  *
  * Elements are assumed non-null (embeddings are dense float vectors);
  * a null ELEMENT would read as 0.0 rather than propagate, unlike
  * zip_with — acceptable for this engine's data model, documented here.
  * Likewise on LENGTH MISMATCH the loop truncates to the shorter array,
  * whereas the `zip_with` fold null-pads and yields null: "identical to
  * the HOF fold" above holds only for equal-length dense vectors, which
  * the embeddings data model guarantees (fixed dim per table).
  */
case class DotProduct(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = DoubleType
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "graft_dot"

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = math.min(x.numElements(), y.numElements())
    var s = 0.0
    var i = 0
    while (i < n) { s += x.getDouble(i) * y.getDouble(i); i += 1 }
    s
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      val s = ctx.freshName("s")
      s"""
         |int $n = java.lang.Math.min($a.numElements(), $b.numElements());
         |double $s = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  $s += $a.getDouble($i) * $b.getDouble($i);
         |}
         |${ev.value} = $s;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): DotProduct =
    copy(left = newLeft, right = newRight)
}

/** Column-API and SQL registration for the engine's native functions. */
object GraftFunctions {

  /** `graft_dot(a, b)` as a Column — usable anywhere a built-in is. */
  def dot(a: Column, b: Column): Column =
    Bridge.column(DotProduct(
      Bridge.expression(a.cast("array<double>")),
      Bridge.expression(b.cast("array<double>"))))

  private[functions] val info =
    new ExpressionInfo(classOf[DotProduct].getCanonicalName, "graft_dot")

  private[functions] val builder: Seq[Expression] => Expression = { children =>
    require(children.length == 2, "graft_dot takes exactly 2 arguments")
    // coerce SQL-path arguments so array<float> inputs work too
    DotProduct(
      Cast(children.head, ArrayType(DoubleType)),
      Cast(children(1), ArrayType(DoubleType)))
  }

  private[functions] val cmsInfo =
    new ExpressionInfo(classOf[CmsEstimate].getCanonicalName, "graft_cms_estimate")

  private[functions] val mightContainInfo = new ExpressionInfo(
    classOf[org.apache.spark.sql.catalyst.expressions.BloomFilterMightContain]
      .getCanonicalName,
    "graft_might_contain")

  /** SQL surface for Catalyst's internal `BloomFilterMightContain` —
    * the probe half of the engine's runtime-filter machinery, which
    * Spark keeps in its INTERNAL registry (usable by InjectRuntimeFilter,
    * invisible to SQL). The expression requires the filter argument to
    * be foldable or a scalar subquery (it deserializes the sketch once
    * per task), so callers pass the bloom as
    * `(SELECT graft_bloom_agg(...) FROM …)` — the same shape Spark's
    * own InjectRuntimeFilter rule plants.
    */
  private[functions] val mightContainBuilder: Seq[Expression] => Expression = {
    children =>
      require(children.length == 2, "graft_might_contain takes exactly 2 arguments")
      org.apache.spark.sql.catalyst.expressions.BloomFilterMightContain(
        children.head, children(1))
  }

  private[functions] val bloomAggInfo = new ExpressionInfo(
    classOf[org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate]
      .getCanonicalName,
    "graft_bloom_agg")

  /** SQL surface for the build half, `BloomFilterAggregate` — also
    * internal-registry-only. Args: (xxhash64-long column,
    * estimatedNumItems, numBits), both sizing args constant longs.
    */
  private[functions] val bloomAggBuilder: Seq[Expression] => Expression = {
    children =>
      require(children.length == 3,
        "graft_bloom_agg takes exactly 3 arguments (value, estimatedNumItems, numBits)")
      new org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate(
        children.head, children(1), children(2)).toAggregateExpression()
  }

  /** The engine's SQL functions, one (name, info, builder) entry each —
    * the table [[register]] and [[GraftExtensions]] both install.
    */
  private[functions] val entries: Seq[(FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression)] =
    Seq(
      (FunctionIdentifier("graft_dot"), info, builder),
      (FunctionIdentifier("graft_cms_estimate"), cmsInfo, CmsFunctions.builder),
      (FunctionIdentifier("graft_might_contain"), mightContainInfo, mightContainBuilder),
      (FunctionIdentifier("graft_bloom_agg"), bloomAggInfo, bloomAggBuilder))

  /** Runtime registration into an existing session (the harness builds
    * the SparkSession itself, so `spark.sql.extensions` is not an
    * option there). Idempotent.
    */
  def register(spark: SparkSession): Unit =
    entries.foreach { case (id, fnInfo, fnBuilder) =>
      spark.sessionState.functionRegistry.registerFunction(id, fnInfo, fnBuilder)
    }
}

/** `--conf spark.sql.extensions=graft.functions.GraftExtensions` for
  * deployments that control session construction.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit =
    GraftFunctions.entries.foreach(ext.injectFunction)
}
