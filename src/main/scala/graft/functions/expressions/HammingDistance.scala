package graft.functions.expressions

import org.apache.spark.sql.{Column, SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, ExpressionInfo}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.{DataType, LongType}

/** `hamming64(a, b)` — popcount of XOR over two 64-bit fingerprints, as a
  * native Catalyst expression with whole-stage codegen (`doGenCode` emits a
  * single `Long.bitCount(a ^ b)`), the tier-(b) extension path: no UDF
  * boxing, no codegen fence, vectorizable inside the enclosing stage.
  * Used by SimHash near-dup joins where the distance runs once per candidate
  * pair in the hot loop.
  */
case class HammingDistance(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = LongType
  override def prettyName: String = "hamming64"

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    if (left.dataType == LongType && right.dataType == LongType)
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"hamming64 requires (BIGINT, BIGINT), got (${left.dataType}, ${right.dataType})")

  override protected def nullSafeEval(a: Any, b: Any): Any =
    java.lang.Long.bitCount(a.asInstanceOf[Long] ^ b.asInstanceOf[Long]).toLong

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) =>
      s"${ev.value} = (long) java.lang.Long.bitCount($a ^ $b);")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): HammingDistance =
    copy(left = newLeft, right = newRight)
}

object HammingDistance {
  /** Column-API form (registers on first use in the active session). */
  def hamming64(a: Column, b: Column): Column = {
    register(SparkSession.active)
    org.apache.spark.sql.functions.call_function("hamming64", a, b)
  }

  /** Register `hamming64` in a session's function registry so `spark.sql`
    * and `expr("hamming64(a,b)")` resolve it.
    */
  def register(spark: SparkSession): Unit =
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "hamming64", exprs => HammingDistance(exprs(0), exprs(1)), "built-in")
}

/** SparkSessionExtensions injector — `.withExtensions(GraftExtensions)` or
  * `spark.sql.extensions=graft.functions.expressions.GraftExtensions` wires
  * the function permanently (the tier-(c) integration point).
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    ext.injectFunction((
      org.apache.spark.sql.catalyst.FunctionIdentifier("hamming64"),
      new ExpressionInfo(classOf[HammingDistance].getName, "hamming64"),
      (exprs: Seq[Expression]) => HammingDistance(exprs(0), exprs(1))))
    ext.injectFunction((
      org.apache.spark.sql.catalyst.FunctionIdentifier("cosine_sim"),
      new ExpressionInfo(classOf[CosineSimilarity].getName, "cosine_sim"),
      (exprs: Seq[Expression]) => CosineSimilarity(exprs(0), exprs(1))))
    ext.injectFunction((
      org.apache.spark.sql.catalyst.FunctionIdentifier("interleave_bits"),
      new ExpressionInfo(classOf[InterleaveBits].getName, "interleave_bits"),
      (exprs: Seq[Expression]) => InterleaveBits(exprs(0), exprs(1))))
    ext.injectFunction((
      org.apache.spark.sql.catalyst.FunctionIdentifier("jaro_winkler"),
      new ExpressionInfo(classOf[JaroWinkler].getName, "jaro_winkler"),
      (exprs: Seq[Expression]) => JaroWinkler(exprs(0), exprs(1))))
    ext.injectOptimizerRule(session =>
      graft.plans.RewriteSingletonRepartition(session))
    ext.injectPlannerStrategy(_ => graft.plans.TopKPerGroupStrategy)
    ext.injectOptimizerRule(_ => graft.plans.PushFilterThroughTopK)
    ext.injectOptimizerRule(_ => graft.plans.ByteStringKernels)
    // SQL UPDATE / MERGE INTO on graft catalog tables → native table ops
    ext.injectPostHocResolutionRule(session =>
      graft.tables.GraftSqlDmlRule(session))
  }
}
