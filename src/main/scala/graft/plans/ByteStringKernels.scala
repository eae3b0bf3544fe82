package graft.plans

import org.apache.spark.sql.catalyst.expressions.{Expression, Literal, RegExpExtract, SubstringIndex}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.catalyst.trees.TreePattern.LITERAL
import org.apache.spark.sql.types.{IntegerType, StringType}
import org.apache.spark.unsafe.types.UTF8String

import graft.functions.expressions.{ByteRegExpExtract, ByteRegex, ByteSubstringIndex}

/** Optimizer rule: evaluate `substring_index` and `regexp_extract` on
  * UTF-8 bytes. The reference's level parse,
  * `regexp_extract(substring_index(record, "\n", 1), "\\b(INFO|WARN|ERROR)\\b", 1)`,
  * otherwise spends its time in `UTF8String.find`'s per-byte compare and in
  * decoding each head for `java.util.regex`.
  *
  *   - `SubstringIndex(s, <literal delim>, <literal count>)` becomes
  *     [[ByteSubstringIndex]] (any delimiter and count but `Int.MinValue`,
  *     where Spark itself fails).
  *   - `RegExpExtract(s, <literal pattern>, <literal idx>)` becomes
  *     [[ByteRegExpExtract]] when the pattern is in the byte subset and
  *     `0 <= idx <= groupCount`. Any other index keeps Spark's expression,
  *     and so Spark's `REGEX_GROUP_INDEX` error.
  *
  * Both only for a UTF8_BINARY subject: another collation keeps Spark's
  * collation-aware expression. Both results equal Spark's on every input.
  * `SubstringIndex` carries no tree-pattern bit of its own, and both
  * rewrites need literal arguments, so the walk prunes on `LITERAL`.
  */
object ByteStringKernels extends Rule[LogicalPlan] {
  override def apply(plan: LogicalPlan): LogicalPlan =
    plan.transformAllExpressionsWithPruning(_.containsPattern(LITERAL)) {
      case SubstringIndex(s, Literal(d: UTF8String, _: StringType), Literal(c: Int, IntegerType))
          if utf8Binary(s) && c != Int.MinValue =>
        ByteSubstringIndex(s, d, c)
      case RegExpExtract(s, Literal(p: UTF8String, _: StringType), Literal(i: Int, IntegerType))
          if utf8Binary(s) && ByteRegex.compile(p.toString, i).isDefined =>
        ByteRegExpExtract(s, p.toString, i)
    }

  /** `StringType` is the UTF8_BINARY string; collated strings differ from it. */
  private def utf8Binary(e: Expression): Boolean = e.dataType == StringType
}
