package graft.functions

import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.types.{DataType, LongType}
import org.apache.spark.unsafe.types.UTF8String

/** Native Catalyst expression for the engine's rolling polynomial hash
  * (`TextFeatures.charHashSpark` semantics: acc = (acc·31 + byte) mod P
  * over the string's bytes; byte == codepoint for the ASCII corpora this
  * engine hashes).
  *
  * Why a custom expression: the built-in higher-order form
  * (`aggregate(transform(sequence(...), ...))`) materializes a per-row
  * index array and an int array per token — fine at test SF, wasteful at
  * 100 TB where this runs once per shingle. This version is a single
  * O(n) loop over the UTF8String bytes with no allocation, and
  * `doGenCode` keeps it inside whole-stage codegen.
  *
  * Query code builds it with `SketchExpressions.charRollingHash(col)`.
  */
case class CharRollingHash(child: Expression) extends UnaryExpression {

  override def dataType: DataType = LongType

  override protected def nullSafeEval(input: Any): Any = {
    val s = input.asInstanceOf[UTF8String]
    val n = s.numBytes()
    var acc = 0L
    var i = 0
    while (i < n) {
      acc = (acc * 31L + (s.getByte(i) & 0xff)) % 1000000007L
      i += 1
    }
    acc
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(
      ctx,
      ev,
      c => {
        val i = ctx.freshName("i")
        val acc = ctx.freshName("acc")
        val n = ctx.freshName("n")
        s"""
           |long $acc = 0L;
           |int $n = $c.numBytes();
           |for (int $i = 0; $i < $n; $i++) {
           |  $acc = ($acc * 31L + ($c.getByte($i) & 0xFF)) % 1000000007L;
           |}
           |${ev.value} = $acc;
         """.stripMargin
      }
    )

  override protected def withNewChildInternal(newChild: Expression): CharRollingHash =
    copy(child = newChild)

  override def prettyName: String = "char_rolling_hash"
}
