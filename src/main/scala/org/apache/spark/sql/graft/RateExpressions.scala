package org.apache.spark.sql.graft

import graft.expressions.Kernels
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, ImplicitCastInputTypes}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodeGenerator, CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.types.{AbstractDataType, DataType, DoubleType, LongType}

/** Prometheus's extrapolated increase as ONE native expression over the
  * per-window aggregate ([[Kernels.extrapolatedIncrease]]).
  *
  * Spelled as Column DSL, the rule inlined every intermediate `val`
  * (span, mean interval, threshold …) at each of its uses: ~1,100
  * expression nodes per rate plan, walked by the analyzer at every DataFrame
  * step, by the optimizer, and again by AQE after every shuffle stage.
  * This node has seven leaf-sized children and codegens to one static
  * call.
  *
  * NULL when any input but `firstFp` is NULL (`firstFp` NULL only skips
  * the counter clamp, as the Column rule's unknown condition did).
  */
case class ExtrapolatedIncrease(n: Expression, firstTs: Expression,
                                lastTs: Expression, firstFp: Expression,
                                rawFp: Expression, rangeStart: Expression,
                                rangeEnd: Expression, counter: Boolean)
    extends Expression with ImplicitCastInputTypes {
  override def children: Seq[Expression] =
    Seq(n, firstTs, lastTs, firstFp, rawFp, rangeStart, rangeEnd)
  override def inputTypes: Seq[AbstractDataType] = Seq.fill(7)(LongType)
  override def dataType: DataType = DoubleType
  override def nullable: Boolean = true
  override def prettyName: String = "extrapolated_increase"

  /** Children whose NULL makes the result NULL (all but `firstFp`). */
  private val required = Seq(0, 1, 2, 4, 5, 6)

  override def eval(input: InternalRow): Any = {
    val v = children.map(_.eval(input))
    if (required.exists(v(_) == null)) null
    else Kernels.extrapolatedIncrease(v(0).asInstanceOf[Long],
      v(1).asInstanceOf[Long], v(2).asInstanceOf[Long],
      v(3).asInstanceOf[java.lang.Long], v(4).asInstanceOf[Long],
      v(5).asInstanceOf[Long], v(6).asInstanceOf[Long], counter)
  }

  override protected def doGenCode(ctx: CodegenContext,
                                    ev: ExprCode): ExprCode = {
    val c = children.map(_.genCode(ctx))
    val r = ctx.freshName("res")
    val anyNull = required.map(i => c(i).isNull.toString).mkString(" || ")
    val first = s"(${c(3).isNull} ? null : java.lang.Long.valueOf(${c(3).value}))"
    ev.copy(code = code"""
      |${c.map(_.code).mkString("\n")}
      |boolean ${ev.isNull} = true;
      |${CodeGenerator.javaType(dataType)} ${ev.value} = 0.0;
      |if (!($anyNull)) {
      |  java.lang.Double $r = graft.expressions.Kernels.extrapolatedIncrease(
      |    ${c(0).value}, ${c(1).value}, ${c(2).value}, $first, ${c(4).value},
      |    ${c(5).value}, ${c(6).value}, $counter);
      |  if ($r != null) { ${ev.isNull} = false; ${ev.value} = $r.doubleValue(); }
      |}
      """.stripMargin)
  }

  override protected def withNewChildrenInternal(
      c: IndexedSeq[Expression]): ExtrapolatedIncrease =
    copy(n = c(0), firstTs = c(1), lastTs = c(2), firstFp = c(3),
      rawFp = c(4), rangeStart = c(5), rangeEnd = c(6))
}
