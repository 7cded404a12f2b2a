package graft.expressions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.graftbridge.ColumnBridge
import org.apache.spark.sql.types._

/** Kernel for Z-order (Morton) curve keys — static forwarder so
  * generated code calls it directly (the [[VectorKernels]] pattern). */
object ZOrderKernels {

  /** Interleave the low 16 bits of `a` and `b` into a 32-bit Morton
    * key (a's bits at even positions): the classic parallel
    * bit-spread — each step doubles the gap between occupied bits,
    * 4 steps spread 16 bits across 32. Constant-time, no loop. */
  def interleave16(a: Long, b: Long): Long = {
    var x = a & 0xFFFFL
    var y = b & 0xFFFFL
    x = (x | (x << 8)) & 0x00FF00FFL
    x = (x | (x << 4)) & 0x0F0F0F0FL
    x = (x | (x << 2)) & 0x33333333L
    x = (x | (x << 1)) & 0x55555555L
    y = (y | (y << 8)) & 0x00FF00FFL
    y = (y | (y << 4)) & 0x0F0F0F0FL
    y = (y | (y << 2)) & 0x33333333L
    y = (y | (y << 1)) & 0x55555555L
    x | (y << 1)
  }
}

/** Native Z-order key over two long columns (low 16 bits each →
  * 32-bit key): the multi-dimensional clustering primitive behind
  * lakehouse Z-ORDER layout — sort by this key and rows close in BOTH
  * dimensions land in the same parquet row groups, so min/max stats
  * prune box predicates on EITHER column (a single-column sort only
  * clusters its own column). Callers quantize to 16 bits first
  * (`pmod(x, 65536)` or a rank bucket). */
case class ZOrderKey(left: Expression, right: Expression)
    extends BinaryExpression {
  override def dataType: DataType = LongType
  override def prettyName: String = "zorder_key"

  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    val ok = Seq(left, right).forall(_.dataType == LongType)
    if (ok) org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires bigint inputs, got " +
        s"${left.dataType.simpleString} / ${right.dataType.simpleString}")
  }

  override def nullSafeEval(l: Any, r: Any): Any =
    ZOrderKernels.interleave16(l.asInstanceOf[Long], r.asInstanceOf[Long])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) =>
      s"graft.expressions.ZOrderKernels.interleave16($a, $b)")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): ZOrderKey =
    copy(left = newLeft, right = newRight)
}

object ZOrderExpressions {
  /** Morton key of two bigint columns (native, codegen'd). */
  def zorderKey(a: Column, b: Column): Column =
    ColumnBridge.column(ZOrderKey(
      ColumnBridge.expression(a), ColumnBridge.expression(b)))

  /** Quantization of [0, max] onto the full 16-bit grid — REQUIRED before
    * interleaving dimensions of different ranges: Morton order is
    * dominated by whichever dimension occupies the higher bit
    * positions, so a raw 8-bit id interleaved with a raw 16-bit
    * amount degenerates to a single-column sort on the amount (the
    * id's bits all sit below the amount's). Scaling every dimension
    * to [0, 65535] gives each equal weight in the curve. The bound
    * comes from table stats (or one cheap agg); values outside clamp. */
  def quant16(c: Column, max: Double): Column = {
    import org.apache.spark.sql.functions.{floor, greatest, least, lit}
    least(lit(65535L), greatest(lit(0L),
      floor(c * 65535.0 / max).cast("long")))
  }
}
