package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{ExpectsInputTypes, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.graft.ColumnBridge
import org.apache.spark.sql.types.{DataType, LongType, TimestampNTZType}

/** `ntz_micros(ts)`: a TIMESTAMP_NTZ as BIGINT microseconds of its wall
  * clock read as UTC — the long Spark stores, read as it is: no session
  * time zone, no per-row calendar arithmetic. */
case class NtzMicros(child: Expression) extends UnaryExpression
    with ExpectsInputTypes {
  override def inputTypes: Seq[TimestampNTZType.type] = Seq(TimestampNTZType)
  override def dataType: DataType = LongType
  override def prettyName: String = "ntz_micros"
  override def nullSafeEval(v: Any): Any = v
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => c)
  override protected def withNewChildInternal(c: Expression): Expression =
    copy(child = c)
}

object NtzMicros {
  def ntz_micros(c: Column): Column = ColumnBridge.column(NtzMicros(ColumnBridge.expression(c)))
}
