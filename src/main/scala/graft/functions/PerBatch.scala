package graft.functions

import org.apache.spark.sql.{Column, GraftSqlBridge}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{CurrentTimestamp, Expression, Literal, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.types.DataType

/** A value that is constant within one micro-batch but changes from
  * batch to batch (the batch timestamp, the batch id, the index version
  * a batch serves). Generated code calls back into this expression
  * object instead of inlining the value, so every batch of a query
  * generates the same source and hits the codegen cache.
  *
  * A bare `Literal` is inlined (`Literal.doGenCode` writes `<micros>L`),
  * and so is `current_timestamp()` in a stream: `IncrementalExecution`
  * optimizes the plan first and only then swaps `CurrentBatchTimestamp`
  * for a literal, so each micro-batch compiled new whole-stage source
  * with Janino, on the driver and in tasks.
  *
  * The value is unchanged: in a stream the child is still rewritten to
  * the batch's timestamp, and in a batch query `ComputeCurrentTime`
  * still pins it to one literal per query. The wrapper itself is never
  * folded, so the per-batch literals that run as batch queries inside a
  * foreachBatch body stay out of generated code too.
  */
case class PerBatchValue(child: Expression) extends UnaryExpression
    with CodegenFallback {
  override def dataType: DataType = child.dataType
  override def nullable: Boolean = child.nullable
  override def foldable: Boolean = false
  override def eval(input: InternalRow): Any = child.eval(input)
  override def prettyName: String = "graft_per_batch"
  override protected def withNewChildInternal(newChild: Expression): PerBatchValue =
    copy(child = newChild)
}

object PerBatch {
  /** `current_timestamp()`: one value per micro-batch (or batch query). */
  def now: Column = GraftSqlBridge.column(PerBatchValue(CurrentTimestamp()))

  /** `lit(v)` for a value that changes per micro-batch. */
  def lit(v: Any): Column = GraftSqlBridge.column(PerBatchValue(Literal(v)))
}
