package graft.functions

import java.util.concurrent.atomic.AtomicLong

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, Nondeterministic, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode, FalseLiteral}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.types.{DataType, LongType}

/** Unique consume-time stamp in microseconds: `RecordStamp.next(base)`
  * returns `max(previous + 1, base)` off a JVM-wide monotonic register —
  * the classic unique-timestamp clamp, so two stamps from one JVM never
  * collide. Drift above the wall clock needs >1M records/s/JVM sustained
  * and self-heals once the clock catches up; across JVMs two stamps can
  * collide on a wall-clock microsecond, as the reference's per-record
  * `Instant.now()` can (mqtt/Consumer.scala:64).
  *
  * `graft.sources.broker.Broker.publish` is the one place the program
  * stamps a reading. The `graft_record_stamp(baseMicros)` SQL function
  * over the same register stays registered because the benchmark's
  * `speed_serve` workload resolves it by name for its own stamp.
  */
case class RecordStamp(child: Expression) extends UnaryExpression with Nondeterministic {
  override def nullable: Boolean = false
  override def dataType: DataType = LongType
  override def prettyName: String = "graft_record_stamp"

  override protected def initializeInternal(partitionIndex: Int): Unit = ()

  override protected def evalInternal(input: InternalRow): Any =
    RecordStamp.next(child.eval(input).asInstanceOf[Long])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val childGen = child.genCode(ctx)
    ev.copy(
      code = code"""
        ${childGen.code}
        final long ${ev.value} = graft.functions.RecordStamp.next(${childGen.value});""",
      isNull = FalseLiteral)
  }

  override protected def withNewChildInternal(newChild: Expression): RecordStamp =
    copy(child = newChild)
}

object RecordStamp {
  private val last = new AtomicLong(Long.MinValue)

  /** Strictly increasing per JVM; equals `base` when the clock has moved
    * past every stamp already handed out. Thread-safe (CAS loop). */
  def next(base: Long): Long = last.updateAndGet(prev => math.max(prev + 1, base))
}
