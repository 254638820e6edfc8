package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode, FalseLiteral}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.expressions.{Expression, LeafExpression, Nondeterministic}
import org.apache.spark.sql.types.{DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String

import java.nio.charset.StandardCharsets.US_ASCII
import java.util.concurrent.ThreadLocalRandom

/**
 * UUIDv7 generator — time-sortable record ids.
 *
 * The reference stamps every record with a UUIDv7 `_airbyte_raw_id`
 * (PyAirbyte `airbyte/records.py:74,237`, rationale at
 * `airbyte/constants.py:23-33`: v7 ids sort by arrival time). Spark has
 * `uuid()` (v4, not time-ordered), so this is a small custom
 * nondeterministic expression.
 *
 * Layout (RFC 9562 §5.7): 48-bit unix-epoch millis | ver=7 (4 bits) |
 * 12-bit `rand_a` | var=10 (2 bits) | 62-bit `rand_b`. Row ids use the
 * "Monotonic Random" method of RFC 9562 §6.2: each partition draws one
 * `rand_a` and one `rand_b` base (top bit clear, so it never wraps into
 * the variant bits) when it is initialized, and the i-th row gets
 * `rand_b = base + i`. The clock is read per row and never steps back
 * within a partition. So:
 *
 *   - within a task, ids strictly increase in row order (arrival order);
 *   - ids stay unique across partitions: two partitions collide only if
 *     they share a millisecond, the same `rand_a` and overlapping
 *     `rand_b` windows (~p·N/2^74 for p partitions of N rows);
 *   - a partition's ids differ only in their low bits, so a cache
 *     column of them compresses to a fraction of random v7 ids.
 *
 * Ids ARE compared: `WriteStrategies.dedupLatest` orders versions of a
 * key by (`_airbyte_extracted_at`, `_airbyte_raw_id`), so a tie on
 * extraction time goes to the row that came later in its batch. A
 * retried task draws a fresh base; its ids are new, still ordered.
 */
object Uuid7 {
  private val Hex = "0123456789abcdef".getBytes(US_ASCII)

  /** The 36 ASCII bytes of the canonical 8-4-4-4-12 form of (hi, lo). */
  private[functions] def format(hi: Long, lo: Long): Array[Byte] = {
    val out = new Array[Byte](36)
    var pos = 0
    var n = 0
    while (n < 32) {
      if (pos == 8 || pos == 13 || pos == 18 || pos == 23) { out(pos) = '-'; pos += 1 }
      val word = if (n < 16) hi else lo
      out(pos) = Hex(((word >>> (60 - 4 * (n & 15))) & 0xF).toInt)
      pos += 1
      n += 1
    }
    out
  }

  /** One id with fresh random bits (driver-side, one-off ids). */
  def next(): String = new Uuid7Generator().next().toString
}

/** Per-partition monotonic state of [[Uuid7]] (RFC 9562 §6.2). */
final class Uuid7Generator {
  private[this] val randA = ThreadLocalRandom.current().nextLong() & 0x0FFFL
  private[this] var randB = ThreadLocalRandom.current().nextLong() & 0x1FFFFFFFFFFFFFFFL
  private[this] var lastMs = Long.MinValue

  def next(): UTF8String = {
    lastMs = math.max(System.currentTimeMillis(), lastMs)
    val id = Uuid7.format((lastMs << 16) | 0x7000L | randA, 0x8000000000000000L | randB)
    randB += 1
    UTF8String.fromBytes(id)
  }
}

/** `uuid7()`: one [[Uuid7Generator]] per partition, created by the
  * partition initializer in both the interpreted and generated paths. */
case class Uuid7Expression() extends LeafExpression with Nondeterministic {
  override def nullable: Boolean = false
  override def dataType: DataType = StringType

  @transient private[this] var gen: Uuid7Generator = _

  override protected def initializeInternal(partitionIndex: Int): Unit =
    gen = new Uuid7Generator
  override protected def evalInternal(input: InternalRow): Any = gen.next()

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val cls = classOf[Uuid7Generator].getName
    val g = ctx.addMutableState(cls, "uuid7Gen", forceInline = true)
    ctx.addPartitionInitializationStatement(s"$g = new $cls();")
    ev.copy(code = code"final UTF8String ${ev.value} = $g.next();",
      isNull = FalseLiteral)
  }
  override def prettyName: String = "uuid7"
}

object functions {
  import org.apache.spark.sql.GraftBridge
  /** Column producing a fresh UUIDv7 per row. */
  def uuid7(): Column = GraftBridge.column(Uuid7Expression())
  /** Bridge: Column → Catalyst Expression (Spark 4 classic API). */
  def exprOf(c: Column): Expression = GraftBridge.expression(c)
  /** Bridge: Catalyst Expression → Column. */
  def columnOf(e: Expression): Column = GraftBridge.column(e)
}
