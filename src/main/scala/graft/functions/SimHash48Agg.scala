package graft.functions

import java.nio.ByteBuffer
import java.security.MessageDigest

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.types.{DataType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Native Catalyst AGGREGATE function for the portable 48-bit SimHash
  * (the custom-aggregate tier — `TypedImperativeAggregate` — alongside
  * the scalar-expression tier of [[CosineSimilarity]]/[[PqAdcDistance]]
  * and the typed-Aggregator tier of `queries.TypedOps`).
  *
  * Why: the expression-composed rendering needs 12 nibble columns and
  * 48 separate `sum(CASE ...)` aggregates per group — 48 agg buffers
  * and a 48-column intermediate row. This keeps ONE `Array[Int](48)`
  * buffer per group, votes all 48 bits per token in a tight loop over
  * the md5 bytes, and partial-merges by vector addition — same
  * map-side-combine behavior as the sum aggregates, 48× fewer buffers.
  *
  * Bit layout parity (MUST match d32's oracle): hex digit j of the md5
  * string is nibble j; bit b of a token's hash is bit (b%4) of nibble
  * (b/4); a doc's signature sets bit b iff the vote sum is strictly
  * positive. Hex digit j = high nibble of byte j/2 when j is even, low
  * when odd — integer-exact, so the DuckDB oracle is unchanged.
  */
case class SimHash48Agg(child: Expression,
    mutableAggBufferOffset: Int = 0, inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[Array[Int]] {

  override def children: Seq[Expression] = child :: Nil
  override def nullable: Boolean = false
  override def dataType: DataType = LongType
  override def prettyName: String = "simhash48"

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType => TypeCheckResult.TypeCheckSuccess
    case dt => TypeCheckResult.TypeCheckFailure(
      s"simhash48 expects a string token column, got ${dt.catalogString}")
  }

  // Thread-safety: MessageDigest is stateful and NOT thread-safe, but
  // this instance is never shared across threads — Spark gives each
  // task its own deserialized copy of the aggregate expression (and
  // @transient makes the lazy val re-initialize per copy), so update()
  // calls on one instance are always single-threaded. PropertySpec
  // hammers signature stability across 1↔32-partition layouts to lock
  // the invariant down.
  @transient private lazy val md5 = MessageDigest.getInstance("MD5")

  override def createAggregationBuffer(): Array[Int] = new Array[Int](48)

  override def update(buffer: Array[Int], input: InternalRow): Array[Int] = {
    val tok = child.eval(input)
    if (tok != null) {
      val digest = md5.digest(tok.asInstanceOf[UTF8String].getBytes)
      var b = 0
      while (b < 48) {
        val j = b / 4
        val byte = digest(j / 2) & 0xff
        val nib = if ((j & 1) == 0) byte >>> 4 else byte & 0xf
        buffer(b) += (if (((nib >> (b % 4)) & 1) == 1) 1 else -1)
        b += 1
      }
    }
    buffer
  }

  override def merge(a: Array[Int], b: Array[Int]): Array[Int] = {
    var i = 0
    while (i < 48) { a(i) += b(i); i += 1 }
    a
  }

  override def eval(buffer: Array[Int]): Any = {
    var sig = 0L
    var b = 0
    while (b < 48) {
      if (buffer(b) > 0) sig |= 1L << b
      b += 1
    }
    sig
  }

  override def serialize(buffer: Array[Int]): Array[Byte] = {
    val bb = ByteBuffer.allocate(48 * 4)
    buffer.foreach(bb.putInt)
    bb.array()
  }

  override def deserialize(bytes: Array[Byte]): Array[Int] = {
    val bb = ByteBuffer.wrap(bytes)
    Array.fill(48)(bb.getInt())
  }

  override def withNewMutableAggBufferOffset(offset: Int): SimHash48Agg =
    copy(mutableAggBufferOffset = offset)
  override def withNewInputAggBufferOffset(offset: Int): SimHash48Agg =
    copy(inputAggBufferOffset = offset)
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): SimHash48Agg =
    copy(child = newChildren.head)
}

object SimHash48Agg {
  /** Aggregate Column: 48-bit portable simhash of a group's tokens. */
  def simhash48(tok: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    org.apache.spark.sql.GraftBridge.column(
      SimHash48Agg(org.apache.spark.sql.GraftBridge.expression(tok))
        .toAggregateExpression())
}
