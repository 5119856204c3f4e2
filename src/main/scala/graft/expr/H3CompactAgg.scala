package graft.expr

import graft.h3.H3Core
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.types._

import scala.collection.mutable

/**
 * Distributed H3 compaction as a Catalyst aggregate (reference C3/F1:
 * h3ron-polars/src/algorithm/chunkedarray/compact.rs:7-21 and
 * frame/compact.rs:15-106; compact invariant per
 * h3ron/src/collections/compactedcellvec.rs:134-165).
 *
 * Buffer = deduplicated cell set. Partial aggregation dedups map-side
 * (Tungsten runs update/merge per partition before the shuffle), so the
 * shuffled state is at most the distinct cells of each group. The
 * collapse-to-parents step runs once, in `eval`, because compaction is
 * only confluent on complete child sets: collapsing a partial buffer whose
 * sibling cells live in another partition would emit a parent alongside
 * duplicate children after merge. Dedup-then-collapse keeps the aggregate
 * algebraically correct under any partitioning.
 */
case class H3CompactAgg(
    child: Expression,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[mutable.HashSet[Long]] {

  override def prettyName: String = "h3_compact_agg"
  override def children: Seq[Expression] = Seq(child)
  override def nullable: Boolean = false
  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  override def createAggregationBuffer(): mutable.HashSet[Long] = mutable.HashSet.empty[Long]

  override def update(buf: mutable.HashSet[Long], input: InternalRow): mutable.HashSet[Long] = {
    val v = child.eval(input)
    if (v != null) {
      val c = v.asInstanceOf[Long]
      if (H3Core.isValidCell(c)) buf += c // invalid -> dropped, like NULL rows
    }
    buf
  }

  override def merge(b1: mutable.HashSet[Long], b2: mutable.HashSet[Long]): mutable.HashSet[Long] = {
    b1 ++= b2; b1
  }

  override def eval(buf: mutable.HashSet[Long]): Any =
    H3Bridge.longs(H3Core.compactCells(buf.toArray))

  override def serialize(buf: mutable.HashSet[Long]): Array[Byte] = {
    val bb = java.nio.ByteBuffer.allocate(4 + buf.size * 8)
    bb.putInt(buf.size)
    buf.foreach(bb.putLong)
    bb.array()
  }

  override def deserialize(bytes: Array[Byte]): mutable.HashSet[Long] = {
    val bb = java.nio.ByteBuffer.wrap(bytes)
    val n = bb.getInt
    val buf = mutable.HashSet.empty[Long]
    var i = 0
    while (i < n) { buf += bb.getLong; i += 1 }
    buf
  }

  override def withNewMutableAggBufferOffset(newOffset: Int): H3CompactAgg =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): H3CompactAgg =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildrenInternal(newChildren: IndexedSeq[Expression]): Expression =
    copy(child = newChildren.head)
}
