package graft.functions

import org.apache.spark.sql.{Column, GraftBridge}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.types.{DataType, LongType}

/** SimHash as ONE custom aggregate instead of 64 conditional sums.
  *
  * The composable formulation (64 × sum(CASE WHEN bit THEN 1 ELSE -1))
  * exceeds Spark's codegen field limits — the whole stage falls back to
  * interpreted execution (observed: zero WholeStageCodegen spans). This
  * TypedImperativeAggregate keeps a 64-int vote vector in a mutable
  * buffer, updates it in a tight loop per token hash, merges
  * elementwise, and finishes to the packed 64-bit fingerprint. Planned
  * via ObjectHashAggregate; map-side partial aggregation still applies.
  *
  * Input: the token hash — 64-bit xxhash64(token) for SimHash's 64-bit
  * fingerprint, or the 32-bit portable md5 hash for its 32-bit one
  * (a hash < 2^32 votes −1 on bits 32-63, so they stay clear).
  * Output: simhash long — bit i set iff Σ ±1 votes for bit i is >= 0.
  */
case class SimHashAgg(
    child: Expression,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[Array[Int]] {

  override def children: Seq[Expression] = Seq(child)
  override def nullable: Boolean = false
  override def dataType: DataType = LongType

  override def createAggregationBuffer(): Array[Int] = new Array[Int](64)

  override def update(buf: Array[Int], input: InternalRow): Array[Int] = {
    val v = child.eval(input)
    if (v != null) {
      val h = v.asInstanceOf[Long]
      var i = 0
      while (i < 64) {
        buf(i) += (if (((h >>> i) & 1L) == 1L) 1 else -1)
        i += 1
      }
    }
    buf
  }

  override def merge(b1: Array[Int], b2: Array[Int]): Array[Int] = {
    var i = 0
    while (i < 64) { b1(i) += b2(i); i += 1 }
    b1
  }

  override def eval(buf: Array[Int]): Any = {
    var fp = 0L
    var i = 0
    while (i < 64) {
      if (buf(i) >= 0) fp |= (1L << i)
      i += 1
    }
    fp
  }

  override def serialize(buf: Array[Int]): Array[Byte] = {
    val bb = java.nio.ByteBuffer.allocate(64 * 4)
    buf.foreach(bb.putInt)
    bb.array()
  }

  override def deserialize(bytes: Array[Byte]): Array[Int] = {
    val bb = java.nio.ByteBuffer.wrap(bytes)
    Array.fill(64)(bb.getInt())
  }

  override def withNewMutableAggBufferOffset(offset: Int): SimHashAgg =
    copy(mutableAggBufferOffset = offset)
  override def withNewInputAggBufferOffset(offset: Int): SimHashAgg =
    copy(inputAggBufferOffset = offset)
  override protected def withNewChildrenInternal(c: IndexedSeq[Expression]): SimHashAgg =
    copy(child = c.head)
}

object SimHashAgg {
  /** Aggregate Column: simhash of a 64-bit hash column. */
  def simhash(hashCol: Column): Column =
    GraftBridge.column(SimHashAgg(GraftBridge.expression(hashCol))
      .toAggregateExpression())
}
