package org.apache.spark.sql.graft

import java.io.{ByteArrayInputStream, ByteArrayOutputStream, DataInputStream, DataOutputStream}

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{ExpectsInputTypes, Expression}
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types.{AbstractDataType, ArrayType, DataType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Count-Min sketch as a native typed aggregate —
  * `graft_cms(value, depth, width)` → `array<long>` of `depth·width`
  * counters in row-major order.
  *
  * The point-frequency complement to [[TopKSketch]]: Misra–Gries keeps
  * the heavy hitters, CMS answers "how often did THIS value occur?" for
  * any value, from `depth·width` longs of FIXED state per group no
  * matter the column's cardinality (Cormode & Muthukrishnan 2005). The
  * estimate `min_d counter[d][h_d(v)]` never undercounts, and
  * overcounts by more than `(e/width)·n` with probability at most
  * `e^−depth`. Buffers merge by elementwise addition, so the final
  * counters are EXACT slot sums — deterministic under any partition
  * layout, unlike the MG summary's layout-dependent sub-capacity
  * counts.
  *
  * The depth hash family is md5-derived and engine-replayable (the
  * MinHash/SimHash oracle trick): row `d` uses hex chars `8d+1..8d+8`
  * of `md5(value)` — an unsigned 32-bit word — mod `width`, i.e.
  * DuckDB's `('0x' || substr(md5(v), 1 + 8*d, 8))::BIGINT % width`, so
  * a SQL oracle can rebuild every counter and replay the estimates
  * hash-exactly. One digest per row serves all `depth` rows
  * ([[GraftKernels]] thread-cached).
  *
  * Reference seam: extends the frequency-profiling family
  * (`/root/reference/Data_Quality_File.sql` rare/frequent-value rules)
  * with the fixed-memory point-lookup regime.
  */
case class CmsSketch(
    child: Expression,
    depth: Int,
    width: Int,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[Array[Long]]
  with ExpectsInputTypes {

  require(depth >= 1 && depth <= 4,
    "depth must be in 1..4 (md5 yields four independent 32-bit words)")
  require(width >= 2, "width must be at least 2")

  override def children: Seq[Expression] = Seq(child)
  override def inputTypes: Seq[AbstractDataType] = Seq(StringType)
  override def nullable: Boolean = false
  override def prettyName: String = "graft_cms"
  override def dataType: DataType =
    ArrayType(LongType, containsNull = false)

  override def createAggregationBuffer(): Array[Long] =
    new Array[Long](depth * width)

  override def update(buffer: Array[Long],
      input: InternalRow): Array[Long] = {
    val v = child.eval(input)
    if (v != null) {
      val digest = GraftKernels.md5Full(v.asInstanceOf[UTF8String])
      var d = 0
      while (d < depth) {
        buffer(d * width +
          (GraftKernels.word32(digest, d) % width).toInt) += 1L
        d += 1
      }
    }
    buffer
  }

  override def merge(buffer: Array[Long],
      other: Array[Long]): Array[Long] = {
    var i = 0
    while (i < buffer.length) { buffer(i) += other(i); i += 1 }
    buffer
  }

  override def eval(buffer: Array[Long]): Any =
    new GenericArrayData(buffer.clone())

  override def serialize(buffer: Array[Long]): Array[Byte] = {
    val bos = new ByteArrayOutputStream(buffer.length * 8)
    val out = new DataOutputStream(bos)
    var i = 0
    while (i < buffer.length) { out.writeLong(buffer(i)); i += 1 }
    out.flush()
    bos.toByteArray
  }

  override def deserialize(bytes: Array[Byte]): Array[Long] = {
    val in = new DataInputStream(new ByteArrayInputStream(bytes))
    val buf = new Array[Long](depth * width)
    var i = 0
    while (i < buf.length) { buf(i) = in.readLong(); i += 1 }
    buf
  }

  override def withNewMutableAggBufferOffset(newOffset: Int): CmsSketch =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): CmsSketch =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): CmsSketch =
    copy(child = newChildren.head)
}
