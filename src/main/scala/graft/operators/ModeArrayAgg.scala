package graft.operators

import java.io.{ByteArrayInputStream, ByteArrayOutputStream, DataInputStream, DataOutputStream}
import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.graft.Bridge
import org.apache.spark.sql.types.{ArrayType, DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** The count tables behind every categorical mode in the engine: one
  * value → count table per feature position, and the mode rule
  * (count DESC, value ASC). [[ModeArrayAgg]] and the global K-modes
  * Lloyd pass both build, merge and read their tables only through
  * here, so the tie-break is written once.
  *
  * Counts live in mutable one-slot cells, so a repeated value costs one
  * hash lookup and no allocation. A key is cloned only when it is first
  * inserted: the caller's UTF8String may point into a reused row buffer.
  * Values compare as UTF8String (binary/code-point order), identical to
  * DuckDB's UTF-8 string ordering used by the oracle.
  */
private[operators] final class ModeCounts extends Serializable {
  private val cells = new java.util.HashMap[UTF8String, Array[Long]]()

  def add(v: UTF8String, c: Long): Unit = {
    val cell = cells.get(v)
    if (cell != null) cell(0) += c
    else cells.put(v.clone(), Array(c))
  }

  def addAll(o: ModeCounts): Unit = o.cells.forEach((v, c) => add(v, c(0)))

  def size: Int = cells.size()

  def foreach(f: (UTF8String, Long) => Unit): Unit = cells.forEach((v, c) => f(v, c(0)))

  /** The value with the highest count, ties to the smallest value. */
  def mode: UTF8String = {
    var bestV: UTF8String = null
    var bestC = -1L
    val it = cells.entrySet().iterator()
    while (it.hasNext) {
      val e = it.next()
      val c = e.getValue()(0)
      if (c > bestC || (c == bestC && e.getKey.compareTo(bestV) < 0)) {
        bestC = c; bestV = e.getKey
      }
    }
    bestV
  }
}

private[operators] object ModeCounts {
  /** One table per position; empty means "no row yet" (arity unknown). */
  type Tables = Array[ModeCounts]

  private def ensure(t: Tables, n: Int): Tables =
    if (t.length >= n) t
    else Array.tabulate(n)(i => if (i < t.length) t(i) else new ModeCounts)

  /** Count one row's values; a null value counts as the null sentinel. */
  def add(t: Tables, row: ArrayData): Tables = {
    val b = ensure(t, row.numElements())
    var i = 0
    while (i < row.numElements()) {
      val v = if (row.isNullAt(i)) ArrayModeAggregator.NullSentinelUtf8 else row.getUTF8String(i)
      b(i).add(v, 1L)
      i += 1
    }
    b
  }

  def merge(t1: Tables, t2: Tables): Tables = {
    val b = ensure(t1, t2.length)
    var i = 0
    while (i < t2.length) { b(i).addAll(t2(i)); i += 1 }
    b
  }

  def modes(t: Tables): Array[UTF8String] = t.map(_.mode)
}

/** Native one-pass multi-column mode aggregate over [[ModeCounts]]
  * tables. It mutates its tables in place and serializes them only at
  * shuffle boundaries with a flat length-prefixed layout.
  */
case class ModeArrayAgg(
    child: Expression,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[ModeCounts.Tables] {

  type Buf = ModeCounts.Tables

  override def children: Seq[Expression] = Seq(child)
  override def nullable: Boolean = true
  override def dataType: DataType = ArrayType(StringType, containsNull = true)
  override def prettyName: String = "graft_mode_array"

  override def createAggregationBuffer(): Buf = Array.empty

  override def update(buffer: Buf, input: InternalRow): Buf = {
    val v = child.eval(input)
    if (v == null) buffer else ModeCounts.add(buffer, v.asInstanceOf[ArrayData])
  }

  override def merge(b1: Buf, b2: Buf): Buf = ModeCounts.merge(b1, b2)

  override def eval(buffer: Buf): Any =
    if (buffer.isEmpty) null
    else new GenericArrayData(ModeCounts.modes(buffer).toArray[Any])

  override def serialize(buffer: Buf): Array[Byte] = {
    val bos = new ByteArrayOutputStream()
    val out = new DataOutputStream(bos)
    out.writeInt(buffer.length)
    buffer.foreach { m =>
      out.writeInt(m.size)
      m.foreach { (v, c) =>
        val bytes = v.getBytes
        out.writeInt(bytes.length)
        out.write(bytes)
        out.writeLong(c)
      }
    }
    out.flush()
    bos.toByteArray
  }

  override def deserialize(storageFormat: Array[Byte]): Buf = {
    val in = new DataInputStream(new ByteArrayInputStream(storageFormat))
    val n = in.readInt()
    Array.fill(n) {
      val m = new ModeCounts
      var entries = in.readInt()
      while (entries > 0) {
        val len = in.readInt()
        val bytes = new Array[Byte](len)
        in.readFully(bytes)
        m.add(UTF8String.fromBytes(bytes), in.readLong())
        entries -= 1
      }
      m
    }
  }

  override def withNewMutableAggBufferOffset(newOffset: Int): ModeArrayAgg =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): ModeArrayAgg =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): ModeArrayAgg =
    copy(child = newChildren.head)
}

object ModeArrayAgg {
  /** Column form usable in `groupBy(...).agg`. */
  def modeArray(features: Column): Column =
    Bridge.column(ModeArrayAgg(Bridge.expression(features)).toAggregateExpression())
}
