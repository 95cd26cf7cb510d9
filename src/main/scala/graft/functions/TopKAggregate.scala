package graft.functions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.expressions.{Expression, UnsafeProjection, UnsafeRow}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData, TypeUtils}
import org.apache.spark.sql.types._
import org.apache.spark.sql.{Column, SparkSession}

/** Bounded-heap top-k aggregate: keeps the k LARGEST struct values
  * (lexicographic struct ordering) per group.
  *
  * This is the scale-correct replacement for the
  * `row_number().over(partitionBy(key).orderBy(...)) <= k` pattern: the
  * window form shuffles and sorts EVERY row of every group; this
  * aggregate keeps at most k rows per group per map task (partial
  * aggregation), so the shuffle carries `k × groups` rows, not the
  * table. At 100 TB that's the difference between a full-data sort and
  * a metadata-sized exchange.
  *
  * Custom `TypedImperativeAggregate` — the buffer is a bounded
  * min-heap of UnsafeRow copies, spill-serialized as length-prefixed
  * row bytes.
  */
case class TopKStruct(
    child: Expression,
    k: Int,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[java.util.PriorityQueue[InternalRow]] {

  require(k > 0, "top_k requires k > 0")

  private lazy val structType = child.dataType.asInstanceOf[StructType]
  @transient private lazy val ordering: Ordering[InternalRow] =
    TypeUtils.getInterpretedOrdering(structType).asInstanceOf[Ordering[InternalRow]]
  @transient private lazy val toUnsafe = UnsafeProjection.create(structType)

  override def children: Seq[Expression] = Seq(child)
  override def nullable: Boolean = false
  override def dataType: DataType = ArrayType(structType, containsNull = false)
  override def prettyName: String = "top_k"

  override def createAggregationBuffer(): java.util.PriorityQueue[InternalRow] =
    new java.util.PriorityQueue[InternalRow](k + 1, ordering) // min-heap

  override def update(buf: java.util.PriorityQueue[InternalRow],
      input: InternalRow): java.util.PriorityQueue[InternalRow] = {
    val v = child.eval(input)
    if (v != null) {
      val row = toUnsafe(v.asInstanceOf[InternalRow]).copy()
      if (buf.size < k) buf.add(row)
      else if (ordering.compare(row, buf.peek()) > 0) { buf.poll(); buf.add(row) }
    }
    buf
  }

  override def merge(buf: java.util.PriorityQueue[InternalRow],
      other: java.util.PriorityQueue[InternalRow]): java.util.PriorityQueue[InternalRow] = {
    val it = other.iterator()
    while (it.hasNext) {
      val row = it.next()
      if (buf.size < k) buf.add(row)
      else if (ordering.compare(row, buf.peek()) > 0) { buf.poll(); buf.add(row) }
    }
    buf
  }

  override def eval(buf: java.util.PriorityQueue[InternalRow]): Any = {
    val arr = new Array[InternalRow](buf.size)
    var i = buf.size - 1
    while (i >= 0) { arr(i) = buf.poll(); i -= 1 } // poll ascending → fill from end
    new GenericArrayData(arr.asInstanceOf[Array[Any]]) // descending order
  }

  override def serialize(buf: java.util.PriorityQueue[InternalRow]): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream()
    val d = new java.io.DataOutputStream(out)
    d.writeInt(buf.size)
    val it = buf.iterator()
    while (it.hasNext) {
      val bytes = it.next().asInstanceOf[UnsafeRow].getBytes
      d.writeInt(bytes.length)
      d.write(bytes)
    }
    d.flush()
    out.toByteArray
  }

  override def deserialize(bytes: Array[Byte]): java.util.PriorityQueue[InternalRow] = {
    val in = new java.io.DataInputStream(new java.io.ByteArrayInputStream(bytes))
    val n = in.readInt()
    val buf = createAggregationBuffer()
    var i = 0
    while (i < n) {
      val len = in.readInt()
      val rowBytes = new Array[Byte](len)
      in.readFully(rowBytes)
      val row = new UnsafeRow(structType.length)
      row.pointTo(rowBytes, len)
      buf.add(row)
      i += 1
    }
    buf
  }

  override def withNewMutableAggBufferOffset(newOffset: Int): TopKStruct =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): TopKStruct =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): TopKStruct =
    copy(child = newChildren.head)
}

/** Bounded-set top-k DISTINCT struct values (largest k, lexicographic
  * struct ordering) per group. The set-of-values twin of [[TopKStruct]]:
  * where the heap keeps the top k ROWS, this keeps the top k distinct
  * VALUES — the scale-correct replacement for
  * `slice(array_sort(collect_set(v)), -k, k)`, whose aggregation state
  * holds EVERY distinct value of the group before truncating (a
  * high-cardinality column is the whole group in one buffer); this
  * TreeSet state is O(k) per group with map-side partial aggregation.
  * (Equivalently: the value set at `dense_rank() <= k`.)
  */
case class TopKDistinct(
    child: Expression,
    k: Int,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[java.util.TreeSet[InternalRow]] {

  require(k > 0, "top_k_distinct requires k > 0")

  private lazy val structType = child.dataType.asInstanceOf[StructType]
  @transient private lazy val ordering: Ordering[InternalRow] =
    TypeUtils.getInterpretedOrdering(structType).asInstanceOf[Ordering[InternalRow]]
  @transient private lazy val toUnsafe = UnsafeProjection.create(structType)

  override def children: Seq[Expression] = Seq(child)
  override def nullable: Boolean = false
  override def dataType: DataType = ArrayType(structType, containsNull = false)
  override def prettyName: String = "top_k_distinct"

  override def createAggregationBuffer(): java.util.TreeSet[InternalRow] =
    new java.util.TreeSet[InternalRow](ordering) // ordering-equality ⇒ set-distinct

  private def add(buf: java.util.TreeSet[InternalRow], row: InternalRow): Unit =
    if (buf.size < k) { buf.add(row); () }
    else if (ordering.compare(row, buf.first()) > 0) {
      if (buf.add(row)) { buf.pollFirst(); () } // drop the smallest kept key
    }

  override def update(buf: java.util.TreeSet[InternalRow],
      input: InternalRow): java.util.TreeSet[InternalRow] = {
    val v = child.eval(input)
    if (v != null) add(buf, toUnsafe(v.asInstanceOf[InternalRow]).copy())
    buf
  }

  override def merge(buf: java.util.TreeSet[InternalRow],
      other: java.util.TreeSet[InternalRow]): java.util.TreeSet[InternalRow] = {
    val it = other.iterator()
    while (it.hasNext) add(buf, it.next())
    buf
  }

  override def eval(buf: java.util.TreeSet[InternalRow]): Any = {
    val arr = new Array[Any](buf.size)
    val it = buf.descendingIterator() // emit descending (largest first)
    var i = 0
    while (it.hasNext) { arr(i) = it.next(); i += 1 }
    new GenericArrayData(arr)
  }

  override def serialize(buf: java.util.TreeSet[InternalRow]): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream()
    val d = new java.io.DataOutputStream(out)
    d.writeInt(buf.size)
    val it = buf.iterator()
    while (it.hasNext) {
      val bytes = it.next().asInstanceOf[UnsafeRow].getBytes
      d.writeInt(bytes.length)
      d.write(bytes)
    }
    d.flush()
    out.toByteArray
  }

  override def deserialize(bytes: Array[Byte]): java.util.TreeSet[InternalRow] = {
    val in = new java.io.DataInputStream(new java.io.ByteArrayInputStream(bytes))
    val n = in.readInt()
    val buf = createAggregationBuffer()
    var i = 0
    while (i < n) {
      val len = in.readInt()
      val rowBytes = new Array[Byte](len)
      in.readFully(rowBytes)
      val row = new UnsafeRow(structType.length)
      row.pointTo(rowBytes, len)
      buf.add(row)
      i += 1
    }
    buf
  }

  override def withNewMutableAggBufferOffset(newOffset: Int): TopKDistinct =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): TopKDistinct =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): TopKDistinct =
    copy(child = newChildren.head)
}

object TopKFunctions {

  /** Installs graft's SQL functions and plan rewrites
    * ([[GraftFunctions.register]]), among them `top_k(struct(...), k)`
    * and `top_k_distinct(struct(...), k)`. */
  def register(spark: SparkSession): Unit = GraftFunctions.register(spark)

  /** Built directly as an expression Column (session-independent — see
    * [[org.apache.spark.sql.graft.ColumnBridge]]); the SQL-name
    * registry ([[register]]) remains for `spark.sql` users. */
  def topK(structCol: Column, k: Int): Column =
    org.apache.spark.sql.graft.ColumnBridge.column(
      TopKStruct(
        org.apache.spark.sql.graft.ColumnBridge.expression(structCol),
        k).toAggregateExpression())

  /** Top-k DISTINCT values per group, emitted descending. */
  def topKDistinct(structCol: Column, k: Int): Column =
    org.apache.spark.sql.graft.ColumnBridge.column(
      TopKDistinct(
        org.apache.spark.sql.graft.ColumnBridge.expression(structCol),
        k).toAggregateExpression())

  /** Bottom-k over a non-negative LONG key, emitted ASCENDING: the
    * bounded heap on the negated key. This is the scale-correct
    * replacement for `slice(array_sort(collect_list(v)), 1, k)`, whose
    * aggregation state buffers the WHOLE group before truncating — a
    * stopword-sized posting list is the corpus in one buffer (OOM at
    * 100×); the heap state is O(k) per group with map-side partial
    * aggregation. (Negation is exact for v ≥ 0; pre-map other domains
    * onto it.) */
  def bottomKLong(key: Column, k: Int): Column = {
    import org.apache.spark.sql.functions._
    transform(
      topK(struct((-key).as("_neg"), key.as("v")), k),
      x => x.getField("v"))
  }
}
