package graft.functions

import java.io.{ByteArrayInputStream, ByteArrayOutputStream, DataInputStream, DataOutputStream}

import scala.collection.mutable

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, ImplicitCastInputTypes}
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.trees.UnaryLike
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.graftbridge.Bridge
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Space-Saving heavy-hitter sketch (Metwally et al. 2005) as a raw
  * Catalyst `TypedImperativeAggregate` — the imperative-buffer aggregate
  * kind (binary-serialized state, partial/final merge at the physical
  * aggregation layer), like MmrAgg, next to the codegen `Expression`s
  * (DotProductExpr, BigramCodesExpr) already on the §2.8 surface.
  *
  * Semantics: at most `capacity` counters. A present key increments its
  * counter; a new key under capacity starts at 1; at capacity the
  * MINIMUM counter's key is evicted and the new key takes `min + 1`
  * (the classic overestimate-by-at-most-min bound). Merge is the
  * COMPENSATED merge of Agarwal et al. 2012 ("Mergeable Summaries"):
  * a key absent from a side that is at capacity is charged that side's
  * minimum counter (its estimate under Space-Saving semantics — the
  * true count of an absent key is at most the sketch minimum), then
  * per-key sums are truncated to the top `capacity` by (count, key).
  * This preserves the ε·n bound under ARBITRARY merge trees — without
  * the offset, repeated merges degrade the bound toward ~2n/capacity —
  * which is exactly what partial aggregation needs: each map task
  * reduces its partition to ≤capacity counters BEFORE the shuffle, so
  * the exchange carries O(partitions × capacity) rows regardless of
  * vocabulary size.
  *
  * Guarantee used by q88: any item with true frequency > n/capacity is
  * in the final sketch, including across merges (the compensated
  * estimate never undercounts, so a heavy key outranks at least one of
  * any capacity+1 counters at truncation). The query therefore treats the sketch as a
  * CANDIDATE set and exactly recounts only those ≤capacity tokens in a
  * confirm pass — making the end result bit-exact and
  * partitioning-independent even though intermediate sketch counts are
  * neither.
  *
  * Eviction ties break on the LEXICOGRAPHICALLY GREATEST key among
  * minimum counters (deterministic per buffer state); merge ties on
  * (count desc, key asc). Local determinism keeps the spec's
  * fixed-partitioning assertions stable; cross-run stability of the
  * final answer comes from the confirm pass, not the sketch.
  */
case class SpaceSavingAgg(
    child: Expression,
    capacity: Int,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
    extends TypedImperativeAggregate[mutable.HashMap[String, Long]]
    with ImplicitCastInputTypes
    with UnaryLike[Expression] {

  require(capacity > 0, "space_saving capacity must be positive")

  // Analysis-time contract: the child must be (castable to) a string —
  // without this, a non-string column surfaces as an executor-side
  // ClassCastException instead of a clear AnalysisException.
  // (covariant override: AbstractDataType is private[sql], DataType is not)
  override def inputTypes: Seq[DataType] = Seq(StringType)

  override def createAggregationBuffer(): mutable.HashMap[String, Long] =
    mutable.HashMap.empty

  override def update(
      buf: mutable.HashMap[String, Long], input: InternalRow): mutable.HashMap[String, Long] = {
    val v = child.eval(input)
    if (v != null) {
      val key = v.asInstanceOf[UTF8String].toString
      buf.get(key) match {
        case Some(n) => buf.update(key, n + 1)
        case None if buf.size < capacity => buf.update(key, 1L)
        case None =>
          // evict the (min count, lexicographically greatest key) counter
          var minKey: String = null
          var minN = Long.MaxValue
          buf.foreach { case (k, n) =>
            if (n < minN || (n == minN && (minKey == null || k > minKey))) {
              minKey = k; minN = n
            }
          }
          buf.remove(minKey)
          buf.update(key, minN + 1)
      }
    }
    buf
  }

  override def merge(
      a: mutable.HashMap[String, Long], b: mutable.HashMap[String, Long]): mutable.HashMap[String, Long] = {
    if (b.isEmpty) return a
    if (a.isEmpty) { b.foreach { case (k, n) => a.update(k, n) }; return a }
    // Compensated merge: a side at capacity estimates any absent key at
    // its minimum counter (a key it evicted can have true count at most
    // min); a side under capacity saw every key it counts, so absent
    // means a true zero.
    val minA = if (a.size >= capacity) a.values.min else 0L
    val minB = if (b.size >= capacity) b.values.min else 0L
    val merged = mutable.HashMap.empty[String, Long]
    a.foreach { case (k, n) => merged.update(k, n + b.getOrElse(k, minB)) }
    b.foreach { case (k, n) => if (!a.contains(k)) merged.update(k, n + minA) }
    val keep =
      if (merged.size > capacity) merged.toSeq.sortBy { case (k, n) => (-n, k) }.take(capacity)
      else merged.toSeq
    a.clear()
    keep.foreach { case (k, n) => a.update(k, n) }
    a
  }

  override def eval(buf: mutable.HashMap[String, Long]): Any = {
    val rows = buf.toSeq.sortBy { case (k, n) => (-n, k) }.map { case (k, n) =>
      InternalRow(UTF8String.fromString(k), n)
    }
    new GenericArrayData(rows.toArray[Any])
  }

  override def serialize(buf: mutable.HashMap[String, Long]): Array[Byte] = {
    val bos = new ByteArrayOutputStream()
    val out = new DataOutputStream(bos)
    out.writeInt(buf.size)
    buf.foreach { case (k, n) => out.writeUTF(k); out.writeLong(n) }
    out.flush()
    bos.toByteArray
  }

  override def deserialize(bytes: Array[Byte]): mutable.HashMap[String, Long] = {
    val in = new DataInputStream(new ByteArrayInputStream(bytes))
    val m = mutable.HashMap.empty[String, Long]
    var i = in.readInt()
    while (i > 0) { m.update(in.readUTF(), in.readLong()); i -= 1 }
    m
  }

  override def dataType: DataType = ArrayType(StructType(Seq(
    StructField("token", StringType, nullable = false),
    StructField("est", LongType, nullable = false))), containsNull = false)

  override def nullable: Boolean = false

  override def withNewMutableAggBufferOffset(newOffset: Int): SpaceSavingAgg =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): SpaceSavingAgg =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildInternal(newChild: Expression): SpaceSavingAgg =
    copy(child = newChild)
}

object SpaceSavingAgg {
  /** `space_saving(col, capacity)` as a Column aggregate. */
  def spaceSaving(c: Column, capacity: Int): Column =
    Bridge.column(SpaceSavingAgg(Bridge.expression(c), capacity).toAggregateExpression())

  /** SQL builder for `graft_space_saving(col, capacity)` — capacity must
    * be a foldable integer literal. */
  val sqlBuilder: Seq[Expression] => Expression = {
    case Seq(child, cap) if cap.foldable =>
      SpaceSavingAgg(child, cap.eval().toString.toInt).toAggregateExpression()
    case args =>
      throw new IllegalArgumentException(
        s"graft_space_saving(col, capacity literal) expected, got ${args.length} args")
  }
}
