package graft.functions

import java.nio.ByteBuffer

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, ImplicitCastInputTypes}
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.trees.TernaryLike
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData, SQLOrderingUtil}
import org.apache.spark.sql.graftbridge.Bridge
import org.apache.spark.sql.types._

import graft.vector.Mmr

/** O18 as one native aggregate: top-`fetchK` candidate fetch and greedy
  * MMR selection fused into a `TypedImperativeAggregate`, the kind of
  * [[BottomKSampleAgg]] and [[SpaceSavingAgg]].
  *
  * Input per row: a candidate's `id` (BIGINT), its relevance `score`
  * (DOUBLE, the cosine to the group's question) and its vector
  * (ARRAY<DOUBLE>). Rows with a null id, score or vector are skipped.
  *
  * The buffer holds at most `fetchK` candidates in the order
  * (score DESC, id ASC) — the order of the `row_number` window this
  * aggregate replaces, with Spark's floating-point comparison: NaN is the
  * largest value and −0.0 equals 0.0. `update` reads the vector only when
  * a candidate enters the buffer, so a partial aggregate copies ≤ fetchK
  * vectors per group plus one per displacement, never one per row. `merge`
  * keeps the first `fetchK` of the union of two buffers; the top-`fetchK`
  * of a union is the top-`fetchK` of the parts' top-`fetchK`s, so any
  * merge tree yields the same candidate set. `eval` runs [[Mmr.select]]
  * once per group on that set and returns
  * `array<struct<vec_id, mmr_score, mmr_rank>>`, ranks 1..min(k, fetchK, rows).
  */
case class MmrAgg(
    id: Expression,
    score: Expression,
    vec: Expression,
    k: Int,
    fetchK: Int,
    lambda: Double,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
    extends TypedImperativeAggregate[MmrAgg.Buffer]
    with ImplicitCastInputTypes
    with TernaryLike[Expression] {

  require(k > 0, "MMR k must be positive")
  require(fetchK > 0, "MMR fetch_k must be positive")

  override def first: Expression = id
  override def second: Expression = score
  override def third: Expression = vec

  override def inputTypes: Seq[DataType] = Seq(LongType, DoubleType, ArrayType(DoubleType))

  override def createAggregationBuffer(): MmrAgg.Buffer = new MmrAgg.Buffer(fetchK)

  override def update(buf: MmrAgg.Buffer, input: InternalRow): MmrAgg.Buffer = {
    val i = id.eval(input)
    val s = score.eval(input)
    if (i != null && s != null) {
      val cid = i.asInstanceOf[Long]
      val cs = s.asInstanceOf[Double]
      if (buf.admits(cs, cid)) {
        val v = vec.eval(input)
        if (v != null) buf.insert(cs, cid, v.asInstanceOf[ArrayData].toDoubleArray())
      }
    }
    buf
  }

  override def merge(a: MmrAgg.Buffer, b: MmrAgg.Buffer): MmrAgg.Buffer = {
    var j = 0
    while (j < b.n && a.admits(b.scores(j), b.ids(j))) {
      a.insert(b.scores(j), b.ids(j), b.vecs(j))
      j += 1
    }
    a
  }

  override def eval(buf: MmrAgg.Buffer): Any = {
    val cands = (0 until buf.n).map(j => (buf.ids(j), buf.scores(j), buf.vecs(j)))
    val picks = Mmr.select(cands, k, lambda).map { case (vid, sc, rank) =>
      InternalRow(vid, sc, rank)
    }
    new GenericArrayData(picks.toArray[Any])
  }

  /** Binary layout: count (int), then per candidate in buffer order
    * id (long), score (double), dim (int) and dim doubles. */
  override def serialize(buf: MmrAgg.Buffer): Array[Byte] = {
    var size = 4
    var j = 0
    while (j < buf.n) { size += 20 + 8 * buf.vecs(j).length; j += 1 }
    val out = ByteBuffer.allocate(size)
    out.putInt(buf.n)
    j = 0
    while (j < buf.n) {
      val v = buf.vecs(j)
      out.putLong(buf.ids(j)).putDouble(buf.scores(j)).putInt(v.length)
      out.asDoubleBuffer().put(v)
      out.position(out.position() + 8 * v.length)
      j += 1
    }
    out.array()
  }

  override def deserialize(bytes: Array[Byte]): MmrAgg.Buffer = {
    val in = ByteBuffer.wrap(bytes)
    val buf = new MmrAgg.Buffer(fetchK)
    val n = in.getInt()
    require(n <= fetchK, s"MMR buffer holds $n candidates, more than fetch_k = $fetchK")
    while (buf.n < n) {
      val cid = in.getLong()
      val cs = in.getDouble()
      val v = new Array[Double](in.getInt())
      in.asDoubleBuffer().get(v)
      in.position(in.position() + 8 * v.length)
      buf.ids(buf.n) = cid; buf.scores(buf.n) = cs; buf.vecs(buf.n) = v
      buf.n += 1
    }
    buf
  }

  override def dataType: DataType = MmrAgg.PicksType
  override def nullable: Boolean = false

  override def withNewMutableAggBufferOffset(newOffset: Int): MmrAgg =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): MmrAgg =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildrenInternal(
      newFirst: Expression, newSecond: Expression, newThird: Expression): MmrAgg =
    copy(id = newFirst, score = newSecond, vec = newThird)
}

object MmrAgg {

  val PicksType: DataType = ArrayType(StructType(Seq(
    StructField("vec_id", LongType, nullable = false),
    StructField("mmr_score", DoubleType, nullable = false),
    StructField("mmr_rank", IntegerType, nullable = false))), containsNull = false)

  /** The ≤ `cap` best candidates seen so far, sorted (score DESC, id ASC)
    * in parallel arrays. */
  final class Buffer(cap: Int) {
    var n = 0
    val ids = new Array[Long](cap)
    val scores = new Array[Double](cap)
    val vecs = new Array[Array[Double]](cap)

    /** (s1, id1) sorts strictly before (s2, id2). */
    private def before(s1: Double, id1: Long, s2: Double, id2: Long): Boolean = {
      val c = SQLOrderingUtil.compareDoubles(s1, s2)
      c > 0 || (c == 0 && id1 < id2)
    }

    /** Would (s, id) be kept: the buffer has room or it beats the last. */
    def admits(s: Double, id: Long): Boolean =
      n < cap || before(s, id, scores(n - 1), ids(n - 1))

    /** Insert an admitted candidate in order, dropping the last if full. */
    def insert(s: Double, id: Long, v: Array[Double]): Unit = {
      var j = if (n < cap) n else cap - 1
      if (n < cap) n += 1
      while (j > 0 && before(s, id, scores(j - 1), ids(j - 1))) {
        ids(j) = ids(j - 1); scores(j) = scores(j - 1); vecs(j) = vecs(j - 1)
        j -= 1
      }
      ids(j) = id; scores(j) = s; vecs(j) = v
    }
  }

  /** `MmrAgg(id, score, vec, k, fetchK, λ)` as a Column aggregate. */
  def mmr(id: Column, score: Column, vec: Column, k: Int, fetchK: Int, lambda: Double): Column =
    Bridge.column(MmrAgg(Bridge.expression(id), Bridge.expression(score),
      Bridge.expression(vec), k, fetchK, lambda).toAggregateExpression())
}
