package graft.functions

import java.nio.ByteBuffer

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types._

/** Bounded top-k state: ≤ k (score, id) pairs kept in rank order
  * (score desc, id asc — a deterministic total order, so ties can
  * never make the result depend on partitioning or merge order).
  */
final class TopKState(val k: Int) {
  val scores = new Array[Double](k)
  val ids = new Array[Long](k)
  var n: Int = 0

  /** rank comparator: is (s, i) strictly better than slot `j`?
    * `Double.compare` (not raw `>`) keeps the order TOTAL — NaN ranks
    * as the largest score like Spark's descending sort, instead of
    * comparing false against everything and landing wherever the
    * merge order happened to put it (a partitioning-dependent result).
    */
  @inline private def better(s: Double, i: Long, j: Int): Boolean = {
    val c = java.lang.Double.compare(s, scores(j))
    c > 0 || (c == 0 && i < ids(j))
  }

  def insert(s: Double, i: Long): Unit = {
    if (n == k && !better(s, i, n - 1)) return
    // find insertion point (k is small — linear scan beats branchy
    // binary search at these sizes and stays trivially correct)
    var pos = if (n == k) n - 1 else n
    while (pos > 0 && better(s, i, pos - 1)) pos -= 1
    // SET semantics: an exact (score, id) duplicate is the same
    // logical row seen again (id is a key in every caller) — skip it.
    // The order is total and strict, so a duplicate can only sit
    // immediately above the insertion point. This is what makes the
    // aggregate a KMV distinct sketch (min-k over a SET) and merge
    // idempotent, with no behavior change for unique-id rankings.
    if (pos > 0 &&
      java.lang.Double.compare(scores(pos - 1), s) == 0 && ids(pos - 1) == i)
      return
    var j = math.min(n, k - 1)
    while (j > pos) {
      scores(j) = scores(j - 1); ids(j) = ids(j - 1); j -= 1
    }
    scores(pos) = s; ids(pos) = i
    if (n < k) n += 1
  }

  def mergeFrom(other: TopKState): Unit = {
    var j = 0
    while (j < other.n) { insert(other.scores(j), other.ids(j)); j += 1 }
  }

  /** The pairs as [[TopKState.dataType]], in rank order. */
  def toArrayData: GenericArrayData = {
    val rows = new Array[Any](n)
    var j = 0
    while (j < n) { rows(j) = InternalRow(scores(j), ids(j)); j += 1 }
    new GenericArrayData(rows)
  }

  def serialize(): Array[Byte] = {
    val bb = ByteBuffer.allocate(4 + n * 16)
    bb.putInt(n)
    var j = 0
    while (j < n) { bb.putDouble(scores(j)); bb.putLong(ids(j)); j += 1 }
    bb.array()
  }
}

object TopKState {
  val dataType: DataType = ArrayType(
    StructType(Seq(
      StructField("score", DoubleType, nullable = false),
      StructField("id", LongType, nullable = false))),
    containsNull = false)

  def deserialize(k: Int, bytes: Array[Byte]): TopKState = {
    val bb = ByteBuffer.wrap(bytes)
    val n = bb.getInt
    val st = new TopKState(k)
    var j = 0
    // stored in rank order, so re-inserting preserves it in O(n·1)
    // appends (each new pair ranks after the previous)
    while (j < n) { st.insert(bb.getDouble, bb.getLong); j += 1 }
    st
  }
}

/** Exact top-k per group as a native `TypedImperativeAggregate` — the
  * bounded-memory replacement for the `row_number() OVER (PARTITION BY
  * … ORDER BY …) <= k` window at corpus scale. The window shape
  * shuffles and sorts EVERY row on the group key; this aggregate
  * map-side combines, so at most k (score, id) pairs per group per
  * input partition ever cross the shuffle, and nothing is sorted but
  * the k-slot insertion buffers. At 100 TB with a bounded group count
  * that is the difference between an all-data exchange and a
  * groups×k-row one.
  *
  * Deterministic: rank order is (score desc, id asc) — a total order,
  * so the result is independent of partitioning and merge order.
  * Emits `array<struct<score double, id bigint>>` in rank order;
  * callers `posexplode` it back to rows (pos + 1 = rank).
  *
  * Reference surface: none (novel extension); the windowed twin is
  * `Relational.w3TopNPerGroup`.
  */
case class TopKAgg(score: Expression, id: Expression, k: Int,
    mutableAggBufferOffset: Int = 0, inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[TopKState] {

  require(k >= 1, "top_k_agg needs k >= 1")

  override def children: Seq[Expression] = score :: id :: Nil
  override def nullable: Boolean = false
  override def dataType: DataType = TopKState.dataType

  override def checkInputDataTypes(): TypeCheckResult =
    (score.dataType, id.dataType) match {
      case (DoubleType, LongType) => TypeCheckResult.TypeCheckSuccess
      case other => TypeCheckResult.TypeCheckFailure(
        s"top_k_agg expects (double score, bigint id), got $other")
    }

  override def createAggregationBuffer(): TopKState = new TopKState(k)

  override def update(buf: TopKState, input: InternalRow): TopKState = {
    val s = score.eval(input)
    val i = id.eval(input)
    if (s != null && i != null)
      buf.insert(s.asInstanceOf[Double], i.asInstanceOf[Long])
    buf
  }

  override def merge(a: TopKState, b: TopKState): TopKState = {
    a.mergeFrom(b); a
  }
  override def eval(buf: TopKState): Any = buf.toArrayData
  override def serialize(buf: TopKState): Array[Byte] = buf.serialize()
  override def deserialize(bytes: Array[Byte]): TopKState =
    TopKState.deserialize(k, bytes)

  override def withNewMutableAggBufferOffset(o: Int): TopKAgg =
    copy(mutableAggBufferOffset = o)
  override def withNewInputAggBufferOffset(o: Int): TopKAgg =
    copy(inputAggBufferOffset = o)
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): Expression =
    copy(score = newChildren(0), id = newChildren(1))
  override def prettyName: String = "top_k_agg"
}

/** Merge of PRE-BUILT [[TopKAgg]] sketches — the re-aggregation arm of
  * an iterative sketch algorithm ([[graft.operators.GraphOps.kmvBall]]'s
  * round merges): each input row carries a whole
  * `array<struct<score double, id bigint>>` sketch, and the buffer is
  * the same [[TopKState]], fed by inserting the array's pairs verbatim.
  * Semantically identical to exploding the array and running
  * [[TopKAgg]] over (score, id) rows — insertion order cannot matter
  * because the rank order is total and insert is a set-insert — but the
  * aggregate touches one row per SKETCH instead of one per element, so
  * the explode's k× row amplification through the hash aggregate
  * (k·|edges| rows of per-row group lookup at every merge round)
  * disappears (guide §2.3: shuffle/aggregate fewer, wider rows).
  */
case class TopKMergeAgg(sketch: Expression, k: Int,
    mutableAggBufferOffset: Int = 0, inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[TopKState] {

  require(k >= 1, "top_k_merge_agg needs k >= 1")

  override def children: Seq[Expression] = sketch :: Nil
  override def nullable: Boolean = false
  override def dataType: DataType = TopKState.dataType

  override def checkInputDataTypes(): TypeCheckResult = sketch.dataType match {
    case ArrayType(StructType(Array(
      StructField(_, DoubleType, _, _), StructField(_, LongType, _, _))), _) =>
      TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"top_k_merge_agg expects array<struct<double, bigint>>, got $other")
  }

  override def createAggregationBuffer(): TopKState = new TopKState(k)

  override def update(buf: TopKState, input: InternalRow): TopKState = {
    val arr = sketch.eval(input)
    if (arr != null) {
      val a = arr.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData]
      var j = 0
      val n = a.numElements()
      while (j < n) {
        // the input type admits null elements and null fields: skip them
        if (!a.isNullAt(j)) {
          val row = a.getStruct(j, 2)
          if (!row.isNullAt(0) && !row.isNullAt(1))
            buf.insert(row.getDouble(0), row.getLong(1))
        }
        j += 1
      }
    }
    buf
  }

  override def merge(a: TopKState, b: TopKState): TopKState = {
    a.mergeFrom(b); a
  }
  override def eval(buf: TopKState): Any = buf.toArrayData
  override def serialize(buf: TopKState): Array[Byte] = buf.serialize()
  override def deserialize(bytes: Array[Byte]): TopKState =
    TopKState.deserialize(k, bytes)

  override def withNewMutableAggBufferOffset(o: Int): TopKMergeAgg =
    copy(mutableAggBufferOffset = o)
  override def withNewInputAggBufferOffset(o: Int): TopKMergeAgg =
    copy(inputAggBufferOffset = o)
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): Expression =
    copy(sketch = newChildren(0))
  override def prettyName: String = "top_k_merge_agg"
}

/** [[TopKState]] with STRING ids plus one LONG payload per entry.
  * Rank order is (score desc, id asc by UTF8String binary compare,
  * Spark's own string sort order and DuckDB's default collation, so
  * the tie-break is engine-identical); the payload rides along with
  * whatever that order keeps and never participates in it.
  */
final class TopKStrPayState(val k: Int) {
  import org.apache.spark.unsafe.types.UTF8String
  val scores = new Array[Double](k)
  val ids = new Array[UTF8String](k)
  val pays = new Array[Long](k)
  var n: Int = 0

  @inline private def better(s: Double, i: UTF8String, j: Int): Boolean = {
    val c = java.lang.Double.compare(s, scores(j))
    c > 0 || (c == 0 && i.compareTo(ids(j)) < 0)
  }

  def insert(s: Double, i: UTF8String, p: Long): Unit = {
    if (n == k && !better(s, i, n - 1)) return
    var pos = if (n == k) n - 1 else n
    while (pos > 0 && better(s, i, pos - 1)) pos -= 1
    // SET semantics on (score, id) — the payload is functionally
    // determined by the id in every caller, so the duplicate's
    // payload is identical by contract
    if (pos > 0 &&
      java.lang.Double.compare(scores(pos - 1), s) == 0 &&
      ids(pos - 1).compareTo(i) == 0)
      return
    var j = math.min(n, k - 1)
    while (j > pos) {
      scores(j) = scores(j - 1); ids(j) = ids(j - 1); pays(j) = pays(j - 1)
      j -= 1
    }
    scores(pos) = s; ids(pos) = i; pays(pos) = p
    if (n < k) n += 1
  }
}

/** [[TopKAgg]] over string-keyed rows carrying an opaque LONG payload
  * per row — the per-document term ranker (top-k terms by tf-idf):
  * the same bounded map-side-combining shape, so a doc-partitioned
  * `row_number` window (which shuffles and sorts every (doc, term)
  * row) collapses to a k-rows-per-group exchange. The payload lets a
  * ranker surface per-row attributes (tf/df counts, bit-packed)
  * WITHOUT either encoding them into the id string (a per-input-row
  * allocation on the corpus-scale update path) or re-attaching them
  * by a docs-scale join/broadcast after ranking. Ordering is
  * [[TopKStrPayState]]'s. Emits
  * `array<struct<score double, id string, pay bigint>>`.
  */
case class TopKStrPayAgg(score: Expression, id: Expression,
    pay: Expression, k: Int,
    mutableAggBufferOffset: Int = 0, inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[TopKStrPayState] {
  import org.apache.spark.unsafe.types.UTF8String

  require(k >= 1, "top_k_str_pay_agg needs k >= 1")

  override def children: Seq[Expression] = score :: id :: pay :: Nil
  override def nullable: Boolean = false
  override def dataType: DataType = ArrayType(
    StructType(Seq(
      StructField("score", DoubleType, nullable = false),
      StructField("id", StringType, nullable = false),
      StructField("pay", LongType, nullable = false))),
    containsNull = false)

  override def checkInputDataTypes(): TypeCheckResult =
    (score.dataType, id.dataType, pay.dataType) match {
      case (DoubleType, StringType, LongType) =>
        TypeCheckResult.TypeCheckSuccess
      case other => TypeCheckResult.TypeCheckFailure(
        s"top_k_str_pay_agg expects (double, string, bigint), got $other")
    }

  override def createAggregationBuffer(): TopKStrPayState =
    new TopKStrPayState(k)

  override def update(buf: TopKStrPayState, input: InternalRow): TopKStrPayState = {
    val s = score.eval(input)
    val i = id.eval(input)
    val p = pay.eval(input)
    if (s != null && i != null && p != null)
      // clone: the input row's bytes are buffer-backed and reused
      buf.insert(s.asInstanceOf[Double],
        i.asInstanceOf[UTF8String].clone(), p.asInstanceOf[Long])
    buf
  }

  override def merge(a: TopKStrPayState, b: TopKStrPayState): TopKStrPayState = {
    var j = 0
    while (j < b.n) { a.insert(b.scores(j), b.ids(j), b.pays(j)); j += 1 }
    a
  }

  override def eval(buf: TopKStrPayState): Any = {
    val rows = new Array[Any](buf.n)
    var j = 0
    while (j < buf.n) {
      rows(j) = InternalRow(buf.scores(j), buf.ids(j), buf.pays(j))
      j += 1
    }
    new GenericArrayData(rows)
  }

  override def serialize(buf: TopKStrPayState): Array[Byte] = {
    var size = 4
    var j = 0
    while (j < buf.n) { size += 8 + 8 + 4 + buf.ids(j).numBytes(); j += 1 }
    val bb = ByteBuffer.allocate(size)
    bb.putInt(buf.n)
    j = 0
    while (j < buf.n) {
      bb.putDouble(buf.scores(j))
      bb.putLong(buf.pays(j))
      val bytes = buf.ids(j).getBytes
      bb.putInt(bytes.length)
      bb.put(bytes)
      j += 1
    }
    bb.array()
  }

  override def deserialize(bytes: Array[Byte]): TopKStrPayState = {
    val bb = ByteBuffer.wrap(bytes)
    val n = bb.getInt
    val st = new TopKStrPayState(k)
    var j = 0
    while (j < n) {
      val s = bb.getDouble
      val p = bb.getLong
      val len = bb.getInt
      val arr = new Array[Byte](len)
      bb.get(arr)
      st.insert(s, UTF8String.fromBytes(arr), p)
      j += 1
    }
    st
  }

  override def withNewMutableAggBufferOffset(o: Int): TopKStrPayAgg =
    copy(mutableAggBufferOffset = o)
  override def withNewInputAggBufferOffset(o: Int): TopKStrPayAgg =
    copy(inputAggBufferOffset = o)
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): Expression =
    copy(score = newChildren(0), id = newChildren(1), pay = newChildren(2))
  override def prettyName: String = "top_k_str_pay_agg"
}
