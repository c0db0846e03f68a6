package graft.functions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types._

/** Bounded top-k buffer: k best (score DESC, id ASC) pairs, insertion-
  * sorted. O(k) memory; O(k) worst-case insert, O(1) reject for rows
  * worse than the current k-th. k is a literal 5 or 20 at the catalog
  * sites (MatK, RetrK, q79) but corpus-scaled in the PQ/IVFPQ store
  * re-rankers: IndexStore.autoRerank passes max(100, n/2000) unless the
  * caller gives an explicit depth — 100 at every harness scale, 1000 at
  * 2M vectors, and unbounded above that — so an insert there can shift
  * up to ~n/2000 entries. */
final class TopKState(val k: Int) {
  var n: Int = 0
  val scores: Array[Long] = new Array[Long](k)
  val ids: Array[Long] = new Array[Long](k)

  @inline private def beats(s: Long, id: Long, i: Int): Boolean =
    s > scores(i) || (s == scores(i) && id < ids(i))

  def insert(s: Long, id: Long): Unit = {
    if (n == k) {
      if (!beats(s, id, n - 1)) return
      n -= 1
    }
    var pos = n
    while (pos > 0 && beats(s, id, pos - 1)) pos -= 1
    var j = n
    while (j > pos) { scores(j) = scores(j - 1); ids(j) = ids(j - 1); j -= 1 }
    scores(pos) = s
    ids(pos) = id
    n += 1
  }
}

/** `graft_topk(score, id, k)`: per-group top-k as a native Catalyst
  * TypedImperativeAggregate — the engine's one top-k.
  *
  * Keeps the k best rows under the TOTAL order (score DESC, id ASC) and
  * outputs them in that order as array<struct<doc_id, score>> (rank =
  * array position + 1). It operates on UnsafeRows inside
  * ObjectHashAggregate with partial (map-side) aggregation and an O(k)
  * primitive-array buffer: bounded state, no object boundary, and no
  * per-group sort as the window formulation would need. TopKRowsSpec and
  * the q55/q110 oracles pin equivalence with that window formulation.
  *
  * Null score/id rows are skipped (no call site can produce them — scores
  * are arithmetic over non-null aggregates).
  */
case class TopKRows(
    score: Expression,
    id: Expression,
    kExpr: Expression,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[TopKState] {

  private lazy val k: Int = kExpr.eval().asInstanceOf[Number].intValue

  override def children: Seq[Expression] = Seq(score, id, kExpr)

  override def checkInputDataTypes(): TypeCheckResult = {
    if (score.dataType != LongType || id.dataType != LongType ||
        kExpr.dataType != IntegerType)
      TypeCheckResult.TypeCheckFailure(
        s"graft_topk expects (bigint score, bigint id, int k), got " +
          s"(${score.dataType.simpleString}, ${id.dataType.simpleString}, " +
          s"${kExpr.dataType.simpleString})")
    else if (!kExpr.foldable || kExpr.eval() == null)
      TypeCheckResult.TypeCheckFailure("graft_topk: k must be a non-null literal")
    else if (kExpr.eval().asInstanceOf[Number].intValue <= 0)
      TypeCheckResult.TypeCheckFailure("graft_topk: k must be positive")
    else TypeCheckResult.TypeCheckSuccess
  }

  override def dataType: DataType = ArrayType(StructType(Seq(
    StructField("doc_id", LongType, nullable = false),
    StructField("score", LongType, nullable = false))), containsNull = false)
  override def nullable: Boolean = false
  override def prettyName: String = "graft_topk"

  override def createAggregationBuffer(): TopKState = new TopKState(k)

  override def update(buf: TopKState, input: InternalRow): TopKState = {
    val s = score.eval(input)
    if (s != null) {
      val i = id.eval(input)
      if (i != null) buf.insert(s.asInstanceOf[Long], i.asInstanceOf[Long])
    }
    buf
  }

  override def merge(buf: TopKState, other: TopKState): TopKState = {
    var i = 0
    while (i < other.n) { buf.insert(other.scores(i), other.ids(i)); i += 1 }
    buf
  }

  override def eval(buf: TopKState): Any = {
    val out = new Array[Any](buf.n)
    var i = 0
    while (i < buf.n) {
      out(i) = InternalRow(buf.ids(i), buf.scores(i))
      i += 1
    }
    new GenericArrayData(out)
  }

  override def serialize(buf: TopKState): Array[Byte] = {
    val bb = java.nio.ByteBuffer.allocate(4 + 16 * buf.n)
    bb.putInt(buf.n)
    var i = 0
    while (i < buf.n) { bb.putLong(buf.scores(i)); bb.putLong(buf.ids(i)); i += 1 }
    bb.array()
  }

  override def deserialize(bytes: Array[Byte]): TopKState = {
    val bb = java.nio.ByteBuffer.wrap(bytes)
    val n = bb.getInt
    val st = new TopKState(k)
    // Entries arrive already ordered (serialize walks the sorted buffer),
    // so each insert is an O(1) append — but insert() stays the invariant
    // keeper; no ordering assumption is load-bearing here.
    var i = 0
    while (i < n) { val s = bb.getLong; val d = bb.getLong; st.insert(s, d); i += 1 }
    st
  }

  override def withNewMutableAggBufferOffset(newOffset: Int): TopKRows =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): TopKRows =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): TopKRows =
    copy(score = newChildren(0), id = newChildren(1), kExpr = newChildren(2))
}
