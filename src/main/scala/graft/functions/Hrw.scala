package graft.functions

import java.nio.charset.StandardCharsets

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.{DataType, LongType}

/** Highest-random-weight (rendezvous) shard of a doc_id among `n` shards
  * as ONE codegen'd expression (Thaler & Ravishankar 1996).
  *
  * Bit-compatible with the declarative formulation (`Eval.hrwSpark`) and
  * its DuckDB oracle twin: shard = argmax over s ∈ [0, n) of the 60-bit
  * fold (first 15 hex digits) of md5("hrw" + s + ":" + doc_id), ties to
  * the LARGER s — the (h, s) struct-max order both engines apply.
  *
  * The declarative version (array_max over a transform-built struct
  * array) runs interpreted with a per-row array allocation and n
  * interpreted md5/conv/substr chains; this loop is MD5-bound. Same
  * rationale as SimHash60 — HOF lambdas get no codegen and no
  * subexpression elimination.
  */
case class Hrw(child: Expression, n: Int) extends UnaryExpression {
  require(n > 0, "graft_hrw needs a positive shard count")

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case LongType => TypeCheckResult.TypeCheckSuccess
    case dt => TypeCheckResult.TypeCheckFailure(
      s"graft_hrw expects bigint doc_id, got ${dt.simpleString}")
  }
  override def dataType: DataType = LongType
  override def prettyName: String = "graft_hrw"

  override def nullSafeEval(input: Any): Any =
    Hrw.compute(input.asInstanceOf[Long], n)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.Hrw.compute($c, $n)")

  override protected def withNewChildInternal(newChild: Expression): Hrw =
    copy(child = newChild)
}

object Hrw {

  /** SQL function builder (the `graft_hrw` entry of
    * `GraftFunctions.table`). The shard count must
    * fold to a driver-side Int at registration — it sizes the per-row
    * candidate loop — and SQL integer literals parse as INT or BIGINT
    * depending on magnitude/dialect, so both are accepted (ADVICE r15:
    * a BIGINT literal used to be misreported as an arity error). */
  def build(children: Seq[Expression]): Expression = children match {
    case Seq(c, org.apache.spark.sql.catalyst.expressions.Literal(n: Int,
        org.apache.spark.sql.types.IntegerType)) => Hrw(c, n)
    case Seq(c, org.apache.spark.sql.catalyst.expressions.Literal(n: Long,
        org.apache.spark.sql.types.LongType))
        if n >= 1 && n <= Int.MaxValue => Hrw(c, n.toInt)
    case Seq(_, n) => throw new IllegalArgumentException(
      "graft_hrw shard count must be an INT or BIGINT literal in " +
        s"[1, ${Int.MaxValue}] (constant expressions are not folded at " +
        s"registration); got: ${n.sql}")
    case other => throw new IllegalArgumentException(
      s"graft_hrw expects 2 arguments (doc_id, shard-count literal), " +
        s"got ${other.size}")
  }

  def compute(docId: Long, n: Int): Long = {
    val md = Hash60.digest()
    var best = -1L
    var bestS = 0L
    var s = 0
    while (s < n) {
      val h = Hash60.fold60(
        md.digest(("hrw" + s + ":" + docId).getBytes(StandardCharsets.UTF_8)))
      if (h >= best) { best = h; bestS = s.toLong } // tie → larger s
      s += 1
    }
    bestS
  }
}
