package graft.functions

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, ExpressionInfo}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType}

/** Codegen'd dot product over two array<double> columns.
  *
  * Semantically identical to the declarative fold
  * `aggregate(zip_with(a, b, (x,y) -> x*y), 0d, (acc,x) -> acc+x)` —
  * same left-to-right accumulation order, so results are bit-for-bit equal
  * and the DuckDB `list_reduce` oracles keep matching — but it compiles to
  * a tight primitive loop inside whole-stage codegen instead of an
  * interpreted HigherOrderFunction tree with per-row array allocation.
  * This is the hot inner op of every vector-similarity operator (q25, q33,
  * q34): at 100 TB the per-pair flops are the bill.
  *
  * Null semantics match the fold: null input, length mismatch, or any null
  * element yields null.
  */
case class DotProduct(left: Expression, right: Expression)
    extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = {
    def ok(dt: DataType) = dt match {
      case ArrayType(DoubleType, _) => true
      case _ => false
    }
    if (ok(left.dataType) && ok(right.dataType)) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"graft_dot expects (array<double>, array<double>), got " +
        s"(${left.dataType.simpleString}, ${right.dataType.simpleString})")
  }
  override def dataType: DataType = DoubleType
  // Can return null (length mismatch, null element) even when both inputs
  // are non-nullable — the BinaryExpression default (children's nullability)
  // would let Catalyst fold IsNotNull away AND makes nullSafeCodeGen emit an
  // assignment to a non-declared isNull slot (janino compile failure →
  // silent interpreted fallback on non-nullable inputs, e.g. literal arrays).
  override def nullable: Boolean = true
  override def prettyName: String = "graft_dot"

  override def nullSafeEval(a: Any, b: Any): Any = {
    val (x, y) = (a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])
    val n = x.numElements()
    if (n != y.numElements()) return null
    var acc = 0.0
    var i = 0
    while (i < n) {
      if (x.isNullAt(i) || y.isNullAt(i)) return null
      acc += x.getDouble(i) * y.getDouble(i)
      i += 1
    }
    acc
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      val acc = ctx.freshName("acc")
      s"""
         |final int $n = $a.numElements();
         |if ($n != $b.numElements()) {
         |  ${ev.isNull} = true;
         |} else {
         |  double $acc = 0.0;
         |  for (int $i = 0; $i < $n; $i++) {
         |    if ($a.isNullAt($i) || $b.isNullAt($i)) { ${ev.isNull} = true; break; }
         |    $acc += $a.getDouble($i) * $b.getDouble($i);
         |  }
         |  if (!${ev.isNull}) { ${ev.value} = $acc; }
         |}
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): DotProduct =
    copy(left = newLeft, right = newRight)
}

object GraftFunctions {
  /** Idempotent per-session registration; call from any entry point, then
    * invoke via `call_function("graft_dot", ...)` etc. */
  def register(spark: SparkSession): Unit = {
    spark.sessionState.functionRegistry.registerFunction(
      FunctionIdentifier("graft_dot"),
      new ExpressionInfo(classOf[DotProduct].getName, "graft_dot"),
      (children: Seq[Expression]) => DotProduct(children(0), children(1)))
    spark.sessionState.functionRegistry.registerFunction(
      FunctionIdentifier("graft_simhash60"),
      new ExpressionInfo(classOf[SimHash60].getName, "graft_simhash60"),
      (children: Seq[Expression]) => SimHash60(children.head))
    spark.sessionState.functionRegistry.registerFunction(
      FunctionIdentifier("graft_minhash12"),
      new ExpressionInfo(classOf[MinHash12].getName, "graft_minhash12"),
      (children: Seq[Expression]) => MinHash12(children.head))
    spark.sessionState.functionRegistry.registerFunction(
      FunctionIdentifier("graft_winnow"),
      new ExpressionInfo(classOf[WinnowFps].getName, "graft_winnow"),
      (children: Seq[Expression]) => WinnowFps(children.head))
    spark.sessionState.functionRegistry.registerFunction(
      FunctionIdentifier("graft_phashsig"),
      new ExpressionInfo(classOf[PhashSig].getName, "graft_phashsig"),
      (children: Seq[Expression]) => children match {
        case Seq(c) => PhashSig(c)
        case Seq(c, org.apache.spark.sql.catalyst.expressions.Literal(b: Int,
            org.apache.spark.sql.types.IntegerType)) => PhashSig(c, b)
        case Seq(c, org.apache.spark.sql.catalyst.expressions.Literal(b: Int,
            org.apache.spark.sql.types.IntegerType),
            org.apache.spark.sql.catalyst.expressions.Literal(d: Int,
            org.apache.spark.sql.types.IntegerType)) => PhashSig(c, b, d)
        case other => throw new IllegalArgumentException(
          s"graft_phashsig expects (words[, bins-literal[, depth-literal]]), got ${other.size} args")
      })
    spark.sessionState.functionRegistry.registerFunction(
      FunctionIdentifier("graft_hash60"),
      new ExpressionInfo(classOf[Hash60].getName, "graft_hash60"),
      (children: Seq[Expression]) => Hash60(children.head))
    spark.sessionState.functionRegistry.registerFunction(
      FunctionIdentifier("graft_gramhashes"),
      new ExpressionInfo(classOf[GramHashes].getName, "graft_gramhashes"),
      (children: Seq[Expression]) => GramHashes(children(0), children(1)))
    spark.sessionState.functionRegistry.registerFunction(
      FunctionIdentifier("graft_gramstrings"),
      new ExpressionInfo(classOf[GramStrings].getName, "graft_gramstrings"),
      (children: Seq[Expression]) => GramStrings(children(0), children(1)))
    spark.sessionState.functionRegistry.registerFunction(
      FunctionIdentifier("graft_cmsbuckets"),
      new ExpressionInfo(classOf[CmsBuckets].getName, "graft_cmsbuckets"),
      (children: Seq[Expression]) =>
        CmsBuckets(children(0), children(1), children(2)))
    spark.sessionState.functionRegistry.registerFunction(
      FunctionIdentifier("graft_l2norm"),
      new ExpressionInfo(classOf[L2Normalize].getName, "graft_l2norm"),
      (children: Seq[Expression]) => L2Normalize(children.head))
    spark.sessionState.functionRegistry.registerFunction(
      FunctionIdentifier("graft_repstats"),
      new ExpressionInfo(classOf[RepStats].getName, "graft_repstats"),
      (children: Seq[Expression]) => RepStats(children.head))
    spark.sessionState.functionRegistry.registerFunction(
      FunctionIdentifier("graft_srpkeys"),
      new ExpressionInfo(classOf[SrpKeys].getName, "graft_srpkeys"),
      (children: Seq[Expression]) => SrpKeys(children(0), children(1), children(2)))
    spark.sessionState.functionRegistry.registerFunction(
      FunctionIdentifier("graft_hrw"),
      new ExpressionInfo(classOf[Hrw].getName, "graft_hrw"),
      (children: Seq[Expression]) => Hrw.build(children))
    spark.sessionState.functionRegistry.registerFunction(
      FunctionIdentifier("graft_topk"),
      new ExpressionInfo(classOf[TopKRows].getName, "graft_topk"),
      (children: Seq[Expression]) => children match {
        case Seq(score, id, k) => TopKRows(score, id, k)
        case other => throw new IllegalArgumentException(
          s"graft_topk expects 3 arguments (score, id, k), got ${other.size}")
      })
    // Spark's runtime-filter bloom primitives as callable functions (q105);
    // both sides hash via XxHash64 (same default seed), matching the
    // InjectRuntimeFilter rule's own construction.
    spark.sessionState.functionRegistry.registerFunction(
      FunctionIdentifier("graft_bloom_agg"),
      new ExpressionInfo(
        classOf[org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate].getName,
        "graft_bloom_agg"),
      (children: Seq[Expression]) =>
        new org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate(
          new org.apache.spark.sql.catalyst.expressions.XxHash64(Seq(children(0))),
          children(1)))
    spark.sessionState.functionRegistry.registerFunction(
      FunctionIdentifier("graft_might_contain"),
      new ExpressionInfo(
        classOf[org.apache.spark.sql.catalyst.expressions.BloomFilterMightContain].getName,
        "graft_might_contain"),
      (children: Seq[Expression]) =>
        org.apache.spark.sql.catalyst.expressions.BloomFilterMightContain(
          children(0),
          new org.apache.spark.sql.catalyst.expressions.XxHash64(Seq(children(1)))))
  }
}
