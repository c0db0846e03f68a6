package graft.functions

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{BloomFilterMightContain, Expression, ExpressionInfo, Literal, XxHash64}
import org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate
import org.apache.spark.sql.types.IntegerType

/** The engine's functions as a Spark session extension: every entry in
  * `GraftFunctions.table` is injected into the function registry when the
  * session is built, so SQL and `call_function` see them with no
  * per-operator setup. `graft.Sessions.builder` installs it on every engine
  * session; `newSession()` and streaming clones share the parent's
  * extensions, so they resolve the same names. A session built outside
  * `Sessions` can add `spark.sql.extensions=graft.functions.GraftExtensions`.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit =
    GraftFunctions.table.foreach { case (name, cls, build) =>
      ext.injectFunction((FunctionIdentifier(name),
        new ExpressionInfo(cls.getName, name), build))
    }
}

object GraftFunctions {
  private type Builder = Seq[Expression] => Expression

  /** A fixed-arity entry: the wrong argument count is a clean
    * IllegalArgumentException naming the signature, not an index crash
    * inside the builder. */
  private def fn(name: String, cls: Class[_], params: String*)(
      build: Seq[Expression] => Expression): (String, Class[_], Builder) =
    (name, cls, children => {
      if (children.size != params.size) throw new IllegalArgumentException(
        s"$name expects ${params.size} argument${if (params.size == 1) "" else "s"} " +
          s"(${params.mkString(", ")}), got ${children.size}")
      build(children)
    })

  private def phashSig(children: Seq[Expression]): Expression = children match {
    case Seq(c) => PhashSig(c)
    case Seq(c, Literal(b: Int, IntegerType)) => PhashSig(c, b)
    case Seq(c, Literal(b: Int, IntegerType), Literal(d: Int, IntegerType)) =>
      PhashSig(c, b, d)
    case other if other.size < 1 || other.size > 3 =>
      throw new IllegalArgumentException(
        s"graft_phashsig expects (words[, bins-literal[, depth-literal]]), got ${other.size} args")
    case other =>
      // Arity is fine — the bins/depth argument just isn't an INT literal
      // ("got N args" misled SQL users passing foldable expressions like
      // 8*2, which Catalyst has not folded at function-build time).
      throw new IllegalArgumentException(
        "graft_phashsig bins/depth arguments must be INT literals " +
          s"(constant expressions are not folded at registration); got: " +
          other.drop(1).map(_.sql).mkString(", "))
  }

  /** The one (name, expression class, builder) table `GraftExtensions`
    * installs. */
  val table: Seq[(String, Class[_], Builder)] = Seq(
    fn("graft_dot", classOf[DotProduct], "a", "b")(c => DotProduct(c(0), c(1))),
    fn("graft_simhash60", classOf[SimHash60], "words")(c => SimHash60(c(0))),
    fn("graft_minhash12", classOf[MinHash12], "words")(c => MinHash12(c(0))),
    fn("graft_winnow", classOf[WinnowFps], "words")(c => WinnowFps(c(0))),
    ("graft_phashsig", classOf[PhashSig], phashSig),
    fn("graft_hash60", classOf[Hash60], "s")(c => Hash60(c(0))),
    fn("graft_gramhashes", classOf[GramHashes], "words", "n")(
      c => GramHashes(c(0), c(1))),
    fn("graft_gramstrings", classOf[GramStrings], "words", "n")(
      c => GramStrings(c(0), c(1))),
    fn("graft_cmsbuckets", classOf[CmsBuckets], "v", "d", "w")(
      c => CmsBuckets(c(0), c(1), c(2))),
    fn("graft_l2norm", classOf[L2Normalize], "v")(c => L2Normalize(c(0))),
    fn("graft_repstats", classOf[RepStats], "words")(c => RepStats(c(0))),
    fn("graft_srpkeys", classOf[SrpKeys], "en", "planes", "r")(
      c => SrpKeys(c(0), c(1), c(2))),
    ("graft_hrw", classOf[Hrw], Hrw.build),
    fn("graft_topk", classOf[TopKRows], "score", "id", "k")(
      c => TopKRows(c(0), c(1), c(2))),
    fn("graft_levenshtein", classOf[EditDistance], "a", "b")(
      c => EditDistance(c(0), c(1))),
    fn("graft_bucket_pairs", classOf[BucketPairs], "ds")(c => BucketPairs(c(0))),
    // Spark's own runtime-filter primitives, surfaced as callable functions
    // (q105 bloom decontamination): the agg builds the sketch over
    // xxhash64(value) exactly as the InjectRuntimeFilter rule does, and
    // might_contain hashes with the same seed, so the two always agree.
    fn("graft_bloom_agg", classOf[BloomFilterAggregate], "value", "expected-items")(
      c => new BloomFilterAggregate(new XxHash64(Seq(c(0))), c(1))),
    fn("graft_might_contain", classOf[BloomFilterMightContain], "bloom", "value")(
      c => BloomFilterMightContain(c(0), new XxHash64(Seq(c(1))))))
}
