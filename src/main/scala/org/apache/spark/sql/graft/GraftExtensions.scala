package org.apache.spark.sql.graft

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}
import scala.reflect.ClassTag

/** SparkSessionExtensions entry point registering the graft native
  * functions for SQL use:
  *
  *   spark.sql.extensions=org.apache.spark.sql.graft.GraftExtensions
  *
  * or `.withExtensions(new GraftExtensions)` on the session builder, or
  * [[GraftFunctions.register]] on a running session. Either way every entry
  * of [[GraftFunctions.functions]] (`array_dot`, `topk_score_id`, ...)
  * works in plain SQL text, with the same codegen/partial-agg behavior as
  * the Column API in graft.functions.
  */
object GraftFunctions {
  private[graft] type Entry = (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression)

  /** The one function table: [[register]] and [[GraftExtensions]] both
    * install exactly these entries. Each builder checks its arity against
    * the signature it is declared with. */
  private[graft] val functions: Seq[Entry] = Seq(
    fn[ArrayDotProduct]("array_dot(a, b)")(a => ArrayDotProduct(a(0), a(1))),
    fn[TopKScoreId]("topk_score_id(score, id, k)")(a =>
      TopKScoreId(a(0), a(1), intLit(a(2), "topk_score_id: k"))),
    fn[WordShingles]("word_shingles(tokens, n)")(a =>
      WordShingles(a(0), intLit(a(1), "word_shingles: n"))),
    fn[SimHashBits]("simhash_bits(tokens, nbits)")(a =>
      SimHashBits(a(0), intLit(a(1), "simhash_bits: nbits"))),
    fn[TopKScoreStr]("topk_score_str(score, id, k)")(a =>
      TopKScoreStr(a(0), a(1), intLit(a(2), "topk_score_str: k"))),
    fn[CmsEstimate]("cms_estimate(sketch, item)")(a => CmsEstimate(a(0), a(1))),
    fn[BpeEncode]("bpe_encode(tokens, merges)")(a => BpeEncode(a(0), a(1))),
    fn[HIndexLong]("hindex_long(values)")(a => HIndexLong(a(0))),
    fn[GramMatrixLong]("gram_matrix_long(vec)")(a => GramMatrixLong(a(0))))

  private def fn[T <: Expression: ClassTag](signature: String)(
      build: Seq[Expression] => Expression): Entry = {
    val name = signature.takeWhile(_ != '(')
    val arity = signature.count(_ == ',') + 1
    val checked = (args: Seq[Expression]) => {
      require(args.length == arity, s"$signature takes exactly $arity argument" +
        (if (arity == 1) "" else "s"))
      build(args)
    }
    (FunctionIdentifier(name),
      new ExpressionInfo(implicitly[ClassTag[T]].runtimeClass.getName, name), checked)
  }

  /** Runtime registration into an existing session (the extensions path
    * below only applies to sessions built after the config is set). */
  def register(spark: org.apache.spark.sql.classic.SparkSession): Unit = {
    val reg = spark.sessionState.functionRegistry
    functions.foreach { case (id, _, build) =>
      reg.createOrReplaceTempFunction(id.funcName, build, "built-in")
    }
  }

  // integral literals only — a fractional literal (word_shingles(t, 2.9))
  // must error, not silently truncate to n=2
  private def intLit(e: Expression, what: String): Int = e match {
    case org.apache.spark.sql.catalyst.expressions.Literal(v: Int, _) => v
    case org.apache.spark.sql.catalyst.expressions.Literal(v: Long, _) if v.isValidInt => v.toInt
    case org.apache.spark.sql.catalyst.expressions.Literal(v: Long, _) => throw new IllegalArgumentException(
      s"$what is out of Int range: $v")
    case org.apache.spark.sql.catalyst.expressions.Literal(v: Short, _) => v.toInt
    case org.apache.spark.sql.catalyst.expressions.Literal(v: Byte, _) => v.toInt
    case other => throw new IllegalArgumentException(
      s"$what must be an integral literal, got $other")
  }

  def register(spark: org.apache.spark.sql.SparkSession): Unit =
    register(spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession])
}

class GraftExtensions extends (SparkSessionExtensions => Unit) {

  // No optimizer rule is injected: injected rules run in the operator-
  // optimization batches beside ColumnPruning, where GlobalScanRewrite's
  // exchange reuse does not hold (see its scaladoc), so q133 attaches it to
  // the post-pruning `extraOptimizations` batch; EpochNanosPredicatePushdown
  // is attached the same way by `graft.Tables.events`, the only place its
  // derived column exists.
  override def apply(ext: SparkSessionExtensions): Unit = {
    ext.injectPlannerStrategy(IntervalJoinStrategy)
    GraftFunctions.functions.foreach(ext.injectFunction)
  }
}
