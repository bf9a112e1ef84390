package graft

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}

import graft.functions.GraftExpressions._

/** SparkSessionExtensions entry point: registers the engine's custom
  * Catalyst expressions as SQL functions, so `spark.sql` users get the
  * same fused operators the DataFrame API exposes:
  *
  * {{{
  * builder.withExtensions(new GraftExtensions)...
  * // or: spark.sql.extensions=graft.GraftExtensions
  * spark.sql("SELECT graft_minhash(graft_shingles(text, 3), 64) FROM docs")
  * }}}
  */
object GraftExtensions {
  /** Imperative registration into a live session (withExtensions only
    * applies at session construction; getOrCreate on an existing
    * session ignores it).
    */
  def register(spark: org.apache.spark.sql.SparkSession): Unit = {
    val reg = spark.sessionState.functionRegistry
    reg.createOrReplaceTempFunction("graft_shingles",
      exprs => WordShingles(exprs.head, exprs(1).eval().asInstanceOf[Number].intValue()),
      "scala_udf")
    reg.createOrReplaceTempFunction("graft_minhash",
      exprs => MinHashSig(exprs.head, exprs(1).eval().asInstanceOf[Number].intValue()),
      "scala_udf")
    reg.createOrReplaceTempFunction("graft_simhash",
      exprs => SimHash(exprs.head), "scala_udf")
    reg.createOrReplaceTempFunction("graft_vec_dot",
      exprs => VecDot(exprs.head, exprs(1)), "scala_udf")
  }
}

class GraftExtensions extends (SparkSessionExtensions => Unit) {

  override def apply(ext: SparkSessionExtensions): Unit = {
    def info(name: String, usage: String) =
      new ExpressionInfo(classOf[GraftExtensions].getName, name, usage)

    ext.injectFunction((
      FunctionIdentifier("graft_shingles"),
      info("graft_shingles", "graft_shingles(text, n) - word n-gram shingles"),
      (args: Seq[Expression]) =>
        WordShingles(args.head, args(1).eval().asInstanceOf[Number].intValue())))

    ext.injectFunction((
      FunctionIdentifier("graft_minhash"),
      info("graft_minhash", "graft_minhash(shingles, k) - k-permutation MinHash signature"),
      (args: Seq[Expression]) =>
        MinHashSig(args.head, args(1).eval().asInstanceOf[Number].intValue())))

    ext.injectFunction((
      FunctionIdentifier("graft_simhash"),
      info("graft_simhash", "graft_simhash(tokens) - 64-bit SimHash"),
      (args: Seq[Expression]) => SimHash(args.head)))

    ext.injectFunction((
      FunctionIdentifier("graft_vec_dot"),
      info("graft_vec_dot", "graft_vec_dot(a, b) - double dot product of numeric arrays"),
      (args: Seq[Expression]) => VecDot(args.head, args(1))))
  }
}
