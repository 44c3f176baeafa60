package graft.functions

import org.apache.spark.sql.{SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}

/**
 * Registers the engine's native expressions as SQL functions, so
 * `spark.sql("SELECT dot_product(a, b)")` works alongside the Column
 * API.
 *
 * Two entry points:
 *  - config: `spark.sql.extensions=graft.functions.GraftExtensions`
 *    (the standard SparkSessionExtensions injection path);
 *  - programmatic: `GraftFunctions.register(spark)` on a live session.
 */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit =
    GraftFunctions.descriptors.foreach { case (ident, info, builder) =>
      ext.injectFunction((ident, info, builder))
    }
}

object GraftFunctions {

  type Builder = Seq[Expression] => Expression

  val descriptors: Seq[(FunctionIdentifier, ExpressionInfo, Builder)] = Seq(
    (FunctionIdentifier("dot_product"),
      new ExpressionInfo(classOf[DotProduct].getName, "dot_product"),
      (children: Seq[Expression]) => {
        require(children.length == 2, "dot_product(a, b) takes 2 arguments")
        DotProduct(children(0), children(1))
      }),
    (FunctionIdentifier("simhash60"),
      new ExpressionInfo(classOf[SimHash60].getName, "simhash60"),
      (children: Seq[Expression]) => {
        require(children.length == 1, "simhash60(hashes) takes 1 argument")
        SimHash60(children.head)
      }),
    (FunctionIdentifier("shingle_hash60"),
      new ExpressionInfo(classOf[ShingleHash60].getName, "shingle_hash60"),
      (children: Seq[Expression]) => {
        require(children.length == 2,
          "shingle_hash60(tokens, n) takes 2 arguments (n a literal int)")
        ShingleHash60(children.head, foldableInt(children(1), "n"))
      }),
    (FunctionIdentifier("minhash_signature"),
      new ExpressionInfo(classOf[MinHashSignature].getName, "minhash_signature"),
      (children: Seq[Expression]) => {
        require(children.length == 2,
          "minhash_signature(hashes, k) takes 2 arguments (k a literal int)")
        val params = graft.dedup.Dedup.hashParams(foldableInt(children(1), "k"))
        MinHashSignature(children.head,
          params.map(_._1).toArray, params.map(_._2).toArray)
      }),
    (FunctionIdentifier("cdc_chunks"),
      new ExpressionInfo(classOf[CdcChunks].getName, "cdc_chunks"),
      (children: Seq[Expression]) => {
        require(children.length == 3,
          "cdc_chunks(text, window, divisor) takes 3 arguments " +
            "(window/divisor literal ints)")
        CdcChunks(children.head, foldableInt(children(1), "window"),
          foldableInt(children(2), "divisor"))
      }),
    (FunctionIdentifier("parse_variable"),
      new ExpressionInfo(classOf[ParseVariable].getName, "parse_variable"),
      (children: Seq[Expression]) => {
        require(children.length == 1,
          "parse_variable(skey) takes 1 argument")
        ParseVariable(children.head)
      }),
    (FunctionIdentifier("series_key"),
      new ExpressionInfo(classOf[SeriesKey].getName, "series_key"),
      (children: Seq[Expression]) => {
        require(children.length == 2,
          "series_key(name, labels) takes 2 arguments")
        SeriesKey(children(0), children(1))
      }))

  private def foldableInt(e: Expression, name: String): Int = {
    require(e.foldable, s"$name must be a literal")
    e.eval() match {
      case i: Int => i
      case l: Long => l.toInt
      case other => throw new IllegalArgumentException(
        s"$name must be an integer literal, got $other")
    }
  }

  /** Registers the functions on an already-built session. */
  def register(spark: SparkSession): Unit =
    descriptors.foreach { case (ident, info, builder) =>
      spark.sessionState.functionRegistry
        .registerFunction(ident, info, builder)
    }
}
