package org.apache.spark.sql.graft

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.analysis.FunctionRegistry
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}

/** Session extension injector: registers graft's native expressions as
  * SQL functions, so `spark.sql("SELECT tile_stats(tile) ...")` works.
  *
  * Production use:
  *   spark.sql.extensions=org.apache.spark.sql.graft.GraftExtensions
  * or `SparkSession.builder().withExtensions(new GraftExtensions)`.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    GraftExtensions.functions.foreach { case (name, info, builder) =>
      ext.injectFunction((FunctionIdentifier(name), info, builder))
    }
    ext.injectOptimizerRule(_ => FuseTransformsRule)
    // focal fusion: collapse adjacent FocalPlan nodes, then expand the
    // survivors into the gather pipeline (order matters: fuse first)
    ext.injectOptimizerRule(_ => FuseFocalRule)
    ext.injectOptimizerRule(session => LowerFocalRule(session))
    ext.injectPlannerStrategy(_ => FocalMarkerStrategy())
  }
}

object GraftExtensions {
  type Builder = Seq[Expression] => Expression

  // TileMaskExpr is deliberately NOT here: its polygon set is a JVM
  // object parameter (rides codegen as a reference object), so there is
  // no SQL-literal form to build it from — it is Column-API-only via
  // TileMaskExpr.maskTileGrid/maskTileWorld.
  // TermScanExpr likewise: the term list is a JVM constructor
  // parameter (the compiled Aho-Corasick automaton rides codegen as a
  // reference object) — Column-API-only via TermScanExpr.termScan.
  // BloomTestExpr likewise: the packed bit set is a Broadcast
  // constructor parameter (tasks ship the handle, executors fetch the
  // words once) — Column-API-only via BloomTestExpr.bloomTest.
  // ClassifyMinDistExpr likewise (r21): the class signatures are JVM
  // array parameters (ride codegen as reference objects) —
  // Column-API-only via ClassifyMinDistExpr.classifyMinDist.
  val functions: Seq[(String, ExpressionInfo, Builder)] = Seq(
    ("tile_stats",
      new ExpressionInfo(classOf[TileStatsExpr].getName, "tile_stats"),
      (args: Seq[Expression]) => TileStatsExpr(args.head)),
    ("long_dot",
      new ExpressionInfo(classOf[LongDotExpr].getName, "long_dot"),
      (args: Seq[Expression]) => LongDotExpr(args(0), args(1))),
    ("bpe_count",
      new ExpressionInfo(classOf[BpeCountExpr].getName, "bpe_count"),
      (args: Seq[Expression]) => BpeCountExpr(args.head)),
    ("bpe_tokens",
      new ExpressionInfo(classOf[BpeJoinedExpr].getName, "bpe_tokens"),
      (args: Seq[Expression]) => BpeJoinedExpr(args.head)),
    // catalog native-width codecs: the cell-type name (and band count)
    // must be foldable literals — they configure the expression, they
    // are not data
    ("tile_pack",
      new ExpressionInfo(classOf[TilePackExpr].getName, "tile_pack"),
      (args: Seq[Expression]) => TilePackExpr(args(0), litString(args(1), "tile_pack"))),
    ("tile_unpack",
      new ExpressionInfo(classOf[TileUnpackExpr].getName, "tile_unpack"),
      (args: Seq[Expression]) => TileUnpackExpr(args(0), litString(args(1), "tile_unpack"))),
    ("bands_pack",
      new ExpressionInfo(classOf[BandsPackExpr].getName, "bands_pack"),
      (args: Seq[Expression]) => BandsPackExpr(args(0), litString(args(1), "bands_pack"))),
    ("bands_unpack",
      new ExpressionInfo(classOf[BandsUnpackExpr].getName, "bands_unpack"),
      (args: Seq[Expression]) => BandsUnpackExpr(args(0), litString(args(1), "bands_unpack"),
        litInt(args(2), "bands_unpack"))),
    // text-pipeline hot-path kernels (r20): portable md5-prefix hash,
    // tokenizer, and fused k-shingle hasher — value-identical to the
    // lower()/regexp/md5/conv chains they replace — plus the per-doc
    // MinHash signature built on the shingle hasher
    ("md5_prefix60",
      new ExpressionInfo(classOf[Md5Prefix60Expr].getName, "md5_prefix60"),
      (args: Seq[Expression]) => Md5Prefix60Expr(args.head)),
    ("tokenize_lower",
      new ExpressionInfo(classOf[TokenizeExpr].getName, "tokenize_lower"),
      (args: Seq[Expression]) => TokenizeExpr(args.head)),
    ("shingle_hashes",
      new ExpressionInfo(classOf[ShingleHash60Expr].getName, "shingle_hashes"),
      (args: Seq[Expression]) => ShingleHash60Expr(args(0), litInt(args(1), "shingle_hashes"))),
    ("minhash_sig",
      new ExpressionInfo(classOf[MinhashSigExpr].getName, "minhash_sig"),
      (args: Seq[Expression]) => MinhashSigExpr(args(0), litInt(args(1), "minhash_sig"),
        litInt(args(2), "minhash_sig"))))

  private def litString(e: Expression, fn: String): String =
    if (e.foldable && e.dataType == org.apache.spark.sql.types.StringType)
      e.eval().toString
    else throw new IllegalArgumentException(
      s"$fn requires a literal string cell-type name, got $e")

  private def litInt(e: Expression, fn: String): Int =
    if (e.foldable && e.dataType == org.apache.spark.sql.types.IntegerType)
      e.eval().asInstanceOf[Int]
    else throw new IllegalArgumentException(
      s"$fn requires a literal integer argument, got $e")

  /** Register on an already-created session (tests, REPL). */
  def register(spark: org.apache.spark.sql.SparkSession): Unit =
    functions.foreach { case (name, info, builder) =>
      spark.sessionState.functionRegistry
        .registerFunction(FunctionIdentifier(name), info, builder)
    }
}
