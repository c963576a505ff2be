package graft.functions

import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.{Md5Prefix60Expr, MinhashSigExpr, ShingleHash60Expr, TokenizeExpr}

import graft.SparkSpec
import graft.pipeline.Dedup

/** The r20 native text kernels must be VALUE-IDENTICAL to the Spark
  * expression chains they replaced — the whole optimization contract
  * (oracles unchanged on the DuckDB side). Each test evaluates both
  * forms over adversarial rows and asserts row-for-row equality.
  */
class TextHashSpec extends SparkSpec {
  import spark.implicits._

  // adversarial corpus: case mixes, digits, punctuation runs, empty,
  // whitespace-only, Unicode that LOWERS interestingly (Turkish İ
  // lowercases to i + combining dot — its ASCII 'i' must surface the
  // same way through both tokenizers), multi-byte text, long repeats
  private val rows = Seq(
    "The QUICK brown FOX jumps over 42 lazy dogs",
    "",
    "   \t\n  ",
    "ALLCAPS0123456789allcaps",
    "punct!!!...---___***separated###tokens",
    "mixed München STRASSE ß Ärger naïve café",
    "İstanbul DİYARBAKIR", // U+0130 lowering
    "ΑΒΓ ΔΕΖ greek ΚΑΙ latin MIX",
    "a b c d e f g h i j k l m n o p",
    "x" * 500 + " " + "Y" * 300 + "9" * 100,
    "один два three четыре five",
    "emoji 🚀 inside 🙂 text 42",
    "a1b2c3 d4e5f6",
    "single")

  private def df = rows.zipWithIndex.map(_.swap).toDF("id", "text")

  test("md5Prefix60 == conv(substring(md5(s),1,15),16,10)") {
    val old = conv(substring(md5(col("text")), 1, 15), 16, 10).cast("long")
    val got = df.select(col("id"),
        Md5Prefix60Expr.md5Prefix60(col("text")).as("a"), old.as("b"))
      .collect()
    got.foreach(r => assert(r.getLong(1) == r.getLong(2),
      s"md5Prefix60 mismatch on row ${r.getInt(0)}"))
    // salted form (the Sketch.rowHash shape)
    val salted = df.select(
        Md5Prefix60Expr.md5Prefix60(concat(lit("3:"), col("text"))).as("a"),
        conv(substring(md5(concat(lit("3:"), col("text"))), 1, 15), 16, 10)
          .cast("long").as("b"))
      .collect()
    salted.foreach(r => assert(r.getLong(0) == r.getLong(1)))
  }

  test("tokenizeLower == regexp_extract_all(lower(s), '[a-z0-9]+', 0)") {
    val old = regexp_extract_all(lower(col("text")), lit("[a-z0-9]+"), lit(0))
    val got = df.select(col("id"),
        TokenizeExpr.tokenizeLower(col("text")).as("a"), old.as("b"))
      .collect()
    got.foreach { r =>
      assert(r.getSeq[String](1) == r.getSeq[String](2),
        s"tokenize mismatch on row ${r.getInt(0)}: " +
          s"${r.getSeq[String](1)} vs ${r.getSeq[String](2)}")
    }
  }

  test("shingleHashes == per-shingle concat_ws + md5 prefix chain") {
    for (k <- Seq(1, 2, 3, 5)) {
      val toks = TokenizeExpr.tokenizeLower(col("text"))
      val oldChain = when(size(col("toks")) >= k,
        transform(sequence(lit(1), size(col("toks")) - (k - 1)),
          i => conv(substring(md5(concat_ws(" ", slice(col("toks"), i, lit(k)))),
            1, 15), 16, 10).cast("long")))
        .otherwise(typedLit(Seq.empty[Long]))
      val got = df.select(col("id"), toks.as("toks"))
        .select(col("id"),
          ShingleHash60Expr.shingleHashes(col("toks"), k).as("a"),
          oldChain.as("b"))
        .collect()
      got.foreach { r =>
        assert(r.getSeq[Long](1) == r.getSeq[Long](2),
          s"shingleHashes k=$k mismatch on row ${r.getInt(0)}")
      }
    }
  }

  test("kernels survive the SQL registration (GraftExtensions)") {
    df.createOrReplaceTempView("texthash_docs")
    val viaSql = spark.sql(
      """SELECT id, md5_prefix60(text) AS h,
        |       shingle_hashes(tokenize_lower(text), 3) AS sh
        |FROM texthash_docs""".stripMargin).collect()
    val viaCol = df.select(col("id"),
      Md5Prefix60Expr.md5Prefix60(col("text")).as("h"),
      ShingleHash60Expr.shingleHashes(
        TokenizeExpr.tokenizeLower(col("text")), 3).as("sh")).collect()
    assert(viaSql.map(_.toString).sorted.toSeq ==
      viaCol.map(_.toString).sorted.toSeq)
  }

  test("minhashSig == explode + distinct + groupBy min over the shingle hashes") {
    val extra = Seq(
      "a b c d e a b c d e a b c d e a b c d e", // every shingle repeats
      "one two three four five",                 // exactly 5 tokens
      "too short doc",                           // 3 tokens: no row at shingleK 5
      "München straße İstanbul café naïve один два three")
    val docs = (rows ++ extra).zipWithIndex.map(_.swap).toDF("id", "text")
    val k = 16
    for (shingleK <- Seq(3, 5)) {
      val toks = TokenizeExpr.tokenizeLower(col("text"))
      val mins = Dedup.minhashParams(k).map { case (a, b) =>
        min((col("x") * a + b) % Dedup.MinhashP) }
      val old = docs.select(col("id"), toks.as("toks"))
        .where(size(col("toks")) >= shingleK)
        .select(col("id"),
          explode(ShingleHash60Expr.shingleHashes(col("toks"), shingleK)).as("h"))
        .distinct()
        .select(col("id"), (col("h") % Dedup.MinhashP).as("x"))
        .groupBy("id").agg(mins.head, mins.tail: _*)
        .collect().map(r => r.getInt(0) -> (1 to k).map(r.getLong)).toMap
      val got = docs
        .select(col("id"), MinhashSigExpr.minhashSig(toks, shingleK, k).as("sig"))
        .where(col("sig").isNotNull)
        .collect().map(r => r.getInt(0) -> r.getSeq[Long](1)).toMap
      assert(got == old, s"shingleK=$shingleK")
      val ids = extra.indices.map(_ + rows.size)
      assert(got.contains(ids(0)) && got.contains(ids(1)) && got.contains(ids(3)))
      // three tokens: a signature at shingleK 3, no row at shingleK 5
      assert(got.contains(ids(2)) == (shingleK == 3))
    }
    // the SQL registration builds the same kernel
    docs.createOrReplaceTempView("minhash_docs")
    val viaSql = spark.sql(
      "SELECT id, minhash_sig(tokenize_lower(text), 5, 16) AS sig FROM minhash_docs")
      .collect().map(_.toString).sorted.toSeq
    val viaCol = docs.select(col("id"),
      MinhashSigExpr.minhashSig(TokenizeExpr.tokenizeLower(col("text")), 5, 16).as("sig"))
      .collect().map(_.toString).sorted.toSeq
    assert(viaSql == viaCol)
  }
}
