package graft.pipeline

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** Hand-computed fixtures for the exact BPE apply (merge-by-merge
  * traced by hand against [[Bpe.Merges]]) plus the Column/codegen
  * path and the count/join consistency contract. */
class BpeSpec extends SparkSpec {
  import spark.implicits._

  test("hand-traced merges: full-word and multi-token encodings") {
    // "the":   t h e   -> (t,h) th e -> (th,e) the
    assert(Bpe.tokens("the").toSeq == Seq("the"))
    // "spark": s p a r k -> (a,r) -> (s,p) -> (sp,ar) -> (spar,k)
    assert(Bpe.tokens("spark").toSeq == Seq("spark"))
    // "query": q u e r y -> (e,r) -> (q,u) -> (qu,er) -> quer y
    assert(Bpe.tokens("query").toSeq == Seq("quer", "y"))
    // "customer": (e,r) (s,t) (m,er) (c,u) (cu,st) -> cust o mer
    assert(Bpe.tokens("customer").toSeq == Seq("cust", "o", "mer"))
  }

  test("pre-tokenizer: case folding, digits and punctuation split single") {
    assert(Bpe.tokens("The spark query!").toSeq ==
      Seq("the", "spark", "quer", "y", "!"))
    // digits are single pre-tokens, never merged together
    assert(Bpe.countTokens("42") == 2L)
    assert(Bpe.countTokens("") == 0L)
    assert(Bpe.tokensJoined("") == "")
    // non-BMP codepoint stays one token (codepoint split, not UTF-16)
    assert(Bpe.countTokens("😀") == 1L)
  }

  test("ASCII-only case fold: A-Z map, everything else untouched") {
    assert(Bpe.asciiLower("The QUICK Fox-42!") == "the quick fox-42!")
    // Unicode SpecialCasing must NOT apply: U+0130 'İ' would become
    // "i" + combining dot under Java toLowerCase; here it stays one
    // unfolded codepoint that tokenizes as a single mark — the pinned
    // behavior the DuckDB translate() twin reproduces exactly
    assert(Bpe.asciiLower("İstanbul") == "İstanbul")
    assert(Bpe.tokens("İstanbul").toSeq.head == "İ")
    assert(Bpe.asciiLower("ÉCLAIR") == "Éclair")   // É itself stays unfolded
    assert(Bpe.asciiLower("already lower") eq "already lower") // no-copy fast path
  }

  test("NULL text counts as empty at the TextAnalysis surface") {
    val docs = Seq((1L, "the spark"), (2L, null.asInstanceOf[String]), (3L, ""))
      .toDF("doc_id", "text")
    val got = docs.select(col("doc_id"),
        TextAnalysis.bpeTokenCount(col("text")).as("n"),
        TextAnalysis.bpeTokens(col("text")).as("j"))
      .as[(Long, Long, String)].collect().sortBy(_._1).toSeq
    assert(got == Seq((1L, 2L, "the spark"), (2L, 0L, ""), (3L, 0L, "")))
  }

  test("merges file: GPT-2 format loads, matches the literal model, scales to 1k rules") {
    val dir = tempDir("graft_bpe")
    // (1) the literal table written as a merges.txt loads to an
    // identical model — same tokens on every fixture text
    val lit = dir.resolve("literal.txt")
    java.nio.file.Files.writeString(lit,
      "#version: 0.2\n" + Bpe.Merges.map { case (a, b) => s"$a $b" }.mkString("\n") + "\n")
    val m = Bpe.fromFile(lit.toString)
    assert(m.merges == Bpe.Merges)
    Seq("the spark query!", "customer order stream", "42 && filter")
      .foreach(t => assert(m.tokens(t).toSeq == Bpe.tokens(t).toSeq, t))
    assert(m.countSql("text") == Bpe.countSql("text"))
    // (2) a 1000-rule file: 25 chaining rules grow "ab"->"abc"->...->
    // the whole alphabet (unambiguous under the single-pass replace
    // contract); 975 padding rules keep rank order honest (they can
    // never fire: letter+digit never forms one pre-token)
    val big = dir.resolve("big.txt")
    val alpha = "abcdefghijklmnopqrstuvwxyz"
    val chaining = (2 to 26).map(n => s"${alpha.take(n - 1)} ${alpha.charAt(n - 1)}")
    val padding = (0 until 975).map(i => s"q${i / 10} z${i % 10}")
    java.nio.file.Files.writeString(big, (chaining ++ padding).mkString("\n"))
    val bigModel = Bpe.fromFile(big.toString)
    assert(bigModel.merges.size == 1000)
    // the full alphabet word collapses to ONE token through the chain;
    // a word that leaves the chain keeps its unmerged tail
    assert(bigModel.countTokens(alpha) == 1L)
    assert(bigModel.tokens(alpha).toSeq == Seq(alpha))
    assert(bigModel.tokens("abcz").toSeq == Seq("abc", "z"))
    // (3) malformed lines fail loudly with the line number
    val bad = dir.resolve("bad.txt")
    java.nio.file.Files.writeString(bad, "a b\na b c\n")
    val e = intercept[IllegalArgumentException](Bpe.loadMerges(bad.toString))
    assert(e.getMessage.contains(":2"))
  }

  test("trainer: hand-traced greedy merges, tie-break, early stop, apply interop") {
    // corpus: "aab" x3, "ab" x2 -> vocab {aab:3, ab:2}
    // round 1 pairs: (a,a)=3, (a,b)=3+2=5 -> merge (a,b) [count wins]
    // round 2: aab -> " a ab ", ab -> " ab ": pairs (a,ab)=3 -> merge (a,ab)
    // round 3: aab -> " aab ": no pairs anywhere -> early stop
    val docs = Seq((1L, "aab aab"), (2L, "aab ab"), (3L, "ab"))
      .toDF("doc_id", "text")
    val merges = Bpe.train(docs, numMerges = 5)
    assert(merges == Vector(("a", "b"), ("a", "ab")))
    // the trained table drops straight into the apply half
    val m = new BpeModel(merges)
    assert(m.tokens("aab").toSeq == Seq("aab"))
    assert(m.tokens("abba").toSeq == Seq("ab", "b", "a"))
    // tie-break: "ba" x1 + "ca" x1 -> (b,a)=1 vs (c,a)=1, lexicographic
    // on (a, b) picks (b,a)
    val tie = Seq((1L, "ba ca")).toDF("doc_id", "text")
    assert(Bpe.train(tie, numMerges = 1) == Vector(("b", "a")))
    // case fold + NULL text flow through the same vocabulary contract
    val folded = Seq((1L, "AAB"), (2L, null.asInstanceOf[String]), (3L, "aab"))
      .toDF("doc_id", "text")
    assert(Bpe.train(folded, numMerges = 1) == Vector(("a", "a")))
  }

  test("incremental trainer equals a full-recount reference at numMerges=1000") {
    // brute-force reference: recount every pair over the whole
    // vocabulary each round (the r11 shape the incremental index
    // replaced); byte-for-byte agreement across 1000 merges proves
    // the index maintenance exact, and the run finishing inside the
    // suite proves the O(touched) cost claim
    def brute(words: Seq[(String, Long)], numMerges: Int): Vector[(String, String)] = {
      var vocab = words.map { case (w, c) => (w.mkString(" ", " ", " "), c) }
      val out = Vector.newBuilder[(String, String)]
      var round = 0
      var dry = false
      while (round < numMerges && !dry) {
        val counts = scala.collection.mutable.HashMap.empty[(String, String), Long]
        vocab.foreach { case (sp, c) =>
          val syms = sp.trim.split(' ')
          var i = 0
          while (i < syms.length - 1) {
            counts((syms(i), syms(i + 1))) = counts.getOrElse((syms(i), syms(i + 1)), 0L) + c
            i += 1
          }
        }
        if (counts.isEmpty) dry = true
        else {
          val (a, b) = counts.toSeq.minBy { case ((a, b), c) => (-c, a, b) }._1
          out += ((a, b))
          vocab = vocab.map { case (sp, c) => (sp.replace(s" $a $b ", s" $a$b "), c) }
          round += 1
        }
      }
      out.result()
    }
    val rnd = new scala.util.Random(12)
    val words = (0 until 1500).map { _ =>
      (0 until 3 + rnd.nextInt(8)).map(_ => ('a' + rnd.nextInt(6)).toChar).mkString
    }
    val docs = words.zipWithIndex.map { case (w, i) => (i.toLong, w) }.toDF("doc_id", "text")
    val got = Bpe.train(docs, numMerges = 1000)
    val want = brute(words.groupBy(identity).view.mapValues(_.size.toLong).toSeq, 1000)
    assert(got == want)
  }

  test("count equals token-array length for every corpus doc") {
    val texts = Seq(
      "the quick brown fox jumps over the lazy dog",
      "SELECT value FROM table ORDER BY key",
      "streaming window aggregation, batch scan & hash join",
      "mixed 123 numbers and... punctuation!!!")
    texts.foreach { t =>
      assert(Bpe.countTokens(t) == Bpe.tokens(t).length.toLong, t)
    }
  }

  test("native expressions agree with the Scala reference on a DataFrame") {
    val docs = Seq(
      (1L, "the quick brown fox"),
      (2L, "spark query streams fast"),
      (3L, ""),
      (4L, "Order BY customer value 7!")
    ).toDF("doc_id", "text")
    val out = docs.select(col("doc_id"),
        TextAnalysis.bpeTokenCount(col("text")).as("n"),
        TextAnalysis.bpeTokens(col("text")).as("j"))
      .as[(Long, Long, String)].collect().sortBy(_._1)
    out.foreach { case (id, n, j) =>
      val t = docs.where(col("doc_id") === id).select("text").as[String].head()
      assert(n == Bpe.countTokens(t), s"count doc $id")
      assert(j == Bpe.tokensJoined(t), s"joined doc $id")
    }
    // the regex proxy counts whole letter runs, so it lower-bounds the
    // exact count; words the toy vocab can't fully merge keep them apart
    val approx = docs.select(TextAnalysis.bpeTokenCountApprox(col("text")).cast("long"))
      .as[Long].collect().sum
    assert(out.map(_._2).sum > approx)
  }

  test("tokenize endpoint emits count + sequence fingerprint") {
    val docs = Seq((1L, "the spark"), (2L, "the spark"), (3L, "a spark")).toDF("doc_id", "text")
    val rows = TextAnalysis.bpeTokenize(docs)
      .select("doc_id", "n_bpe", "fp").as[(Long, Long, String)].collect().sortBy(_._1)
    assert(rows(0)._2 == 2L && rows(0)._3 == rows(1)._3)
    assert(rows(2)._3 != rows(0)._3) // different sequence, different fp
  }
}
