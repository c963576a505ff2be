package graft

import java.nio.file.{Files, Paths}

import org.scalatest.funsuite.AnyFunSuite

/** Every query has exactly one oracle and every oracle one query. A
  * duplicate key in a Map literal silently keeps the last entry, so
  * duplicates are counted in the source text of the two literals. */
class QueryRegistrySpec extends AnyFunSuite {
  private val source = Paths.get("src/main/scala/graft/SparkEntry.scala")

  /** Keys written as `"q_..." ->` at the start of a line of `text`. */
  private def literalKeys(text: String): Seq[String] =
    """(?m)^\s*"(q_[A-Za-z0-9_]+)"\s*->""".r.findAllMatchIn(text).map(_.group(1)).toSeq

  test("SparkEntry.queries and SparkEntry.oracleSql have the same keys, none duplicated") {
    assert(SparkEntry.queries.keySet == SparkEntry.oracleSql.keySet)
    assert(Files.exists(source), s"run from the repository root: $source not found")
    val text = new String(Files.readAllBytes(source), "UTF-8")
    val (queriesText, oracleText) = text.splitAt(text.indexOf("def oracleSql"))
    val queryKeys = literalKeys(queriesText.substring(queriesText.indexOf("def queries")))
    val oracleKeys = literalKeys(oracleText)
    for ((name, keys, map) <- Seq(("queries", queryKeys, SparkEntry.queries.keySet),
                                  ("oracleSql", oracleKeys, SparkEntry.oracleSql.keySet))) {
      val dups = keys.groupBy(identity).collect { case (k, ks) if ks.size > 1 => k }
      assert(dups.isEmpty, s"$name repeats keys")
      assert(keys.toSet == map, s"$name literal keys differ from the map")
    }
  }
}
