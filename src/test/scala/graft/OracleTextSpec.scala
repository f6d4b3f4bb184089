package graft

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** The gate oracles' DuckDB text, pinned without running a Spark job.
  *
  * Each oracle fragment that several gates share is written once, as a
  * DuckDB twin beside its Spark primitive (or as a private val of the
  * one module that uses it). Moving a fragment into a twin must not
  * change any gate's SQL: `fixtures/oracle_sql_digests.tsv` holds, per
  * gate, the first 16 hex digits of the sha-256 of its oracle text with
  * runs of whitespace collapsed to one space. Regenerate it only for a
  * change that is meant to move an oracle, and run the crosscheck on
  * every gate it moves.
  */
class OracleTextSpec extends AnyFunSuite {

  private def collapse(s: String): String = s.trim.replaceAll("\\s+", " ")

  private def digest(s: String): String =
    java.security.MessageDigest.getInstance("SHA-256")
      .digest(collapse(s).getBytes(UTF_8))
      .map(b => f"${b & 0xff}%02x").mkString.take(16)

  test("every gate's oracle text matches its pinned digest") {
    val pinned = Files.readAllLines(Paths.get("fixtures/oracle_sql_digests.tsv"))
      .asScala.filter(_.nonEmpty).map { l =>
        val Array(gate, d) = l.split('\t'); gate -> d
      }.toMap
    val actual = SparkEntry.oracleSql.map { case (g, sql) => g -> digest(sql) }
    val moved = (pinned.keySet ++ actual.keySet).toSeq.sorted
      .filter(g => pinned.get(g) != actual.get(g))
      .map(g => s"$g: pinned ${pinned.getOrElse(g, "-")}, " +
        s"now ${actual.getOrElse(g, "-")}")
    if (moved.nonEmpty)
      fail(s"${moved.size} oracle texts moved:\n" + moved.mkString("\n"))
  }

  test("each DuckDB twin's distinctive literal occurs once under " +
      "src/main/scala/graft") {
    // the DuckDB spellings only: Spark's tokenizer passes group 0 and
    // its KMV readout writes 2^60 with a `D` suffix
    val literals = Seq(
      "'[a-z0-9]+')", // Hashing.duckTokens
      "{'src': tk[i], 'dst': tk[i+1]}", // the word-bigram graph
      "generate_series(d0, d1)", // the daily calendar grid
      "1152921504606846976.0 /", // KmvSketch.duckEstimate
      "CAST(sl AS DOUBLE) / CAST(nd AS DOUBLE)") // the BM25 term
    // whitespace and stripMargin bars collapsed, so a copy split over
    // lines is still one match
    val files = Files.walk(Paths.get("src/main/scala/graft")).iterator
      .asScala.filter(_.toString.endsWith(".scala")).toSeq.map { p =>
        p -> new String(Files.readAllBytes(p), UTF_8)
          .replaceAll("\n\\s*\\|", " ").replaceAll("\\s+", " ")
      }
    val wrong = literals.flatMap { lit =>
      val hits = files.map { case (p, text) =>
        p -> Iterator.iterate(text.indexOf(lit))(i => text.indexOf(lit, i + 1))
          .takeWhile(_ >= 0).size
      }.filter(_._2 > 0)
      val n = hits.map(_._2).sum
      if (n == 1) None
      else Some(s"$lit: $n copies in " +
        hits.map { case (p, k) => s"${p.getFileName} ×$k" }.mkString(", "))
    }
    if (wrong.nonEmpty) fail(wrong.mkString("\n"))
  }
}
