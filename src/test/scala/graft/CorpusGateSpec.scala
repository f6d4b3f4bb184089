package graft

import java.nio.file.{Files, Paths}

import org.scalatest.funsuite.AnyFunSuite
import graft.queries.Corpus

/** The corpus gates read the checkout's own fixtures, wherever the
  * checkout lives, and one of them reproduces its golden rows.
  */
class CorpusGateSpec extends AnyFunSuite {
  private lazy val spark = SharedSpark.session

  test("fixture paths resolve inside this checkout") {
    val here = Paths.get("").toAbsolutePath
    for (f <- Seq(Corpus.FixtureWiki, Corpus.FixtureWarc,
        Corpus.FixtureWikidata)) {
      val p = Paths.get(f)
      assert(p.startsWith(here), s"$f is outside $here")
      assert(Files.isRegularFile(p), s"$f is missing")
    }
  }

  test("s2_wiki_pages runs and matches its golden rows") {
    val gate = Corpus.defs.find(_.name == "s2_wiki_pages").get
    val rows = gate.query(spark, "unused").orderBy("uri").collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2),
        Option(r.getString(3)), r.getLong(4))).toSeq
    assert(rows === Seq(
      ("en.wikipedia.org/wiki/Anarchism", "0", 12L, None, 557L),
      ("en.wikipedia.org/wiki/Anarchist", "0", 13L, Some("Anarchism"), -1L),
      ("en.wikipedia.org/wiki/Anarcho-communism", "0", 14L,
        Some("Anarchist"), -1L),
      ("en.wikipedia.org/wiki/Category:Political_ideologies", "14", 30L,
        None, 19L),
      ("en.wikipedia.org/wiki/Political_philosophy", "0", 20L, None, 183L)))
  }
}
