package perfbench

import java.nio.file.Files
import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite
import graft.textfn.{Html, Warc, WikiXml}

/** Each generator's closed-form counts, checked at a tiny size against
  * the engine itself.
  */
class GenSpec extends AnyFunSuite with BeforeAndAfterAll {
  private lazy val spark = SparkSession.builder().master("local[2]")
    .config("spark.sql.shuffle.partitions", "2")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false").getOrCreate()

  override def afterAll(): Unit = spark.stop()

  private def pass(w: Workload, seed: Long): Ctx = {
    val ctx = new Ctx(spark, seed, Files.createTempDirectory("perfbench-gen"))
    ctx.measuring = true
    w.generate(ctx)
    ctx.iteration(w.pass(ctx))
    ctx
  }

  test("closed forms follow the planted structure") {
    val w = Gen.wikiExpect(nArt = 20, nRed = 14)
    assert(w.unresolved == 2 && w.pages == 36 && w.astral == 3)
    assert(Gen.warcExpect(60).docs == (5 until 60).count(i => i % 23 != 0 && i % 29 != 0))
    val d = Gen.wikidataExpect(22)
    assert(d.rows == 20 && d.entries == 20 * 3 - 2)
  }

  test("single-record parsers agree with the WARC and wiki closed forms") {
    val n = 80L
    val kept = (0L until n).map(Gen.warcRecord(7, _, n).stripSuffix("WARC/1.0\r\n"))
      .flatMap(r => Warc.parseRecord(r).flatMap(x => Html.parseArticle(x.body)))
    assert(kept.size == Gen.warcExpect(n).docs)
    val pages = Gen.wikiRows(7, 10, 8).toSeq.flatMap(p => WikiXml.parsePage(p.trim))
    assert(pages.size == Gen.wikiExpect(10, 8).pages)
    assert(pages.count(_.redirect.isDefined) == 8 + 2)
  }

  test("the same seed gives the same inputs; another seed does not") {
    assert(Gen.wikiRows(3, 5, 6).toSeq == Gen.wikiRows(3, 5, 6).toSeq)
    assert(Gen.wikiRows(3, 5, 6).toSeq != Gen.wikiRows(4, 5, 6).toSeq)
    assert(Gen.docs(3, Gen.DocsLayout(40, 2, 4, 2, 3, 2)) ==
      Gen.docs(3, Gen.DocsLayout(40, 2, 4, 2, 3, 2)))
  }

  test("corpus_build passes every check on a tiny corpus") {
    val ctx = pass(new CorpusBuild(nArt = 30, nRed = 16, nWarc = 40, nItems = 50), 5)
    assert(ctx.outcomes.nonEmpty && ctx.outcomes.forall(_.ok), ctx.outcomes)
  }

  test("dedup_ann passes every check on a tiny corpus") {
    val ctx = pass(new DedupAnn(Gen.DocsLayout(n = 300, fams = 10, famSize = 4,
      exact = 10, low = 20, contaminated = 10), nVec = 400, clusters = 8), 5)
    assert(ctx.outcomes.nonEmpty && ctx.outcomes.forall(_.ok), ctx.outcomes)
  }

  test("a wrong expectation is caught as a failed call") {
    val inner = new CorpusBuild(nArt = 30, nRed = 16, nWarc = 40, nItems = 50)
    val ctx = pass(new Workload {
      def generate(c: Ctx): Inputs = inner.generate(c)
      def pass(c: Ctx): Unit = {
        inner.pass(c)
        c.call("planted")(1)(v => Check.eq("planted", v, 2))
      }
    }, 5)
    assert(ctx.outcomes.count(!_.ok) == 1)
    assert(Stats.failRatio(ctx.outcomes.toSeq) > 0)
  }

  test("gate digests ignore row order and column order") {
    import spark.implicits._
    val a = Seq((1, "x", 0.1 + 0.2), (2, "y", 0.5)).toDF("id", "s", "v")
    val b = Seq((0.5, "y", 2), (0.3, "x", 1)).toDF("v", "s", "id")
    assert(Digest.of(a) == Digest.of(b.repartition(3)))
    assert(Digest.of(a) != Digest.of(a.limit(1)))
  }
}
