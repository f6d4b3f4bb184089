package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.ops.LinkModels
import graft.sources.Wiki
import org.apache.spark.sql.functions._

/** The reference's EntityCounts/EntityNameCounts constructor options
  * (filter_target prefix, anchor lowercasing — links.py:15-65).
  */
class LinkModelOptionsSpec extends AnyFunSuite {
  private lazy val spark = SharedSpark.session
  private def docs = Wiki.documents(spark, graft.queries.Corpus.FixtureWiki)

  test("entityCounts filter_target keeps only the prefixed targets") {
    val all = LinkModels.entityCounts(docs, minCount = 0).collect()
    val wiki = LinkModels.entityCounts(docs, minCount = 0,
      filterTarget = Some("en.wikipedia.org/wiki/")).collect()
    assert(all.exists(_.getString(0) == "example.org/archive"))
    assert(wiki.forall(_.getString(0)
      .startsWith("en.wikipedia.org/wiki/")))
    assert(wiki.length == all.length - 1)
  }

  test("entityNameCounts lowercase folds anchor case before counting") {
    val lc = LinkModels.entityNameCounts(docs, lowercase = true)
      .select("anchor").collect().map(_.getString(0))
    assert(lc.forall(a => a == a.toLowerCase))
    // 'Political philosophy' and 'political philosophy' merge
    val merged = LinkModels.entityNameCounts(docs, lowercase = true)
      .filter(col("anchor") === "political philosophy")
      .select("total").head().getLong(0)
    assert(merged == 2L)
  }
}
