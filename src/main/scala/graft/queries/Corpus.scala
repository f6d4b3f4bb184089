package graft.queries

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.sources.{Wiki, WarcSource, Wikidata}
import graft.ops.{Hashing, Mentions, LinkModels}
import graft.ops.Hashing.duckTokensSql
import Pipeline.duckWtNorm

/** Corpus-ingestion coverage (SURVEY.md §2.1 S2-S4, §2.8 F5-F11, §2.5 W2):
  * the wiki-dump and WARC front doors and the sentence-window mention
  * operator, exercised over the repo's hand-authored fixtures
  * (FIXTURES.md §A2/§A4) and verified against frozen golden rows (VALUES
  * oracles — the parsers are deterministic pure functions, so goldens are
  * exact).
  */
object Corpus extends QueryModule {

  /** The checkout's `fixtures/` directory: the nearest one above the
    * working directory or above this class's code source (the build
    * output inside the checkout), so the gates run from any clone.
    */
  private lazy val fixtures: String = {
    val starts = Seq(Paths.get("").toAbsolutePath) ++
      Option(getClass.getProtectionDomain.getCodeSource)
        .map(cs => Paths.get(cs.getLocation.toURI))
    starts.iterator
      .flatMap(Iterator.iterate(_)(_.getParent).takeWhile(_ != null))
      .map(_.resolve("fixtures"))
      .find(f => Files.isRegularFile(f.resolve("wiki.xml")))
      .getOrElse(throw new IllegalStateException(
        s"no fixtures/wiki.xml above any of ${starts.mkString(", ")}"))
      .toString
  }

  lazy val FixtureWiki = s"$fixtures/wiki.xml"
  lazy val FixtureWarc = s"$fixtures/sample.warc"
  lazy val FixtureWikidata = s"$fixtures/wikidata.json"

  /** DuckDB CTE: the two fixture documents' exact texts (same literals
    * the `s3_wiki_documents` golden asserts — verified output of the wiki
    * front door, re-used here as oracle INPUT so the downstream model
    * math is computed independently end-to-end in DuckDB).
    */
  private val duckFixtureDocs =
    """docs(doc_id, text) AS (VALUES
      |('en.wikipedia.org/wiki/Anarchism', 'Anarchism is a political philosophy that rejects hierarchies. It overlaps with libertarian socialism. ' || chr(10) || '' || chr(10) || 'History' || chr(10) || 'Early forms appear in Taoist texts. Tolstoy & Godwin wrote about peace. See  the archive for the letter A and the formula  aside.' || chr(10) || '' || chr(10) || 'The anarchist black flag.'),
      |('en.wikipedia.org/wiki/Political_philosophy', 'Political philosophy studies government and law. Its modern history includes anarchist thought and Anarcho-communism variants. A stub note follows.'))"""
      .stripMargin

  /** DuckDB CTE: the ten fixture mention contexts — exactly the
    * golden-verified `w2_entity_mentions` rows, as oracle INPUT for the
    * mention-derived models (mention extraction itself is a pure Scala
    * function gated by the `w2` golden; everything downstream of it is
    * recomputed in SQL here, not frozen).
    */
  private val duckFixtureMentions =
    """mentions(target, source, text, start, stop) AS (VALUES
      |('en.wikipedia.org/wiki/Anarchism', 'en.wikipedia.org/wiki/Anarchism', 'Anarchism is a political philosophy that rejects hierarchies.', 0, 9),
      |('example.org/archive', 'en.wikipedia.org/wiki/Anarchism', 'See  the archive for the letter A and the formula  aside.', 4, 16),
      |('en.wikipedia.org/wiki/Political_philosophy', 'en.wikipedia.org/wiki/Anarchism', 'Anarchism is a political philosophy that rejects hierarchies.', 15, 35),
      |('en.wikipedia.org/wiki/Libertarian_socialism', 'en.wikipedia.org/wiki/Anarchism', 'It overlaps with libertarian socialism.', 17, 38),
      |('en.wikipedia.org/wiki/Taoism', 'en.wikipedia.org/wiki/Anarchism', 'Early forms appear in Taoist texts.', 22, 28),
      |('en.wikipedia.org/wiki/Hierarchy', 'en.wikipedia.org/wiki/Anarchism', 'Anarchism is a political philosophy that rejects hierarchies.', 49, 60),
      |('en.wikipedia.org/wiki/Political_philosophy', 'en.wikipedia.org/wiki/Political_philosophy', 'Political philosophy studies government and law.', 0, 20),
      |('en.wikipedia.org/wiki/Anarchism', 'en.wikipedia.org/wiki/Political_philosophy', 'Its modern history includes anarchist thought and Anarcho-communism variants.', 28, 45),
      |('en.wikipedia.org/wiki/Government', 'en.wikipedia.org/wiki/Political_philosophy', 'Political philosophy studies government and law.', 29, 39),
      |('en.wikipedia.org/wiki/Anarchism', 'en.wikipedia.org/wiki/Political_philosophy', 'Its modern history includes anarchist thought and Anarcho-communism variants.', 50, 67))"""
      .stripMargin

  /** DuckDB twin of the entity skip-gram training sentence (ref
    * embeddings.py:52: pre-context tokens ⧺ raw target ⧺ post-context
    * tokens, anchor span excluded).
    */
  private val duckSkipgramToks =
    s"list_concat(list_concat(${Hashing.duckTokens("substr(text, 1, start)")}, " +
      s"[target]), ${Hashing.duckTokens("substr(text, stop + 1)")})"

  val defs: Seq[QueryDef] = Seq(

    // ---- S2+S3: record-delimited dump scan + StAX page parse.
    QueryDef("s2_wiki_pages", (s, d) => {
      Wiki.pages(s, FixtureWiki)
        .select(col("uri"), col("ns"), col("pid"),
          col("redirect"),
          coalesce(length(col("content")), lit(-1)).cast("long")
            .as("n_content"))
    }, Some("""
      SELECT * FROM (VALUES
      ('en.wikipedia.org/wiki/Anarchism', '0', CAST(12 AS BIGINT), NULL, CAST(557 AS BIGINT)),
      ('en.wikipedia.org/wiki/Anarchist', '0', CAST(13 AS BIGINT), 'Anarchism', CAST(-1 AS BIGINT)),
      ('en.wikipedia.org/wiki/Anarcho-communism', '0', CAST(14 AS BIGINT), 'Anarchist', CAST(-1 AS BIGINT)),
      ('en.wikipedia.org/wiki/Category:Political_ideologies', '14', CAST(30 AS BIGINT), NULL, CAST(19 AS BIGINT)),
      ('en.wikipedia.org/wiki/Political_philosophy', '0', CAST(20 AS BIGINT), NULL, CAST(183 AS BIGINT))
      ) AS t(uri, ns, pid, redirect, n_content) ORDER BY uri""")),

    // ---- F5-F10 + J1/J6/J2/A4: full wiki front door → documents.
    QueryDef("s3_wiki_documents", (s, d) => {
      Wiki.documents(s, FixtureWiki)
        .select(col("doc_id"), col("text"), to_json(col("links")).as("links"))
    }, Some("""
      SELECT * FROM (VALUES
      ('en.wikipedia.org/wiki/Anarchism', 'Anarchism is a political philosophy that rejects hierarchies. It overlaps with libertarian socialism. ' || chr(10) || '' || chr(10) || 'History' || chr(10) || 'Early forms appear in Taoist texts. Tolstoy & Godwin wrote about peace. See  the archive for the letter A and the formula  aside.' || chr(10) || '' || chr(10) || 'The anarchist black flag.', '[{"target":"en.wikipedia.org/wiki/Anarchism","start":0,"stop":9},{"target":"en.wikipedia.org/wiki/Political_philosophy","start":15,"stop":35},{"target":"en.wikipedia.org/wiki/Hierarchy","start":49,"stop":60},{"target":"en.wikipedia.org/wiki/Libertarian_socialism","start":79,"stop":100},{"target":"en.wikipedia.org/wiki/Taoism","start":134,"stop":140},{"target":"example.org/archive","start":188,"stop":200}]'),
      ('en.wikipedia.org/wiki/Political_philosophy', 'Political philosophy studies government and law. Its modern history includes anarchist thought and Anarcho-communism variants. A stub note follows.', '[{"target":"en.wikipedia.org/wiki/Political_philosophy","start":0,"stop":20},{"target":"en.wikipedia.org/wiki/Government","start":29,"stop":39},{"target":"en.wikipedia.org/wiki/Anarchism","start":77,"stop":94},{"target":"en.wikipedia.org/wiki/Anarchism","start":99,"stop":116}]')
      ) AS t(doc_id, text, links) ORDER BY doc_id""")),

    // ---- S4+F11: WARC scan → HTTP-200 filter → HTML → anchored text.
    QueryDef("s4_warc_documents", (s, d) => {
      WarcSource.documents(s, FixtureWarc)
        .select(col("doc_id"), col("text"), to_json(col("links")).as("links"))
    }, Some("""
      SELECT * FROM (VALUES
      ('http://example.org/page1', 'Clusters' || chr(10) || 'Example page about Apache Spark clusters.' || chr(10) || 'It also covers Flink briefly.', '[{"target":"http://example.org/spark","start":28,"stop":40},{"target":"http://example.org/flink","start":66,"stop":71}]'),
      ('http://example.org/page3', 'Une page en texte brut sans liens.', '[]')
      ) AS t(doc_id, text, links) ORDER BY doc_id""")),

    // ---- W2: sentence-window mention contexts over the wiki documents.
    QueryDef("w2_entity_mentions", (s, d) => {
      Mentions.mentionContexts(Wiki.documents(s, FixtureWiki))
        .select(col("target"), col("source"), col("text"),
          col("start").cast("long").as("start"),
          col("stop").cast("long").as("stop"))
    }, Some("""
      SELECT * FROM (VALUES
      ('en.wikipedia.org/wiki/Anarchism', 'en.wikipedia.org/wiki/Anarchism', 'Anarchism is a political philosophy that rejects hierarchies.', CAST(0 AS BIGINT), CAST(9 AS BIGINT)),
      ('example.org/archive', 'en.wikipedia.org/wiki/Anarchism', 'See  the archive for the letter A and the formula  aside.', CAST(4 AS BIGINT), CAST(16 AS BIGINT)),
      ('en.wikipedia.org/wiki/Political_philosophy', 'en.wikipedia.org/wiki/Anarchism', 'Anarchism is a political philosophy that rejects hierarchies.', CAST(15 AS BIGINT), CAST(35 AS BIGINT)),
      ('en.wikipedia.org/wiki/Libertarian_socialism', 'en.wikipedia.org/wiki/Anarchism', 'It overlaps with libertarian socialism.', CAST(17 AS BIGINT), CAST(38 AS BIGINT)),
      ('en.wikipedia.org/wiki/Taoism', 'en.wikipedia.org/wiki/Anarchism', 'Early forms appear in Taoist texts.', CAST(22 AS BIGINT), CAST(28 AS BIGINT)),
      ('en.wikipedia.org/wiki/Hierarchy', 'en.wikipedia.org/wiki/Anarchism', 'Anarchism is a political philosophy that rejects hierarchies.', CAST(49 AS BIGINT), CAST(60 AS BIGINT)),
      ('en.wikipedia.org/wiki/Political_philosophy', 'en.wikipedia.org/wiki/Political_philosophy', 'Political philosophy studies government and law.', CAST(0 AS BIGINT), CAST(20 AS BIGINT)),
      ('en.wikipedia.org/wiki/Anarchism', 'en.wikipedia.org/wiki/Political_philosophy', 'Its modern history includes anarchist thought and Anarcho-communism variants.', CAST(28 AS BIGINT), CAST(45 AS BIGINT)),
      ('en.wikipedia.org/wiki/Government', 'en.wikipedia.org/wiki/Political_philosophy', 'Political philosophy studies government and law.', CAST(29 AS BIGINT), CAST(39 AS BIGINT)),
      ('en.wikipedia.org/wiki/Anarchism', 'en.wikipedia.org/wiki/Political_philosophy', 'Its modern history includes anarchist thought and Anarcho-communism variants.', CAST(50 AS BIGINT), CAST(67 AS BIGINT))
      ) AS t(target, source, text, start, stop)
      ORDER BY source, start, target""")),

    // ---- S5+F15: wikidata JSON-array scan + null-safe nested paths.
    QueryDef("s5_wikidata_items", (s, d) => {
      Wikidata.items(s, FixtureWikidata)
        .select(col("id"),
          col("labels").getItem("en").getField("value").as("en_label"),
          col("sitelinks").getItem("enwiki").getField("title")
            .as("enwiki_title"),
          coalesce(size(map_keys(col("claims"))).cast("long"), lit(0L))
            .as("n_claims"))
    }, Some("""
      SELECT * FROM (VALUES
      ('P144', 'based on', NULL, CAST(0 AS BIGINT)),
      ('P31', 'instance of', NULL, CAST(0 AS BIGINT)),
      ('P569', 'date of birth', NULL, CAST(0 AS BIGINT)),
      ('P777', 'unused predicate', NULL, CAST(0 AS BIGINT)),
      ('P856', 'official website', NULL, CAST(0 AS BIGINT)),
      ('Q42', 'Douglas Adams', 'Douglas Adams', CAST(4 AS BIGINT)),
      ('Q5', 'human', NULL, CAST(0 AS BIGINT)),
      ('Q77', NULL, 'Seventy Seven', CAST(2 AS BIGINT))
      ) AS t(id, en_label, enwiki_title, n_claims) ORDER BY id""")),

    // ---- F14+J4+J5: claim traversal + predicate/value label joins.
    QueryDef("s5_wikidata_relations", (s, d) => {
      Wikidata.relations(s, FixtureWikidata)
        .select(col("eid"), to_json(col("relations")).as("relations"))
    }, Some("""
      SELECT * FROM (VALUES
      ('Douglas Adams', '[{"predicate":"date of birth","value":"+1952-03-11T00:00:00Z"},{"predicate":"instance of","value":"human"},{"predicate":"official website","value":"http://douglasadams.com"}]'),
      ('Seventy Seven', '[{"predicate":"based on","value":"plain string value"},{"predicate":"instance of","value":"999999"},{"predicate":"instance of","value":"human"}]')
      ) AS t(eid, relations) ORDER BY eid""")),

    // ---- link-model family (ref sift/models/links.py) over the wiki
    // fixture documents.
    QueryDef("m_entity_counts", (s, d) => {
      LinkModels.entityCounts(Wiki.documents(s, FixtureWiki), minCount = 0)
    }, Some("""
      SELECT * FROM (VALUES
      ('en.wikipedia.org/wiki/Anarchism', CAST(3 AS BIGINT)),
      ('en.wikipedia.org/wiki/Government', CAST(1 AS BIGINT)),
      ('en.wikipedia.org/wiki/Hierarchy', CAST(1 AS BIGINT)),
      ('en.wikipedia.org/wiki/Libertarian_socialism', CAST(1 AS BIGINT)),
      ('en.wikipedia.org/wiki/Political_philosophy', CAST(2 AS BIGINT)),
      ('en.wikipedia.org/wiki/Taoism', CAST(1 AS BIGINT)),
      ('example.org/archive', CAST(1 AS BIGINT))
      ) AS t(target, count) ORDER BY target""")),

    // ---- Entity PageRank (graft.ops.Graph.entityRank): link-structure
    // popularity over the fixture mention graph — the recursive upgrade
    // of EntityCounts (links.py:13-39). Oracle input is the
    // golden-verified mention list (one row per link), oracle math is
    // the same unrolled integer recurrence as g_textrank.
    QueryDef("m_entity_pagerank", (s, d) => {
      graft.ops.Graph.entityRank(Wiki.documents(s, FixtureWiki), 5)
    }, Some(s"""
      WITH $duckFixtureMentions,
      e AS (SELECT source AS src, target AS dst,
              CAST(COUNT(*) AS BIGINT) AS w
            FROM mentions WHERE source <> target GROUP BY 1, 2),
      ow AS (SELECT src, SUM(w) AS ow FROM e GROUP BY 1),
      ew AS (SELECT e.src, e.dst, e.w, ow.ow FROM e JOIN ow USING (src)),
      nodes AS (SELECT DISTINCT node FROM (
        SELECT source AS node FROM mentions
        UNION ALL SELECT target FROM mentions)),
      r0 AS (SELECT node, CAST(1000000 AS BIGINT) AS rank FROM nodes),
      ${Pipeline.duckPageRankRounds(5)}
      SELECT node, rank FROM r5 ORDER BY rank DESC, node""")),

    QueryDef("m_entity_name_counts", (s, d) => {
      LinkModels.entityNameCounts(Wiki.documents(s, FixtureWiki))
        .select(col("anchor"), to_json(col("counts")).as("counts"),
          col("total"))
    }, Some("""
      SELECT * FROM (VALUES
      ('Anarchism', '[{"target":"en.wikipedia.org/wiki/Anarchism","n":1}]', CAST(1 AS BIGINT)),
      ('Anarcho-communism', '[{"target":"en.wikipedia.org/wiki/Anarchism","n":1}]', CAST(1 AS BIGINT)),
      ('Political philosophy', '[{"target":"en.wikipedia.org/wiki/Political_philosophy","n":1}]', CAST(1 AS BIGINT)),
      ('Taoist', '[{"target":"en.wikipedia.org/wiki/Taoism","n":1}]', CAST(1 AS BIGINT)),
      ('anarchist thought', '[{"target":"en.wikipedia.org/wiki/Anarchism","n":1}]', CAST(1 AS BIGINT)),
      ('government', '[{"target":"en.wikipedia.org/wiki/Government","n":1}]', CAST(1 AS BIGINT)),
      ('hierarchies', '[{"target":"en.wikipedia.org/wiki/Hierarchy","n":1}]', CAST(1 AS BIGINT)),
      ('libertarian socialism', '[{"target":"en.wikipedia.org/wiki/Libertarian_socialism","n":1}]', CAST(1 AS BIGINT)),
      ('political philosophy', '[{"target":"en.wikipedia.org/wiki/Political_philosophy","n":1}]', CAST(1 AS BIGINT)),
      ('the archive', '[{"target":"example.org/archive","n":1}]', CAST(1 AS BIGINT))
      ) AS t(anchor, counts, total) ORDER BY anchor""")),

    QueryDef("m_name_part_counts", (s, d) => {
      LinkModels.namePartCounts(Wiki.documents(s, FixtureWiki))
        .select(col("term"), to_json(col("counts")).as("counts"))
    }, Some("""
      SELECT * FROM (VALUES
      ('anarchist', '[{"pos":"B","n":1},{"pos":"O","n":2}]'),
      ('philosophy', '[{"pos":"E","n":2},{"pos":"O","n":2}]'),
      ('political', '[{"pos":"B","n":2},{"pos":"O","n":2}]'),
      ('political philosophy', '[{"pos":"B","n":2},{"pos":"E","n":2},{"pos":"O","n":2}]'),
      ('the', '[{"pos":"B","n":1},{"pos":"O","n":4}]')
      ) AS t(term, counts) ORDER BY term""")),

    QueryDef("m_entity_inlinks", (s, d) => {
      LinkModels.entityInlinks(Wiki.documents(s, FixtureWiki))
        .select(col("target"), to_json(col("inlinks")).as("inlinks"))
    }, Some("""
      SELECT * FROM (VALUES
      ('en.wikipedia.org/wiki/Anarchism', '["en.wikipedia.org/wiki/Anarchism","en.wikipedia.org/wiki/Political_philosophy"]'),
      ('en.wikipedia.org/wiki/Government', '["en.wikipedia.org/wiki/Political_philosophy"]'),
      ('en.wikipedia.org/wiki/Hierarchy', '["en.wikipedia.org/wiki/Anarchism"]'),
      ('en.wikipedia.org/wiki/Libertarian_socialism', '["en.wikipedia.org/wiki/Anarchism"]'),
      ('en.wikipedia.org/wiki/Political_philosophy', '["en.wikipedia.org/wiki/Anarchism","en.wikipedia.org/wiki/Political_philosophy"]'),
      ('en.wikipedia.org/wiki/Taoism', '["en.wikipedia.org/wiki/Anarchism"]'),
      ('example.org/archive', '["en.wikipedia.org/wiki/Anarchism"]')
      ) AS t(target, inlinks) ORDER BY target""")),

    QueryDef("m_entity_comentions", (s, d) => {
      LinkModels.entityComentions(Wiki.documents(s, FixtureWiki))
        .select(col("doc_id"), to_json(col("entities")).as("entities"))
    }, Some("""
      SELECT * FROM (VALUES
      ('en.wikipedia.org/wiki/Anarchism', '["en.wikipedia.org/wiki/Anarchism","en.wikipedia.org/wiki/Political_philosophy","en.wikipedia.org/wiki/Hierarchy","en.wikipedia.org/wiki/Libertarian_socialism","en.wikipedia.org/wiki/Taoism","example.org/archive"]'),
      ('en.wikipedia.org/wiki/Political_philosophy', '["en.wikipedia.org/wiki/Political_philosophy","en.wikipedia.org/wiki/Government","en.wikipedia.org/wiki/Anarchism"]')
      ) AS t(doc_id, entities) ORDER BY doc_id""")),

    // ---- IndexMappedMentions (ref text.py:90-108): mention text mapped
    // to vocab-rank sequences with OOV default, span in token indexes.
    QueryDef("m_indexed_mentions", (s, d) => {
      val docs = Wiki.documents(s, FixtureWiki)
      val words = docs.select(
        explode(expr(graft.ops.Hashing.tokens()))
          .as("w"))
      val vocab = graft.ops.Rank.globalOrdinal(
        words.groupBy("w").agg(count(lit(1)).as("cnt")),
        Seq(desc("cnt"), asc("w")), "rank", 8)
      // OOV id rides the plan as a broadcast 1-row aggregate — no
      // driver-side vocab.count() job at query-construction time
      Mentions.indexMapped(Mentions.mentionContexts(docs), vocab)
        .select(col("target"), col("source"),
          to_json(col("sequence")).as("sequence"),
          col("seq_start"), col("seq_stop"))
    }, Some("""
      SELECT * FROM (VALUES
      ('en.wikipedia.org/wiki/Anarchism', 'en.wikipedia.org/wiki/Anarchism', '[8,26,1,6,5,43,36,23]', CAST(0 AS BIGINT), CAST(1 AS BIGINT)),
      ('example.org/archive', 'en.wikipedia.org/wiki/Anarchism', '[37,0,11,18,0,30,1,2,0,20,12]', CAST(1 AS BIGINT), CAST(3 AS BIGINT)),
      ('en.wikipedia.org/wiki/Libertarian_socialism', 'en.wikipedia.org/wiki/Anarchism', '[27,34,47,31,38]', CAST(3 AS BIGINT), CAST(5 AS BIGINT)),
      ('en.wikipedia.org/wiki/Political_philosophy', 'en.wikipedia.org/wiki/Anarchism', '[8,26,1,6,5,43,36,23]', CAST(3 AS BIGINT), CAST(5 AS BIGINT)),
      ('en.wikipedia.org/wiki/Taoism', 'en.wikipedia.org/wiki/Anarchism', '[15,19,10,24,41,42]', CAST(4 AS BIGINT), CAST(5 AS BIGINT)),
      ('en.wikipedia.org/wiki/Hierarchy', 'en.wikipedia.org/wiki/Anarchism', '[8,26,1,6,5,43,36,23]', CAST(7 AS BIGINT), CAST(8 AS BIGINT)),
      ('en.wikipedia.org/wiki/Political_philosophy', 'en.wikipedia.org/wiki/Political_philosophy', '[6,5,40,22,2,29]', CAST(0 AS BIGINT), CAST(2 AS BIGINT)),
      ('en.wikipedia.org/wiki/Government', 'en.wikipedia.org/wiki/Political_philosophy', '[6,5,40,22,2,29]', CAST(3 AS BIGINT), CAST(4 AS BIGINT)),
      ('en.wikipedia.org/wiki/Anarchism', 'en.wikipedia.org/wiki/Political_philosophy', '[28,32,4,25,3,44,2,9,14,46]', CAST(4 AS BIGINT), CAST(6 AS BIGINT)),
      ('en.wikipedia.org/wiki/Anarchism', 'en.wikipedia.org/wiki/Political_philosophy', '[28,32,4,25,3,44,2,9,14,46]', CAST(7 AS BIGINT), CAST(9 AS BIGINT))
      ) AS t(target, source, sequence, seq_start, seq_stop)
      ORDER BY source, seq_start, target, sequence""")),

    // ---- MapRedirects (ref redirects.py:10-52): cross-KB redirect
    // composition + one transitive hop, over literal KB pairs covering
    // both composition directions and the chain collapse.
    QueryDef("m_map_redirects", (s, d) => {
      import s.implicits._
      val from = Seq("a" -> "b", "x" -> "y").toDF("source", "target")
      val to = Seq("a" -> "c", "q" -> "r", "y" -> "z")
        .toDF("source", "target")
      graft.ops.Redirects.mapRedirects(from, to)
    }, Some("""
      SELECT * FROM (VALUES
      ('a', 'c'), ('b', 'c'), ('q', 'r'), ('x', 'z'), ('y', 'z')
      ) AS t(source, target) ORDER BY source, target""")),

    // ---- RedirectDocuments (ref redirects.py:77-105): rewrite corpus
    // link targets through a redirect set with identity fallback.
    QueryDef("m_redirect_documents", (s, d) => {
      import s.implicits._
      val extra = Seq(
        "en.wikipedia.org/wiki/Taoism" -> "en.wikipedia.org/wiki/Taoism_(updated)",
        "en.wikipedia.org/wiki/Government" -> "en.wikipedia.org/wiki/State")
        .toDF("source", "target")
      graft.ops.Redirects
        .redirectDocuments(Wiki.documents(s, FixtureWiki), extra)
        .select(col("doc_id"), to_json(col("links")).as("links"))
    }, Some("""
      SELECT * FROM (VALUES
      ('en.wikipedia.org/wiki/Anarchism', '[{"target":"en.wikipedia.org/wiki/Anarchism","start":0,"stop":9},{"target":"en.wikipedia.org/wiki/Political_philosophy","start":15,"stop":35},{"target":"en.wikipedia.org/wiki/Hierarchy","start":49,"stop":60},{"target":"en.wikipedia.org/wiki/Libertarian_socialism","start":79,"stop":100},{"target":"en.wikipedia.org/wiki/Taoism_(updated)","start":134,"stop":140},{"target":"example.org/archive","start":188,"stop":200}]'),
      ('en.wikipedia.org/wiki/Political_philosophy', '[{"target":"en.wikipedia.org/wiki/Political_philosophy","start":0,"stop":20},{"target":"en.wikipedia.org/wiki/State","start":29,"stop":39},{"target":"en.wikipedia.org/wiki/Anarchism","start":77,"stop":94},{"target":"en.wikipedia.org/wiki/Anarchism","start":99,"stop":116}]')
      ) AS t(doc_id, links) ORDER BY doc_id""")),

    // ---- EntityMentionTermFrequency (ref text.py:170-206, fixing ref
    // defect #4): per-entity tf-idf over mention contexts — the
    // reference's flagship entity-representation model. The oracle
    // recomputes idf from the raw document texts and tf from the
    // golden-verified mention rows, entirely in SQL.
    QueryDef("m_entity_mention_tfidf", (s, d) => {
      val docs = Wiki.documents(s, FixtureWiki)
      val mentions = Mentions.mentionContexts(docs)
      // minDf=0 keeps the whole 2-document fixture vocabulary (the ref's
      // web-scale default floor of 2 would empty it)
      val idfs = graft.ops.TextModels.termIdfs(docs, minDf = 0)
      graft.ops.TextModels.entityMentionTermFrequency(mentions, idfs)
    }, Some(s"""
      WITH $duckFixtureDocs,
      $duckFixtureMentions,
      tk AS (SELECT doc_id, unnest($duckTokensSql) AS tok
             FROM docs),
      dfq AS (SELECT tok, COUNT(*) AS df
              FROM (SELECT DISTINCT doc_id, tok FROM tk) GROUP BY tok),
      n AS (SELECT COUNT(*) AS n_docs FROM docs),
      idf AS (SELECT tok, round(ln(CAST(n_docs AS DOUBLE) / df), 6) AS idf
              FROM dfq CROSS JOIN n),
      mt AS (SELECT target, unnest($duckTokensSql) AS tok
             FROM mentions),
      tf AS (SELECT target, tok, COUNT(*) AS tf FROM mt GROUP BY 1, 2),
      w AS (SELECT target, tf.tok AS tok,
              sqrt(CAST(tf AS DOUBLE)) * idf AS wt
            FROM tf JOIN idf ON tf.tok = idf.tok),
      ess AS (SELECT target,
                list_sort(list(struct_pack(tok := tok, wt := wt))) AS es
              FROM w GROUP BY target)
      SELECT target, to_json(list_transform(es, e ->
          struct_pack(tok := e.tok,
            w := CAST(CAST(CASE WHEN $duckWtNorm > 0 THEN e.wt / $duckWtNorm
                           ELSE CAST(0.0 AS DOUBLE) END
                      AS DECIMAL(10,6)) AS VARCHAR))))::VARCHAR AS counts
      FROM ess ORDER BY target""")),

    // ---- Entity skip-gram training corpus (ref embeddings.py:44-55):
    // pre-context ⧺ entity token ⧺ post-context per prefix-filtered
    // mention; the oracle rebuilds every sentence from the golden mention
    // rows.
    QueryDef("m_entity_skipgram_corpus", (s, d) => {
      val mentions = Mentions.mentionContexts(Wiki.documents(s, FixtureWiki))
      graft.ops.TextModels
        .entityTrainingSentences(mentions, "en.wikipedia.org/wiki/")
        .select(col("target"), to_json(col("sentence")).as("sentence"))
    }, Some(s"""
      WITH $duckFixtureMentions
      SELECT target, to_json($duckSkipgramToks)::VARCHAR AS sentence
      FROM mentions
      WHERE starts_with(target, 'en.wikipedia.org/wiki/')
      ORDER BY target, sentence""")),

    // ---- M1 full pipeline: skip-gram embeddings over the entity
    // training corpus with PER-CLASS minimum counts (ref
    // embeddings.py:36-42: entity floor ≪ word floor). The embedding
    // values are engine-specific (distributed ml.Word2Vec vs driver-side
    // gensim); the oracle asserts the exact trained vocabulary — every
    // class floor applied — and the dimensionality contract.
    QueryDef("m1_entity_skipgram_vocab", (s, d) => {
      val prefix = "en.wikipedia.org/wiki/"
      val mentions = Mentions.mentionContexts(Wiki.documents(s, FixtureWiki))
      val sentences = graft.ops.TextModels
        .entityTrainingSentences(mentions, prefix)
      // fixture-scale floors (ref defaults 500/10 assume web scale)
      val filtered = graft.ops.TextModels
        .classMinCountFilter(sentences, prefix,
          minWordCount = 2, minEntityCount = 1)
      val model = new org.apache.spark.ml.feature.Word2Vec()
        .setInputCol("sentence").setOutputCol("vec")
        .setVectorSize(16).setMinCount(1).setSeed(42L)
        .setMaxIter(1).setNumPartitions(1)
        .fit(filtered)
      model.getVectors
        .select(col("word"),
          size(org.apache.spark.ml.functions.vector_to_array(col("vector")))
            .cast("long").as("dim"))
    }, Some(s"""
      WITH $duckFixtureMentions,
      sent AS (SELECT $duckSkipgramToks AS toks FROM mentions
               WHERE starts_with(target, 'en.wikipedia.org/wiki/')),
      tok AS (SELECT unnest(toks) AS word FROM sent),
      cnt AS (SELECT word, COUNT(*) AS c FROM tok GROUP BY word)
      SELECT word, CAST(16 AS BIGINT) AS dim FROM cnt
      WHERE (starts_with(word, 'en.wikipedia.org/wiki/') AND c >= 1)
         OR (NOT starts_with(word, 'en.wikipedia.org/wiki/') AND c >= 2)
      ORDER BY word""")),

    // ---- MappedEntityComentions (ref links.py:217-222, defect #2
    // intent): comention lists through the entity-vocab rank (count-desc,
    // uri tie-break), OOV dropped — maxRank=6 drops the rank-6 entity
    // ('example.org/archive'), exercising the OOV path.
    QueryDef("m_mapped_comentions", (s, d) => {
      val docs = Wiki.documents(s, FixtureWiki)
      val vocab = LinkModels.entityVocab(docs, minCount = 0, maxRank = 6,
        numPartitions = 8)
      LinkModels.mappedEntityComentions(docs, vocab)
        .select(col("doc_id"), to_json(col("entities")).as("entities"))
    }, Some("""
      SELECT * FROM (VALUES
      ('en.wikipedia.org/wiki/Anarchism', '[0,1,3,4,5]'),
      ('en.wikipedia.org/wiki/Political_philosophy', '[1,2,0]')
      ) AS t(doc_id, entities) ORDER BY doc_id"""))
  )
}
