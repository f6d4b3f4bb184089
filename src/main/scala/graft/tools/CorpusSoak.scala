package graft.tools

import org.apache.spark.sql.functions._

/** End-to-end SCALE SOAK of the reference's own corpus pipeline (the
  * wikicorpus front door — S2 lineSep XML scan → S3 StAX page parse →
  * J6 transitive redirect fixpoint → F5-F10 markup removal + link
  * extraction → link models), the one major surface previously verified
  * only at fixture scale (~5 k docs). Not a gate: a measurement harness.
  *
  * Synthesizes a realistic MediaWiki XML dump with a deterministic
  * generator and planted oddities:
  *   - infoboxes with NESTED templates ({{a|b={{c|{{d}}}}}}),
  *   - wiki-links (direct AND through redirects — resolution must land
  *     them on the final article), refs, comments, XML entities,
  *     external links, File:/Category:/interlang footers,
  *   - redirect CHAINS of depth 6 (J6's 3-hop pointer doubling covers
  *     2³ = 8, so every complete chain must fully collapse — the
  *     harness counts unresolved targets; expected = nRed mod 6 = 2,
  *     the tail group whose last member points at a nonexistent
  *     "Redir nRed" page, i.e. a red-linked redirect target exactly as
  *     real dumps contain — it must surface as unresolved, not crash)
  *     and a planted 2-CYCLE
  *     (RedirCycleA ↔ RedirCycleB — must degenerate to self-maps and be
  *     dropped, not loop),
  *   - astral-plane text (SMP codepoints — UTF-16 surrogate pairs) on
  *     every 7th article; the parser must keep them intact (counted).
  *
  * Usage: runMain graft.tools.CorpusSoak [scale ...] (default 1 10).
  * Base scale ≈ 0.25 GB of dump XML (40 k articles ≈ 6 KB each + 8 k
  * redirects); 10× ≈ 2.5 GB. Prints one JSON line per stage per scale.
  */
object CorpusSoak {

  private val vocab: Array[String] = Array(
    "history", "river", "system", "valley", "empire", "music", "theory",
    "battle", "bridge", "canton", "design", "energy", "forest", "garden",
    "harbor", "island", "jungle", "kernel", "ledger", "market", "nation",
    "origin", "palace", "quarry", "region", "signal", "temple", "union",
    "vessel", "window", "archive", "balance", "culture", "dynasty",
    "economy", "faculty", "granite", "horizon", "imperial", "journal",
    "kingdom", "lattice", "mansion", "network", "observer", "province",
    "quantum", "railway", "station", "treaty", "uplands", "village",
    "western", "textile", "ancient", "borough", "citadel", "document",
    "estuary", "frontier", "gallery", "heritage", "industry", "junction")

  /** Deterministic word soup: `n` vocab words seeded by (seed, salt),
    * sentence-cased with periods — regex-shaped like real prose.
    */
  private def words(seed: Long, salt: Long, n: Int): String = {
    val sb = new StringBuilder(n * 8)
    var x = seed * 6364136223846793005L + salt
    var i = 0
    while (i < n) {
      x = x * 6364136223846793005L + 1442695040888963407L
      val w = vocab(((x >>> 33) % vocab.length).toInt)
      if (i > 0) sb.append(' ')
      sb.append(w)
      if (i % 13 == 12) sb.append('.')
      i += 1
    }
    sb.toString
  }

  /** One article page (~6 KB of wikitext): nested-template infobox,
    * links direct and via redirects, refs/comments/entities, astral
    * text every 7th page, File/Category/interlang footers.
    */
  private[tools] def articleXml(id: Long, nArt: Long, nRed: Long): String = {
    def art(k: Long) = s"Article ${(id * 7 + k * 131 + 1) % nArt}"
    def red(k: Long) = s"Redir ${(id * 5 + k * 17) % nRed}"
    val astral = if (id % 7 == 0)
      " Unicode stress: 🌍😀 𝄞 " +
        "𠀋 title." else ""
    val body = new StringBuilder(8192)
    body.append(s"{{Infobox place|name=Article $id|population=")
      .append(id % 90000)
      .append("|era={{circa|").append(1200 + id % 800)
      .append("}}|box={{nest|{{deep|inner}}}}}}\n")
    body.append(s"'''Article $id''' is a [[${art(0)}]] of the ")
      .append(s"[[${art(1)}|${words(id, 11, 3)}]] group.")
      .append("&lt;ref&gt;Primary cite.&lt;/ref&gt; ")
      .append(s"It derives from [[${red(0)}]] custom &amp; practice.")
      .append("&lt;!-- editorial note --&gt;").append(astral).append("\n\n")
    body.append("== History ==\n")
      .append(words(id, 23, 220)).append(' ')
      .append(s"See [[${red(1)}|the older form]] and [[${art(2)}]]. ")
      .append("See [http://example.org/archive the archive] for ")
      .append("the letter &#65; aside.\n\n")
    body.append("== Geography ==\n")
      .append(words(id, 37, 240)).append(' ')
      .append(s"Compare [[${art(3)}]] and [[${art(4)}|nearby]].\n\n")
    body.append("== Economy ==\n")
      .append(words(id, 41, 220)).append('\n')
    body.append(s"[[File:Map $id.svg|thumb|left|Survey map.]]\n")
      .append("[[Category:Synthetic articles]]\n")
      .append(s"[[fr:Article $id]]")
    s"""  <page>
       |    <title>Article $id</title>
       |    <ns>0</ns>
       |    <id>${1000 + id}</id>
       |    <revision>
       |      <id>${500000000L + id}</id>
       |      <text bytes="${body.length}" xml:space="preserve">$body</text>
       |    </revision>
       |  </page>""".stripMargin
  }

  /** Redirect pages in chains of depth 6: positions 0..4 of each chain
    * point at the next redirect, position 5 at an article — J6 must
    * collapse every source straight to the article.
    */
  private def redirectXml(j: Long, nArt: Long, nRed: Long): String = {
    val target =
      if (j % 6 == 5) s"Article ${(j / 6 * 37) % nArt}"
      else s"Redir ${j + 1}"
    s"""  <page>
       |    <title>Redir $j</title>
       |    <ns>0</ns>
       |    <id>${10000000L + j}</id>
       |    <redirect title="$target" />
       |    <revision>
       |      <id>${600000000L + j}</id>
       |      <text bytes="30" xml:space="preserve">#REDIRECT [[$target]]</text>
       |    </revision>
       |  </page>""".stripMargin
  }

  /** One CommonCrawl-style HTML page (~4.5 KB): head/style/script to
    * DROP, nav + footer boilerplate, main content with anchors,
    * entities, comments, astral text every 7th page.
    */
  private[tools] def htmlPage(id: Long, nPages: Long): String = {
    def link(k: Long) =
      s"""<a href="http://site.example/p${(id * 7 + k * 113 + 1) % nPages}">${words(id, 50 + k, 3)}</a>"""
    val astral = if (id % 7 == 0) " 🌍😀 astral marker." else ""
    s"""<html><head><title>Page $id</title><style>body{color:#000}</style>
       |<script>var x = $id; function f(){return x*2;}</script></head>
       |<body><div class="nav"><ul><li>${link(0)}</li><li>${link(1)}</li></ul></div>
       |<!-- boilerplate comment -->
       |<div id="main"><h1>Page $id</h1>
       |<p>${words(id, 61, 200)} ${link(2)} &amp; more.$astral</p>
       |<p>${words(id, 67, 220)}</p>
       |<table><tr><td>${words(id, 71, 40)}</td></tr></table>
       |<p>${words(id, 73, 200)} ${link(3)}.</p>
       |</div><div class="footer">${link(4)} &#169; site</div></body></html>"""
      .stripMargin
  }

  /** One WARC record as a text-sink row: the row ends with the
    * "WARC/1.0\r" marker so the sink's row separator completes the
    * "WARC/1.0\r\n" record delimiter the S4 scan splits on. `kind`
    * plants the records the parser must SKIP (request records, 404s)
    * or the 250 KB gate must DROP (oversized).
    */
  private[tools] def warcRecord(id: Long, nPages: Long,
      kind: String): String = {
    val url = s"http://site.example/p$id"
    val (warcType, status, body) = kind match {
      case "request" => ("request", "", s"GET /p$id HTTP/1.1")
      case "404" => ("response", "HTTP/1.1 404 Not Found\r\n" +
        "Content-Type: text/html\r\n\r\n", "<html>gone</html>")
      case "oversized" => ("response", "HTTP/1.1 200 OK\r\n" +
        "Content-Type: text/html\r\n\r\n",
        s"<html><body><p>${words(id, 91, 40000)}</p></body></html>")
      case _ => ("response", "HTTP/1.1 200 OK\r\n" +
        "Content-Type: text/html\r\n\r\n", htmlPage(id, nPages))
    }
    val payload =
      if (warcType == "request") body
      else status + body
    s"WARC-Type: $warcType\r\nWARC-Target-URI: $url\r\n" +
      s"Content-Length: ${payload.length}\r\n\r\n$payload\r\nWARC/1.0\r"
  }

  /** One Wikidata item line (~0.9 KB JSON, trailing comma as real dumps
    * have): en label (missing on every 13th item — the null-safe label
    * path), enwiki sitelink on 90%, claims P1 wikibase-item reference,
    * P2 time (snaktype "somevalue" on every 11th item — must be
    * FILTERED, not crash), P3 string.
    */
  private[tools] def wikidataItem(i: Long, nQ: Long): String = {
    val id = i + 1
    val ref1 = (id * 31) % nQ + 1
    val labels =
      if (id % 13 != 0) s"""{"en":{"value":"Entity $id"}}""" else "{}"
    val site =
      if (id % 10 != 0)
        s""","sitelinks":{"enwiki":{"title":"Entity $id"}}"""
      else ""
    val p2 =
      if (id % 11 == 0)
        """"P2":[{"mainsnak":{"snaktype":"somevalue","datatype":"time"}}]"""
      else
        s""""P2":[{"mainsnak":{"snaktype":"value","datatype":"time","datavalue":{"value":{"time":"+${1000 + id % 1000}-01-01T00:00:00Z","precision":11},"type":"time"}}}]"""
    s"""{"id":"Q$id","labels":$labels$site,"claims":{""" +
      s""""P1":[{"mainsnak":{"snaktype":"value","datatype":"wikibase-item","datavalue":{"value":{"numeric-id":$ref1},"type":"wikibase-entityid"}}}],""" +
      p2 + "," +
      s""""P3":[{"mainsnak":{"snaktype":"value","datatype":"string","datavalue":{"value":"${words(id, 83, 40)}","type":"string"}}}]}},"""
  }

  private def cycleXml(a: String, b: String, pid: Long): String =
    s"""  <page>
       |    <title>$a</title>
       |    <ns>0</ns>
       |    <id>$pid</id>
       |    <redirect title="$b" />
       |    <revision>
       |      <id>${700000000L + pid}</id>
       |      <text bytes="30" xml:space="preserve">#REDIRECT [[$b]]</text>
       |    </revision>
       |  </page>""".stripMargin

  def main(args: Array[String]): Unit = {
    val scales = if (args.nonEmpty) args.toSeq.map(_.toInt) else Seq(1, 10)
    val spark = Scale.session()
    import spark.implicits._
    import Scale.timed

    def emit(stage: String, scale: Int, sec: Double, extra: (String, Long)*)
        : Unit = Scale.line("stage", stage, scale, sec, extra)

    val mad = org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK

    for (scale <- scales) {
      val nArt = 40000L * scale
      val nRed = 8000L * scale
      val dumpDir = java.nio.file.Files
        .createTempDirectory("graft_corpus_soak").toString

      // ---- dump synthesis (parallel, deterministic); row text ends
      // with "\n  </page>" so the text sink's row separator completes
      // the S2 record delimiter exactly as a real dump does
      val (dumpBytes, genSec) = timed {
        val arts = spark.range(0, nArt)
          .map(i => articleXml(i, nArt, nRed))
        val reds = spark.range(0, nRed)
          .map(j => redirectXml(j, nArt, nRed))
        val cyc = spark.createDataset(Seq(
          cycleXml("RedirCycleA", "RedirCycleB", 20000001L),
          cycleXml("RedirCycleB", "RedirCycleA", 20000002L)))
        arts.unionAll(reds).unionAll(cyc)
          .repartition(64) // 64 parts: a splittable multi-part dump
          .write.mode("overwrite").text(dumpDir)
        java.nio.file.Files.walk(java.nio.file.Paths.get(dumpDir))
          .filter(p => java.nio.file.Files.isRegularFile(p))
          .mapToLong(p => java.nio.file.Files.size(p)).sum()
      }
      emit("dump_synthesis", scale, genSec, "bytes" -> dumpBytes,
        "n_articles" -> nArt, "n_redirects" -> (nRed + 2))

      // ---- S2+S3: lineSep scan + StAX parse
      val pages = graft.sources.Wiki.pages(spark, dumpDir).persist(mad)
      val (nPages, scanSec) = timed(pages.count())
      emit("s2_s3_scan_parse", scale, scanSec, "n_pages" -> nPages)

      // ---- J6: transitive redirect fixpoint. Observables: unresolved
      // chain targets (a target still naming a Redir page — expected
      // nRed mod 6 = 2, the deliberately dangling tail group; see the
      // object doc) and surviving cycle members (expected 0: the
      // 2-cycle degenerates to self-maps, which are dropped).
      val (red, redSec) = timed {
        val r = graft.sources.Wiki.redirects(spark, pages).persist(mad)
        r.count()
        r
      }
      val unresolved = red
        .filter(col("target").contains("/wiki/Redir_")).count()
      val cycleRows = red
        .filter(col("source").contains("RedirCycle")).count()
      emit("j6_redirect_fixpoint", scale, redSec,
        "n_redirects" -> red.count(), "n_unresolved" -> unresolved,
        "n_cycle_rows" -> cycleRows)

      // ---- F5-F10: markup removal + link extraction + link resolution
      // (the regex-heavy stage). Astral observable: every 7th article
      // plants SMP codepoints; the parse must keep ≥ one per such doc.
      val docs = graft.sources.Wiki.articles(spark, pages, red)
        .persist(mad)
      val ((nDocs, nChars, nLinks), parseSec) = timed {
        val r = docs.agg(count(lit(1)), sum(length(col("text"))),
          sum(size(col("links")))).head()
        (r.getLong(0), r.getLong(1), r.getLong(2))
      }
      val nAstral = docs
        .filter(col("text").rlike("[\\x{1F300}-\\x{1F6FF}]")).count()
      emit("f5_f10_markup_links", scale, parseSec, "n_docs" -> nDocs,
        "n_chars" -> nChars, "n_links" -> nLinks, "n_astral" -> nAstral)

      // ---- link models over the resolved documents
      val (nCounts, ecSec) = timed {
        graft.ops.LinkModels.entityCounts(docs, minCount = 1).count()
      }
      emit("m_entity_counts", scale, ecSec, "n_entities" -> nCounts)
      val (nInl, inlSec) = timed {
        graft.ops.LinkModels.entityInlinks(docs).count()
      }
      emit("m_entity_inlinks", scale, inlSec, "n_entities" -> nInl)

      docs.unpersist(); red.unpersist(); pages.unpersist()
      graft.queries.Scratch.deleteTree(java.nio.file.Paths.get(dumpDir))

      // ==== WARC path (S4 + F11): the CommonCrawl ingest — the other
      // 100 TB-realistic source. Planted: every 23rd record a request
      // (parser must skip), every 29th a 404 (skip), 5 oversized pages
      // (the 250 KB post-clean gate must drop them), astral text every
      // 7th page (must survive the HTML sweep).
      val nWarc = 60000L * scale
      val warcDir = java.nio.file.Files
        .createTempDirectory("graft_warc_soak").toString
      val (warcBytes, wGenSec) = timed {
        spark.range(0, nWarc)
          .map { i =>
            val kind =
              if (i < 5) "oversized"
              else if (i % 23 == 0) "request"
              else if (i % 29 == 0) "404"
              else "response"
            warcRecord(i, nWarc, kind)
          }
          .repartition(64)
          .write.mode("overwrite").text(warcDir)
        java.nio.file.Files.walk(java.nio.file.Paths.get(warcDir))
          .filter(p => java.nio.file.Files.isRegularFile(p))
          .mapToLong(p => java.nio.file.Files.size(p)).sum()
      }
      // expected survivors: responses that are neither request/404/
      // oversized (ids 0-4 oversized; %23==0 request unless <5;
      // %29==0 404 unless already request/<5)
      val expected = (0L until nWarc).count(i =>
        i >= 5 && i % 23 != 0 && i % 29 != 0)
      emit("warc_synthesis", scale, wGenSec, "bytes" -> warcBytes,
        "n_records" -> nWarc, "n_expected_docs" -> expected.toLong)
      val wdocs = graft.sources.WarcSource.documents(spark, warcDir)
        .persist(mad)
      val ((nW, nWChars, nWLinks), wSec) = timed {
        val r = wdocs.agg(count(lit(1)), sum(length(col("text"))),
          sum(size(col("links")))).head()
        (r.getLong(0), r.getLong(1), r.getLong(2))
      }
      val nWAstral = wdocs
        .filter(col("text").rlike("[\\x{1F300}-\\x{1F6FF}]")).count()
      emit("s4_warc_pipeline", scale, wSec, "n_docs" -> nW,
        "n_chars" -> nWChars, "n_links" -> nWLinks,
        "n_astral" -> nWAstral)
      wdocs.unpersist()
      graft.queries.Scratch.deleteTree(java.nio.file.Paths.get(warcDir))

      // ==== Wikidata path (S5 + F14/F15 + J4/J5): the third ingest
      // front door. Planted: missing en labels every 13th item (the
      // null-safe path must drop them from the label tables without
      // losing the item), snaktype "somevalue" on every 11th item's P2
      // (must be filtered), unlinked items on every 10th (no enwiki
      // sitelink → no relations row). Expected relation-entry count is
      // computed in closed form and must match EXACTLY.
      val nQ = 250000L * scale
      val wdDir = java.nio.file.Files
        .createTempDirectory("graft_wd_soak").toString
      val (wdBytes, wdGenSec) = timed {
        val items = spark.range(0, nQ).map(i => wikidataItem(i, nQ))
        val preds = spark.createDataset(Seq(
          """{"id":"P1","labels":{"en":{"value":"references"}},"claims":{}},""",
          """{"id":"P2","labels":{"en":{"value":"inception"}},"claims":{}},""",
          """{"id":"P3","labels":{"en":{"value":"motto"}},"claims":{}},""",
          "[", "]"))
        items.unionAll(preds)
          .repartition(64)
          .write.mode("overwrite").text(wdDir)
        java.nio.file.Files.walk(java.nio.file.Paths.get(wdDir))
          .filter(p => java.nio.file.Files.isRegularFile(p))
          .mapToLong(p => java.nio.file.Files.size(p)).sum()
      }
      // linked items (id % 10 != 0) emit one relations row holding
      // 3 entries minus 1 when P2 was somevalue (id % 11 == 0)
      var expRows = 0L; var expEntries = 0L
      var qid = 1L
      while (qid <= nQ) {
        if (qid % 10 != 0) {
          expRows += 1
          expEntries += (if (qid % 11 == 0) 2 else 3)
        }
        qid += 1
      }
      emit("wd_synthesis", scale, wdGenSec, "bytes" -> wdBytes,
        "n_items" -> nQ, "n_expected_rows" -> expRows,
        "n_expected_entries" -> expEntries)
      val (nItems, itSec) = timed {
        graft.sources.Wikidata.items(spark, wdDir).count()
      }
      emit("s5_items_scan", scale, itSec, "n_items" -> nItems)
      val rel = graft.sources.Wikidata.relations(spark, wdDir)
        .persist(mad)
      val ((nRel, nEntries), relSec) = timed {
        val r = rel.agg(count(lit(1)),
          sum(size(col("relations")))).head()
        (r.getLong(0), r.getLong(1))
      }
      emit("s5_relations", scale, relSec, "n_rows" -> nRel,
        "n_entries" -> nEntries)
      rel.unpersist()
      graft.queries.Scratch.deleteTree(java.nio.file.Paths.get(wdDir))
    }
    spark.stop()
  }
}
