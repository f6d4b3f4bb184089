package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.textfn.{WikiXml, Wikitext}
import graft.ops.Pins.PinSyntax

/** Wikipedia-dump ingestion, the reference's front door (ref
  * sift/corpora/wikipedia.py:10-91 WikipediaCorpus / WikipediaRedirects /
  * WikipediaArticles):
  *
  *   S2 record-delimited XML scan → S3 page parse → redirect extraction
  *   (+ transitive collapse) → markup removal/link extraction →
  *   link-target redirect resolution (J1 left-outer + coalesce) →
  *   regroup + re-attach text (J2) → `documents(doc_id, text, links)`.
  *
  * Scale notes: the scan is the built-in `text` source with a custom
  * `lineSep` (splittable, parallel over dump parts); page/markup parsing
  * is record-local typed map (no shuffle); the redirect join is a plain
  * equi-join the optimizer may broadcast (the ref hand-chose a shuffle
  * join for the same reason AQE decides at runtime, wikipedia.py:81-82).
  */
object Wiki {

  final case class PageRow(uri: String, ns: String, pid: Long,
      redirect: Option[String], content: Option[String])
  final case class LinkRow(target: String, start: Int, stop: Int)
  final case class DocRow(doc_id: String, text: String, links: Seq[LinkRow])

  /** S2+S3: split the dump on the `</page>` record delimiter (ref
    * wikipedia.py:14-20), re-close each fragment, parse with StAX.
    */
  def pages(s: SparkSession, path: String): DataFrame = {
    import s.implicits._
    s.read.option("lineSep", "\n  </page>\n").textFile(path)
      .flatMap { chunk =>
        val i = chunk.indexOf("<page")
        if (i < 0) None
        else WikiXml.parsePage(chunk.substring(i) + "\n  </page>")
          .map(p => PageRow(p.uri, p.ns, p.pageId, p.redirect, p.content))
      }
      .toDF()
  }

  /** Redirect pairs (source uri → target uri), transitively collapsed so
    * chains a→b→c resolve straight to c (ref applies one hop,
    * wikipedia.py:49-66; we iterate a bounded driver loop — each hop
    * halves remaining chain length, so `hops` rounds cover 2^hops).
    */
  def redirects(s: SparkSession, pagesDf: DataFrame, hops: Int = 3): DataFrame = {
    // column-expression twin of Wikitext.normaliseWikilink (spaces →
    // underscores, strip one underscore each end, trim, uppercase the
    // first character) — keeps the join path expression-pure / codegen'd.
    // The uppercase is guarded to match Character.toUpperCase semantics:
    // only a first char that IS lowercase and whose uppercase stays one
    // char is folded — SQL upper() would expand 'ß' → "SS" and touch
    // titlecase chars, which the Scala per-char original never does.
    // String.trim strips ALL chars <= U+0020 (tabs, newlines, controls),
    // while SQL trim() strips only spaces — a regexp trim of [\x00-\x20]
    // keeps redirect titles containing stray control chars normalizing
    // identically to the parser-side Scala path (so their joins hit).
    val u = regexp_replace(
      regexp_replace(translate(col("redirect"), " ", "_"), "^_|_$", ""),
      "^[\\x00-\\x20]+|[\\x00-\\x20]+$", "")
    val first = substring(u, 1, 1)
    val norm = concat(lit(Wikitext.WikiPrefix),
      when(lower(first) === first && upper(first) =!= first &&
          length(upper(first)) === 1,
        concat(upper(first), substring(u, 2, Int.MaxValue)))
        .otherwise(u))
    var r = pagesDf.filter(col("redirect").isNotNull)
      .select(col("uri").as("source"), norm.as("target"))
    for (_ <- 1 to hops) {
      val next = r.as("l")
        .join(r.select(col("source").as("s2"), col("target").as("t2")).as("r"),
          col("l.target") === col("s2"), "left_outer")
        .select(col("l.source").as("source"),
          coalesce(col("t2"), col("l.target")).as("target"))
      r = next.pin() // keep loop lineage flat
    }
    // self-redirect cycles degenerate to source==target; drop them
    r.filter(col("source") =!= col("target"))
  }

  /** Markup-cleaned articles with redirect-resolved links (ns 0, not a
    * redirect, non-empty content — ref wikipedia.py:72).
    */
  def articles(s: SparkSession, pagesDf: DataFrame,
      redirectsDf: DataFrame): DataFrame = {
    import s.implicits._
    val parsed = pagesDf
      .filter(col("ns") === "0" && col("redirect").isNull &&
        col("content").isNotNull && length(col("content")) > 0)
      .select("uri", "content").as[(String, String)]
      .map { case (uri, content) =>
        val p = Wikitext.parse(uri, content)
        DocRow(uri, p.text, p.links.map(l => LinkRow(l.target, l.start, l.stop)))
      }
      .toDF()

    // J1+J2: resolve link targets through redirects and re-attach by key
    // — the shared corpus-level operator (graft.ops.Redirects).
    graft.ops.Redirects.redirectDocuments(parsed, redirectsDf)
  }

  /** Full front door: dump path → documents(doc_id, text, links). */
  def documents(s: SparkSession, path: String): DataFrame = {
    val p = pages(s, path)
    articles(s, p, redirects(s, p))
  }
}
