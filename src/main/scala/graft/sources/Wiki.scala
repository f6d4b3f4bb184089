package graft.sources

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import graft.textfn.{WikiXml, Wikitext}
import graft.ops.DriverFold
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
  * is record-local typed map (no shuffle); the transitive collapse runs
  * on the driver up to [[RedirectFoldRows]] redirects; the redirect join
  * is a plain equi-join the optimizer may broadcast (the ref hand-chose a
  * shuffle join for the same reason AQE decides at runtime,
  * wikipedia.py:81-82).
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
    * wikipedia.py:49-66; we run `hops` left-outer self-join rounds —
    * each halves the remaining chain length, so they cover 2^hops).
    *
    * A set of at most [[RedirectFoldRows]] pairs is read with one
    * [[graft.ops.DriverFold.collectParallel]] (one job, one task per
    * page partition), collapsed by [[closure]] and returned as a local
    * relation: 1 job instead of a pinned job per round. Larger sets
    * run the same rounds as pinned self-joins. Both paths give the same
    * rows.
    */
  def redirects(s: SparkSession, pagesDf: DataFrame,
      hops: Int = 3): DataFrame =
    redirects(s, pagesDf, hops, RedirectFoldRows)

  /** The redirect fold guard: pair sets of at most this many rows
    * collapse on the driver, and the guard read never keeps more than
    * this many there. Measured crossover on the same pair sets
    * (local[4], cached pages, chains of 6, warm median of 5, fold vs
    * the pinned loop): 2^12 pairs 0.21 vs 0.88 s, 2^14 0.24 vs 0.85 s,
    * 2^15 0.38 vs 1.01 s, 2^16 0.55 vs 1.18 s, 2^17 1.11 vs 1.38 s,
    * 2^18 2.24 vs 1.91 s. The fold costs ~8.6 µs per pair on the
    * driver; the loop ~0.9 s of jobs plus ~15 core-µs per pair, which
    * divides by the core count. So the 4-core break-even sits near
    * 2^17.5, and the guard at the largest power of two where the fold
    * still beats a loop on 32 cores (extrapolated from that model):
    * 2^16 (the corpus benchmark's dump has ~300 redirects).
    */
  private[graft] val RedirectFoldRows: Long = 1L << 16

  /** [[redirects]] with an explicit fold guard (a negative guard forces
    * the pinned loop).
    */
  private[graft] def redirects(s: SparkSession, pagesDf: DataFrame,
      hops: Int, maxRows: Long): DataFrame = {
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
    val pairs = pagesDf.filter(col("redirect").isNotNull)
      .select(col("uri").as("source"), norm.as("target"))
    DriverFold.collectParallel(pairs, maxRows) match {
      case Some(rows) =>
        // self-redirect cycles degenerate to source == target: dropped,
        // with any null side, as the loop's `=!=` filter drops them
        DriverFold.local(s, pairs.schema,
          closure(rows.map(r => (r.getString(0), r.getString(1))), hops)
            .collect { case (a, b) if a != null && b != null && a != b =>
              Row(a, b) }.toSeq)
      case None =>
        var r = pairs
        for (_ <- 1 to hops) {
          val next = r.as("l")
            .join(r.select(col("source").as("s2"), col("target").as("t2"))
              .as("r"), col("l.target") === col("s2"), "left_outer")
            .select(col("l.source").as("source"),
              coalesce(col("t2"), col("l.target")).as("target"))
          r = next.pin() // keep loop lineage flat
        }
        r.filter(col("source") =!= col("target"))
    }
  }

  /** `hops` rounds of the left-outer self-join `(s, t) ⋈ (s2 = t, t2) →
    * (s, coalesce(t2, t))` over a multiset of pairs, on the driver: a
    * pair whose target is the source of d pairs becomes d pairs (a
    * duplicated source fans out), an unmatched pair is kept as it is,
    * and a null key matches nothing.
    */
  private def closure(pairs: Array[(String, String)],
      hops: Int): Array[(String, String)] =
    (1 to hops).foldLeft(pairs) { (r, _) =>
      val bySource = new java.util.HashMap[String, List[String]]()
      for ((src, t) <- r if src != null)
        bySource.merge(src, List(t), (seen, one) => one ::: seen)
      r.flatMap { case (src, t) =>
        val t2s = bySource.get(t)
        if (t2s == null) Iterator.single(src -> t)
        else t2s.iterator.map(t2 => src -> (if (t2 == null) t else t2))
      }
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
