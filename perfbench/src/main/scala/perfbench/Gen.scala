package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path}

/** Seeded input generators. Every input is a pure function of
  * (seed, size), and each generator states in closed form the counts a
  * correct engine must reproduce from it. The planted defects mirror
  * those of the engine's corpus soak: redirect chains of depth 6 with a
  * dangling tail, a redirect 2-cycle, astral-plane text every 7th doc,
  * WARC records that must be skipped, Wikidata `somevalue` claims and
  * unlinked items.
  */
object Gen {

  /** SplitMix64: a tiny, well-mixed, seedable hash. */
  def mix(x0: Long): Long = {
    var z = x0 + 0x9e3779b97f4a7c15L
    z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
    z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
    z ^ (z >>> 31)
  }
  def mix(seed: Long, a: Long, b: Long): Long = mix(mix(seed ^ mix(a)) + b)
  def below(h: Long, n: Long): Long = java.lang.Long.remainderUnsigned(h, n)

  private val syllables: Array[String] = for {
    c <- Array("b", "c", "d", "f", "g", "h", "k", "l", "m", "n", "p", "r",
      "s", "t", "v", "z")
    v <- Array("a", "e", "i", "o", "u")
  } yield c + v

  /** Word `i` of an open vocabulary: three syllables, 80³ distinct. */
  def word(i: Long): String = {
    val n = syllables.length
    syllables((i % n).toInt) + syllables((i / n % n).toInt) +
      syllables((i / n / n % n).toInt)
  }

  /** Sentence-cased prose of `n` words drawn from the first `vocab`
    * words, with "the"/"of" every few words and a period every 13.
    */
  def prose(seed: Long, salt: Long, n: Int, vocab: Long = 4096): String = {
    val sb = new StringBuilder(n * 8)
    var i = 0
    while (i < n) {
      if (i > 0) sb.append(' ')
      sb.append(i % 7 match {
        case 3 => "the"
        case 5 => "of"
        case _ => word(below(mix(seed, salt, i), vocab))
      })
      if (i % 13 == 12) sb.append('.')
      i += 1
    }
    sb.toString
  }

  /** Write `rows` (each already terminated as the reader expects)
    * round-robin into `parts` files under `dir`; returns bytes written.
    */
  def writeParts(dir: Path, parts: Int, rows: Iterator[String]): Long = {
    Files.createDirectories(dir)
    val outs = (0 until parts).map(p => Files.newBufferedWriter(
      dir.resolve(f"part-$p%05d.txt"), UTF_8))
    var bytes = 0L
    var i = 0
    try rows.foreach { r =>
      outs(i % parts).write(r)
      bytes += r.getBytes(UTF_8).length
      i += 1
    } finally outs.foreach(_.close())
    bytes
  }

  // ---------------------------------------------------------------- wiki

  final case class WikiExpect(pages: Long, redirects: Long,
      unresolved: Long, cycleRows: Long, articles: Long, astral: Long)

  /** `nArt` articles, `nRed` redirects in chains of 6 (positions 0-4
    * point at the next redirect, 5 at an article; the last, partial
    * chain points at the missing page "Redir nRed" and must stay
    * unresolved), plus a 2-cycle that must collapse and be dropped.
    */
  def wikiExpect(nArt: Long, nRed: Long): WikiExpect =
    WikiExpect(pages = nArt + nRed + 2, redirects = nRed,
      unresolved = nRed % 6, cycleRows = 0, articles = nArt,
      astral = (nArt + 6) / 7)

  private def page(title: String, id: Long, redirect: Option[String],
      text: String): String = {
    val r = redirect.fold("")(t => s"""\n    <redirect title="$t" />""")
    s"""  <page>
       |    <title>$title</title>
       |    <ns>0</ns>
       |    <id>$id</id>$r
       |    <revision>
       |      <id>${500000000L + id}</id>
       |      <text bytes="${text.length}" xml:space="preserve">$text</text>
       |    </revision>
       |  </page>
       |""".stripMargin
  }

  def article(seed: Long, id: Long, nArt: Long, nRed: Long): String = {
    def art(k: Long) = s"Article ${below(mix(seed, id, k), nArt)}"
    def red(k: Long) = s"Redir ${below(mix(seed, id, 100 + k), nRed)}"
    val astral =
      if (id % 7 == 0) " Unicode stress: 🌍😀 𝄞 title." else ""
    val b = new StringBuilder(4096)
    b.append(s"{{Infobox place|name=Article $id|population=${id % 90000}")
      .append(s"|era={{circa|${1200 + id % 800}}}|box={{nest|{{deep|inner}}}}}}\n")
    b.append(s"'''Article $id''' is a [[${art(0)}]] of the ")
      .append(s"[[${art(1)}|${prose(seed, id * 8 + 1, 3)}]] group.")
      .append("&lt;ref&gt;Primary cite.&lt;/ref&gt; ")
      .append(s"It derives from [[${red(0)}]] custom &amp; practice.")
      .append("&lt;!-- editorial note --&gt;").append(astral).append("\n\n")
    b.append("== History ==\n").append(prose(seed, id * 8 + 2, 120))
      .append(s" See [[${red(1)}|the older form]] and [[${art(2)}]]. ")
      .append("See [http://example.org/archive the archive] for ")
      .append("the letter &#65; aside.\n\n")
    b.append("== Geography ==\n").append(prose(seed, id * 8 + 3, 120))
      .append(s" Compare [[${art(3)}]] and [[${art(4)}|nearby]].\n\n")
    b.append(s"[[File:Map $id.svg|thumb|left|Survey map.]]\n")
      .append("[[Category:Synthetic articles]]\n")
      .append(s"[[fr:Article $id]]")
    page(s"Article $id", 1000 + id, None, b.toString)
  }

  def redirect(seed: Long, j: Long, nArt: Long): String = {
    val target =
      if (j % 6 == 5) s"Article ${below(mix(seed, j / 6, 7), nArt)}"
      else s"Redir ${j + 1}"
    page(s"Redir $j", 10000000L + j, Some(target), s"#REDIRECT [[$target]]")
  }

  /** The dump rows in a seed-dependent order. */
  def wikiRows(seed: Long, nArt: Long, nRed: Long): Iterator[String] = {
    val cycle = Iterator(
      page("RedirCycleA", 20000001L, Some("RedirCycleB"), "#REDIRECT [[RedirCycleB]]"),
      page("RedirCycleB", 20000002L, Some("RedirCycleA"), "#REDIRECT [[RedirCycleA]]"))
    val n = nArt + nRed
    val off = below(mix(seed), n)
    (0L until n).iterator.map(i => (i + off) % n).map { k =>
      if (k < nArt) article(seed, k, nArt, nRed)
      else redirect(seed, k - nArt, nArt)
    } ++ cycle
  }

  // ---------------------------------------------------------------- WARC

  final case class WarcExpect(records: Long, docs: Long, astral: Long)

  /** Records 0-4 are oversized (over the 250 KB cleaned-text gate), every
    * 23rd is a request and every 29th a 404: all must be skipped.
    */
  def warcKind(i: Long): String =
    if (i < 5) "oversized"
    else if (i % 23 == 0) "request"
    else if (i % 29 == 0) "404"
    else "response"

  def warcExpect(n: Long): WarcExpect = {
    val kept = (0L until n).filter(i => warcKind(i) == "response")
    WarcExpect(n, kept.size.toLong, kept.count(_ % 7 == 0).toLong)
  }

  def htmlPage(seed: Long, id: Long, n: Long): String = {
    def link(k: Long) =
      s"""<a href="http://site.example/p${below(mix(seed, id, 200 + k), n)}">${prose(seed, id * 8 + 4, 3)}</a>"""
    val astral = if (id % 7 == 0) " 🌍😀 astral marker." else ""
    s"""<html><head><title>Page $id</title><style>body{color:#000}</style>
       |<script>var x = $id; function f(){return x*2;}</script></head>
       |<body><div class="nav"><ul><li>${link(0)}</li><li>${link(1)}</li></ul></div>
       |<!-- boilerplate comment -->
       |<div id="main"><h1>Page $id</h1>
       |<p>${prose(seed, id * 8 + 5, 120)} ${link(2)} &amp; more.$astral</p>
       |<p>${prose(seed, id * 8 + 6, 120)} ${link(3)}.</p>
       |</div><div class="footer">${link(4)} &#169; site</div></body></html>""".stripMargin
  }

  /** One record, ending with the marker that completes the reader's
    * "WARC/1.0\r\n" record delimiter.
    */
  def warcRecord(seed: Long, i: Long, n: Long): String = {
    val url = s"http://site.example/p$i"
    val ok = "HTTP/1.1 200 OK\r\nContent-Type: text/html\r\n\r\n"
    val (warcType, payload) = warcKind(i) match {
      case "request" => ("request", s"GET /p$i HTTP/1.1")
      case "404" => ("response",
        "HTTP/1.1 404 Not Found\r\nContent-Type: text/html\r\n\r\n<html>gone</html>")
      case "oversized" => ("response",
        ok + s"<html><body><p>${prose(seed, i, 60000)}</p></body></html>")
      case _ => ("response", ok + htmlPage(seed, i, n))
    }
    s"WARC-Type: $warcType\r\nWARC-Target-URI: $url\r\n" +
      s"Content-Length: ${payload.length}\r\n\r\n$payload\r\nWARC/1.0\r\n"
  }

  def warcRows(seed: Long, n: Long): Iterator[String] =
    Iterator("WARC/1.0\r\n") ++ (0L until n).iterator.map(warcRecord(seed, _, n))

  // ------------------------------------------------------------ Wikidata

  final case class WikidataExpect(items: Long, rows: Long, entries: Long)

  /** Item Q(i+1): no en label every 13th, no enwiki sitelink every 10th
    * (no relations row), P2 `somevalue` every 11th (filtered). Linked
    * items keep 3 relation entries, 2 when P2 was `somevalue`.
    */
  def wikidataExpect(n: Long): WikidataExpect = {
    val linked = (1L to n).filter(_ % 10 != 0)
    WikidataExpect(n + 3, linked.size.toLong,
      linked.map(id => if (id % 11 == 0) 2L else 3L).sum)
  }

  def wikidataItem(seed: Long, i: Long, n: Long): String = {
    val id = i + 1
    val ref = below(mix(seed, id, 300), n) + 1
    val labels = if (id % 13 != 0) s"""{"en":{"value":"Entity $id"}}""" else "{}"
    val site = if (id % 10 != 0) s""","sitelinks":{"enwiki":{"title":"Entity $id"}}""" else ""
    val p2 =
      if (id % 11 == 0) """"P2":[{"mainsnak":{"snaktype":"somevalue","datatype":"time"}}]"""
      else s""""P2":[{"mainsnak":{"snaktype":"value","datatype":"time","datavalue":{"value":{"time":"+${1000 + id % 1000}-01-01T00:00:00Z","precision":11},"type":"time"}}}]"""
    s"""{"id":"Q$id","labels":$labels$site,"claims":{""" +
      s""""P1":[{"mainsnak":{"snaktype":"value","datatype":"wikibase-item","datavalue":{"value":{"numeric-id":$ref},"type":"wikibase-entityid"}}}],""" +
      p2 + "," +
      s""""P3":[{"mainsnak":{"snaktype":"value","datatype":"string","datavalue":{"value":"${prose(seed, id * 8 + 7, 20)}","type":"string"}}}]}},""" + "\n"
  }

  def wikidataRows(seed: Long, n: Long): Iterator[String] =
    Iterator("[\n",
      """{"id":"P1","labels":{"en":{"value":"references"}},"claims":{}},""" + "\n",
      """{"id":"P2","labels":{"en":{"value":"inception"}},"claims":{}},""" + "\n",
      """{"id":"P3","labels":{"en":{"value":"motto"}},"claims":{}},""" + "\n") ++
      (0L until n).iterator.map(wikidataItem(seed, _, n)) ++ Iterator("]\n")

  // ----------------------------------------------------- dedup corpus

  /** Document corpus layout: `fams` near-duplicate families of `famSize`
    * (one word changed per variant), `exact` verbatim copies of
    * singleton docs, `low` digit-only docs that must fail the quality
    * rules, `contaminated` docs that embed one benchmark doc each, and
    * singletons for the rest. Benchmark docs use words no corpus doc
    * uses outside contamination, so only Bloom false positives can drop
    * a clean doc.
    */
  final case class DocsExpect(docs: Long, passQuality: Long,
      exactGroups: Long, famSize: Int, fams: Long, exactCopies: Long,
      contaminated: Long, benchmark: Long)

  final case class DocsLayout(n: Int, fams: Int, famSize: Int,
      exact: Int, low: Int, contaminated: Int) {
    require(fams * famSize + 2 * exact + low + contaminated <= n)
    def firstContaminated: Long = fams.toLong * famSize + 2L * exact + low
    def expect: DocsExpect = DocsExpect(n, n - low, n - exact, famSize,
      fams, exact, contaminated, contaminated * 2L)
  }

  private val benchVocabBase = 200000L
  private val docWords = 60

  def benchDoc(seed: Long, j: Long): String =
    (0 until docWords).map(i =>
      word(benchVocabBase + below(mix(seed, 7000000L + j, i), 4096)))
      .mkString(" ")

  /** (doc_id, text) rows in id order; see [[DocsLayout]]. */
  def docs(seed: Long, l: DocsLayout): IndexedSeq[(Long, String)] = {
    val famEnd = l.fams * l.famSize
    val exactEnd = famEnd + 2 * l.exact
    val lowEnd = exactEnd + l.low
    val contEnd = lowEnd + l.contaminated
    def single(id: Long) = prose(seed, 1000000L + id, docWords)
    (0 until l.n).map { i =>
      val text =
        if (i < famEnd) {
          val f = i / l.famSize
          val v = i % l.famSize
          val ws = prose(seed, 2000000L + f, docWords).split(' ')
          if (v > 0) {
            val pos = 6 + v * 11 // distinct, non-stopword slots per variant
            ws(pos) = word(5000 + below(mix(seed, f, v), 4096))
          }
          ws.mkString(" ")
        } else if (i < exactEnd) single(famEnd + (i - famEnd) / 2 * 2)
        else if (i < lowEnd)
          (0 until docWords).map(k => below(mix(seed, i, k), 10000).toString)
            .mkString(" ")
        else if (i < contEnd) single(i) + " " + benchDoc(seed, i - lowEnd)
        else single(i)
      (i.toLong, text)
    }
  }

  /** Benchmark set: the docs embedded by contamination, plus as many
    * that appear nowhere in the corpus.
    */
  def benchmark(seed: Long, l: DocsLayout): IndexedSeq[(Long, String)] =
    (0 until 2 * l.contaminated).map(j => (j.toLong, benchDoc(seed, j)))

  // ----------------------------------------------------- embeddings

  /** `n` vectors in `dims` dimensions around `clusters` random centres
    * (label = cluster), noise small next to centre separation.
    */
  def embeddings(seed: Long, n: Int, dims: Int, clusters: Int)
      : IndexedSeq[(Long, Array[Float], Int)] = {
    def gauss(a: Long, b: Long): Double = {
      val u1 = (below(mix(seed, a, 2 * b), 1L << 52) + 1).toDouble / (1L << 52)
      val u2 = below(mix(seed, a, 2 * b + 1), 1L << 52).toDouble / (1L << 52)
      math.sqrt(-2 * math.log(u1)) * math.cos(2 * math.Pi * u2)
    }
    val centres = Array.tabulate(clusters, dims)((c, d) => gauss(-1 - c, d))
    (0 until n).map { i =>
      val c = i % clusters
      val v = Array.tabulate(dims)(d => (centres(c)(d) + 0.15 * gauss(i, d)).toFloat)
      (i.toLong, v, c)
    }
  }

  /** Exact cosine top-k of each query over the corpus, self excluded,
    * ties broken by neighbour id: the ground truth for ANN recall.
    */
  def bruteTopK(corpus: IndexedSeq[(Long, Array[Float], Int)],
      queries: Seq[Long], k: Int): Map[Long, Seq[Long]] = {
    def norm(v: Array[Float]) = math.sqrt(v.map(x => x.toDouble * x).sum)
    val norms = corpus.map(c => norm(c._2))
    queries.map { q =>
      val qv = corpus(q.toInt)._2
      val qn = norms(q.toInt)
      val scored = corpus.indices.filter(_ != q.toInt).map { j =>
        val v = corpus(j)._2
        var dot = 0.0
        var d = 0
        while (d < v.length) { dot += qv(d).toDouble * v(d); d += 1 }
        (-(dot / (qn * norms(j))), corpus(j)._1)
      }
      q -> scored.sorted.take(k).map(_._2)
    }.toMap
  }
}
