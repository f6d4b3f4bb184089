package graft.textfn

import java.util.regex.Pattern
import scala.collection.mutable

/** Wikitext → plain text + links, re-implemented from the reference's
  * evident behavior (sift/corpora/wikicorpus.py:17-211) in idiomatic Scala:
  *
  *  1. strip nested `{{templates}}` with a brace-depth scan;
  *  2. hoist `[[File:…|…|caption]]` captions into the text;
  *  3. iteratively (≤3 passes) remove comments/refs/nowiki/math/tags,
  *     unwrap headings, rewrite external `[url text]` and `[[target|text]]`
  *     wikilinks to `<a href>` anchors, drop categories/interlanguage
  *     links/table markup, unwrap bold/italic quoting;
  *  4. inject a self-link on the first bolded phrase (wiki lead-section
  *     convention: it mentions the article's own entity);
  *  5. unescape HTML entities, then extract `<a href>` anchors into
  *     (target, start, stop) spans over the final plain text.
  *
  * Links carry UTF-16 code-unit offsets (SURVEY.md §1.2) such that
  * `text.substring(start, stop)` is exactly the anchor text.
  */
object Wikitext {

  final case class Link(target: String, start: Int, stop: Int)
  final case class Parsed(text: String, links: Vector[Link])

  val WikiPrefix = "en.wikipedia.org/wiki/"

  // --- regex passes (DOTALL where markup spans lines) -----------------
  private def re(p: String, flags: Int = 0) = Pattern.compile(p, flags)
  private val D = Pattern.DOTALL
  private val Comments = re("<!--.*?-->", D)
  private val Refs = re("<ref([> ].*?)(</ref>|/>)", D)
  private val NoWiki = re("<nowiki([> ].*?)(</nowiki>|/>)", D)
  private val MathTag = re("<math([> ].*?)(</math>|/>)", D)
  private val OtherTags = re("<(.*?)>", D)
  private val Headings = re("(==+)\\s*(.*?)\\s*\\1")
  private val InterLang = re("(\\n\\[\\[[a-z][a-z][\\w-]*:[^:\\]]+\\]\\])+$")
  private val Categories = re("\\[\\[Category:[^\\]\\[]*\\]\\]")
  private val ExtUrl = re("\\[(\\w+)://(.*?)(( (.*?))|())\\]")
  private val WikiLinkPiped = re("\\[\\[:?([^\\]\\[]*)\\|([^\\]\\[]*)\\]\\]", D)
  private val WikiLinkPlain = re("\\[\\[:?([^\\]\\[]*)\\]\\]", D)
  private val TableLines = re("\\n((\\{\\|)|(\\|-)|(\\|\\}))(.*?)(?=\\n)")
  private val TableCells = re("\\n(\\||!)(.*?\\|)*([^|]*?)")
  private val BoldItalic = re("'''''([^']*?)'''''")
  private val Bold = re("'''(.*?)'''")
  private val ItalicQuote = re("''\"(.*?)\"''")
  private val Italic = re("''([^']*)''")
  private val DoubleQuotes = re("\"\"(.*?)\"\"")
  private val EmptyParens = re(" \\(\\s*\\)")
  private val FileCaption = re("\\[\\[[fF]ile:(.*?)(\\|[^\\]\\[]+?)*\\|")
  private val ImageCaption = re("\\[\\[[iI]mage:(.*?)(\\|[^\\]\\[]+?)*\\|")
  private val Anchor = re("<a href=\"(.+?)\">(.+?)</a>", D)

  private def sub(p: Pattern, s: String, r: String): String =
    p.matcher(s).replaceAll(r)

  /** [[sub]] guarded by a literal that any match MUST contain (a
    * conservative necessary condition read off the pattern): an
    * `indexOf` scan is ~10× cheaper than a full regex pass, and on
    * typical articles most passes have nothing to match — especially
    * the convergence re-run, where the first iteration already removed
    * every construct. Skipping on a false trigger is exactly a no-op
    * replaceAll, so output is byte-identical (WikitextSpec + the
    * s3_wiki_documents golden gate hold).
    */
  private def subIf(trigger: String, p: Pattern, s: String,
      r: String): String =
    if (s.contains(trigger)) sub(p, s, r) else s

  private def subIfAny(triggers: Seq[String], p: Pattern, s: String,
      r: String): String =
    if (triggers.exists(s.contains(_))) sub(p, s, r) else s

  /** Remove `{{…}}` templates, tracking nesting with a brace counter.
    * Bails out gracefully on unbalanced braces (keeps the tail verbatim),
    * matching the reference's tolerance of broken markup.
    */
  def stripTemplates(s: String): String = {
    val out = new java.lang.StringBuilder(s.length)
    var i = 0
    var depth = 0 // count of unmatched '{' inside a template region
    while (i < s.length) {
      if (depth == 0 && i + 1 < s.length &&
          s.charAt(i) == '{' && s.charAt(i + 1) == '{') {
        depth = 2; i += 2 // both braces of the opening '{{' are unmatched
      } else if (depth > 0) {
        val c = s.charAt(i)
        if (c == '{') depth += 1
        else if (c == '}') depth -= 1
        i += 1
      } else {
        out.append(s.charAt(i)); i += 1
      }
    }
    out.toString
  }

  /** Hoist `[[File:…|…|caption]]` / `[[Image:…]]` captions into the text
    * (the caption is the last `|`-separated field, possibly containing
    * nested `[[…]]`), dropping the tag itself. Unbalanced brackets bail
    * to a verbatim copy of the remainder.
    */
  def extractCaptions(input: String): String = {
    var s = input.replace('│', '|')
    for (tag <- Seq(FileCaption, ImageCaption)) {
      val parts = new mutable.ArrayBuffer[String]
      val m = tag.matcher(s)
      var copied = 0
      var broken = false
      while (!broken && m.find(copied)) {
        parts += s.substring(copied, m.start)
        // scan for the tag's closing ']]' while skipping nested '[[…]]'
        var i = m.end
        var close = -1
        var done = false
        while (!done) {
          val nextOpen = s.indexOf("[[", i)
          val nextClose = s.indexOf("]]", i)
          if (nextClose == -1) { close = -1; done = true } // unbalanced
          else if (nextOpen == -1 || nextOpen > nextClose) {
            close = nextClose; done = true
          } else i = nextClose + 2
        }
        if (close == -1) { parts += s.substring(m.end); copied = s.length; broken = true }
        else {
          val caption = s.substring(m.end, close)
            .reverse.dropWhile(c => c == ']' || c == ' ').reverse
            .dropWhile(c => c == ']' || c == ' ')
          if (caption.nonEmpty) {
            parts += caption
            if (!caption.endsWith(".")) parts += "."
          }
          copied = close + 2
        }
      }
      if (copied < s.length) parts += s.substring(copied)
      s = parts.mkString
    }
    s
  }

  /** Minimal HTML entity table + numeric forms (&#NNN; / &#xHH;). */
  private val entities = Map(
    "amp" -> '&', "lt" -> '<', "gt" -> '>', "quot" -> '"', "apos" -> '\'',
    "nbsp" -> ' ', "ndash" -> '–', "mdash" -> '—',
    "deg" -> '°', "hellip" -> '…', "prime" -> '′',
    "laquo" -> '«', "raquo" -> '»', "middot" -> '·')
  private val EntityRe = re("&#?(\\w+);")

  def htmlUnescape(text: String): String = {
    if (text.indexOf('&') < 0) return text // no entity can match
    val m = EntityRe.matcher(text)
    val sb = new StringBuffer
    while (m.find()) {
      val whole = m.group(0)
      val code = m.group(1)
      val rep: String =
        try {
          if (whole.startsWith("&#x") || whole.startsWith("&#X"))
            new String(Character.toChars(Integer.parseInt(code.substring(1), 16)))
          else if (whole.startsWith("&#"))
            new String(Character.toChars(code.toInt))
          else entities.get(code).map(_.toString).getOrElse(whole)
        } catch { case _: RuntimeException => whole }
      m.appendReplacement(sb, java.util.regex.Matcher.quoteReplacement(rep))
    }
    m.appendTail(sb)
    sb.toString
  }

  /** Wiki title normalization: spaces→underscores, trim, uppercase the
    * first character (MediaWiki canonical form).
    */
  def normaliseWikilink(s: String): String = {
    val t = s.replace(' ', '_').stripPrefix("_").stripSuffix("_").trim
    if (t.nonEmpty && t.charAt(0).isLower) t.charAt(0).toUpper + t.substring(1)
    else t
  }

  def normaliseLink(s: String): String =
    if (s.startsWith(WikiPrefix))
      WikiPrefix + normaliseWikilink(s.substring(WikiPrefix.length))
    else s

  /** Full markup→anchored-text pipeline; `uri` is the page's own entity
    * (used for the bold-first-mention self link).
    */
  def removeMarkup(uri: String, raw: String): String = {
    var text = subIf("\n[[", InterLang, raw, "")
    text = stripTemplates(text)
    text = extractCaptions(text)
    var iters = 0
    var changed = true
    while (changed && iters <= 2) {
      val old = text
      iters += 1
      text = subIf("<!--", Comments, text, "")
      text = subIf("<ref", Refs, text, "")
      text = subIf("<nowiki", NoWiki, text, "")
      text = subIf("<math", MathTag, text, "")
      if (iters == 1) {
        text = subIf("<", OtherTags, text, "")
        text = subIf("==", Headings, text, "$2")
        // first bolded phrase mentions the page's own entity
        if (text.contains("'''")) text = Bold.matcher(text)
          .replaceFirst(
            java.util.regex.Matcher.quoteReplacement(s"""<a href="$uri">""") +
              "$1</a>")
      }
      text = subIf("[[Category:", Categories, text, "")
      text = subIf("://", ExtUrl, text, """<a href="$2">$3</a>""")
      text = subIf("[[", WikiLinkPiped, text,
        s"""<a href="$WikiPrefix$$1">$$2</a>""")
      text = subIf("[[", WikiLinkPlain, text,
        s"""<a href="$WikiPrefix$$1">$$1</a>""")
      if (text.contains("||")) text = text.replace("||", "\n|")
      text = subIfAny(Seq("\n{|", "\n|-", "\n|}"), TableLines, text, "\n")
      text = subIfAny(Seq("\n|", "\n!"), TableCells, text, "\n$3")
      if (text.contains("[]")) text = text.replace("[]", "")
      text = subIf("'''''", BoldItalic, text, "$1")
      text = subIf("'''", Bold, text, "$1")
      text = subIf("''\"", ItalicQuote, text, "&quot;$1&quot;")
      text = subIf("''", Italic, text, "&quot;$1&quot;")
      text = subIf("\"\"", DoubleQuotes, text, "$1")
      changed = old != text
    }
    text = subIf(" (", EmptyParens, text, "")
    if (text.indexOf('[') >= 0) text = text.replace("[", "")
    if (text.indexOf(']') >= 0) text = text.replace("]", "")
    htmlUnescape(text.trim)
  }

  /** Extract `<a href="t">anchor</a>` into plain text + UTF-16 spans.
    * Works for both wiki-rewritten and generic HTML anchor content
    * (ref sift/corpora/wikicorpus.py:199-211 and commoncrawl.py:92-103).
    */
  def extractLinks(content: String, normalise: Boolean = true): Parsed = {
    val out = new java.lang.StringBuilder(content.length)
    val links = Vector.newBuilder[Link]
    val m = Anchor.matcher(content)
    var copied = 0
    while (m.find()) {
      out.append(content, copied, m.start)
      val start = out.length
      val anchor = m.group(2)
      out.append(anchor)
      val target = if (normalise) normaliseLink(m.group(1)) else m.group(1)
      links += Link(target, start, start + anchor.length)
      copied = m.end
    }
    out.append(content, copied, content.length)
    Parsed(out.toString, links.result())
  }

  /** Complete wiki page → (plain text, links). */
  def parse(uri: String, rawMarkup: String): Parsed =
    extractLinks(removeMarkup(uri, rawMarkup))
}
