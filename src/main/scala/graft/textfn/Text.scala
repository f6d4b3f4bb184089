package graft.textfn

/** Tokenization, n-grams and sentence segmentation.
  *
  * Pure functions, zero Spark dependencies. These define this engine's
  * *documented* text spec: the reference (sift) delegated tokenization to
  * `pattern.en` (sift/util.py:5-9), which is not reproducible on the JVM,
  * so we own the spec instead and verify it against the DuckDB oracle with
  * the same regexes.
  *
  * Offsets convention (SURVEY.md §1.2): all spans are Java UTF-16 code-unit
  * offsets, start inclusive, stop exclusive; `text.substring(start, stop)`
  * round-trips every span produced here.
  */
object Text {

  /** Engine tokenizer spec: lowercase, maximal runs of [a-z0-9]. Mirrors
    * the Spark SQL `graft.ops.Hashing.tokens` and its one DuckDB twin,
    * `graft.ops.Hashing.duckTokens`, so JVM and SQL paths agree exactly
    * (TextSpec checks the first pair, the gate crosscheck the second).
    */
  private val TokenRe = "[a-z0-9]+".r
  def tokenize(text: String): Vector[String] =
    TokenRe.findAllIn(text.toLowerCase).toVector

  /** Word n-grams, space-joined, for n in [minN, maxN] (ref behavior of
    * sift/util.py:5-9 ngrams over the engine tokenizer).
    */
  def ngrams(tokens: IndexedSeq[String], minN: Int, maxN: Int): Vector[String] = {
    val out = Vector.newBuilder[String]
    var n = math.max(1, minN)
    while (n <= maxN) {
      var i = 0
      while (i + n <= tokens.length) {
        out += tokens.slice(i, i + n).mkString(" ")
        i += 1
      }
      n += 1
    }
    out.result()
  }

  /** Shingles = fixed-size word n-grams (the dedup building block). */
  def shingles(tokens: IndexedSeq[String], n: Int): Vector[String] =
    ngrams(tokens, n, n)

  /** Sentence boundary heuristics, re-specified from the reference's intent
    * (sift/util.py:12-42): a sentence ends at `.`, `?` or `!` followed by
    * whitespace, unless the dot terminates
    *   - a single lowercase letter ("c."),
    *   - an abbreviation sequence ("e.g.", "U.S."),
    *   - a two-char capitalised fragment ("Ph.D" → the "D."),
    *   - a known corporate abbreviation (Inc./Pty./Ltd.);
    * a run of whitespace containing a newline always delimits.
    * All lookbehinds are fixed-width, so they compile on java.util.regex.
    */
  private val SentRe = (
    "(?:" +
      "(?<!\\s[a-z]\\.)" + // single lowercase letter
      "(?<!\\w\\.\\w.)" + // abbreviation sequence
      "(?<![A-Z][a-z]\\.)" + // two-char capitalised
      "(?<!Inc\\.)(?<!Pty\\.)(?<!Ltd\\.)(?<!inc\\.)(?<!pty\\.)(?<!ltd\\.)" +
      "(?<=\\.|\\?|!)\\s" + // punctuation then whitespace
    ")|(?:[ \\t]*\\n\\s*)").r

  /** Spans (start, stop) of sentences in `text`; delimiters excluded. */
  def sentenceSpans(text: String): Vector[(Int, Int)] = {
    val out = Vector.newBuilder[(Int, Int)]
    var last = 0
    for (m <- SentRe.findAllMatchIn(text)) {
      if (last != m.start) out += ((last, m.start))
      last = m.end
    }
    if (last != text.length) out += ((last, text.length))
    out.result()
  }

  def sentences(text: String): Vector[String] =
    sentenceSpans(text).map { case (a, b) => text.substring(a, b) }

  /** Deterministic 64-bit-safe polynomial rolling hash (mod 1e9+7) — the
    * engine's document-fingerprint primitive. Kept under 2^63 at every
    * step so ANSI-mode Spark and DuckDB BIGINT arithmetic match exactly:
    * acc <= 1e9+6, acc*131 + 0xFFFF < 2^63.
    */
  final val FpMod = 1000000007L
  final val FpMul = 131L
  def polyHash(s: String): Long = {
    var acc = 0L
    var i = 0
    while (i < s.length) {
      acc = (acc * FpMul + s.charAt(i).toLong) % FpMod
      i += 1
    }
    acc
  }
}
