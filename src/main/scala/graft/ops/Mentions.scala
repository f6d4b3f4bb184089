package graft.ops

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import graft.textfn.Text

/** W2: sentence-window mention contexts around document links (ref
  * behavior: sift/models/text.py:39-88 EntityMentions.iter_mentions).
  *
  * For each link, the mention is the text of the sentence(s) containing
  * the link span (extended ±window sentences), with the link span
  * re-based onto the mention. Mentions equal to their whole sentence are
  * dropped; `strict` additionally drops list items (leading '*') and
  * sentences not ending in sentence punctuation.
  *
  * Record-local by construction (sentence spans never cross documents),
  * so it runs as a typed flatMap — one row in, N mention rows out, no
  * shuffle; the exploded output partitions like its input.
  */
object Mentions {

  final case class LinkIn(target: String, start: Int, stop: Int)
  final case class DocIn(doc_id: String, text: String, links: Seq[LinkIn])
  final case class Mention(
      target: String, source: String, text: String, start: Int, stop: Int)

  private val SentenceEnd = Set('.', '!', '?', '"', '\'')

  def trimSubsection(t: String): String = {
    val i = t.indexOf('#'); if (i < 0) t else t.substring(0, i)
  }
  def trimProtocol(t: String): String = {
    val i = t.indexOf("://"); if (i < 0) t else t.substring(i + 3)
  }

  /** Pure mention extraction over one document. */
  def extract(doc: DocIn, window: Int = 1, strict: Boolean = true,
      normUrl: Boolean = true): Seq[Mention] = {
    val spans = Text.sentenceSpans(doc.text)
    if (spans.isEmpty) return Nil
    val offsets = spans.map(_._1)

    // index of last sentence offset <= pos (bisect_right - 1)
    def sentAt(pos: Int): Int = {
      var lo = 0; var hi = offsets.length
      while (lo < hi) {
        val mid = (lo + hi) >>> 1
        if (offsets(mid) <= pos) lo = mid + 1 else hi = mid
      }
      lo - 1
    }
    // index of last sentence offset < pos (bisect_left - 1)
    def sentBefore(pos: Int): Int = {
      var lo = 0; var hi = offsets.length
      while (lo < hi) {
        val mid = (lo + hi) >>> 1
        if (offsets(mid) < pos) lo = mid + 1 else hi = mid
      }
      lo - 1
    }

    val lhs = window / 2
    val rhs = (window - lhs) - 1
    doc.links.flatMap { link =>
      val startIdx = math.max(0, sentAt(link.start) - lhs)
      val endIdx = math.min(spans.length - 1, sentBefore(link.stop) + rhs)
      if (startIdx < 0 || endIdx < 0) None
      else {
        val sentOffset = spans(startIdx)._1
        val mention = doc.text.substring(sentOffset, spans(endIdx)._2)
        val span = (link.start - sentOffset, link.stop - sentOffset)
        val target =
          if (normUrl) trimProtocol(trimSubsection(link.target))
          else link.target
        val sm = mention.trim
        val wholeSentence = span == ((0, mention.length))
        val failsStrict = strict && (sm.isEmpty || sm.startsWith("*") ||
          !SentenceEnd.contains(sm.last))
        if (wholeSentence || failsStrict) None
        else Some(Mention(target, doc.doc_id, mention, span._1, span._2))
      }
    }
  }

  /** DataFrame operator: `docs(doc_id, text, links ARRAY<STRUCT<target,
    * start, stop>>)` → one row per mention.
    */
  def mentionContexts(docs: DataFrame, window: Int = 1,
      strict: Boolean = true, normUrl: Boolean = true): DataFrame = {
    val s = docs.sparkSession
    import s.implicits._
    docs.select("doc_id", "text", "links").as[DocIn]
      .flatMap(d => extract(d, window, strict, normUrl))
      .toDF()
  }

  /** IndexMappedMentions (ref sift/models/text.py:90-108): mention text →
    * vocabulary-rank sequence with an OOV default of `vocabSize - 1`,
    * token span rebased to token indexes (pre-count, pre+in-count).
    *
    * `vocab(w, rank)` is broadcast into the join (the ref shipped a
    * driver-collected dict; the broadcast hash join is the same data
    * movement without the driver funnel). Token order inside the mention
    * is preserved by position, so the regrouped sequence is exact.
    */
  def indexMapped(mentions: DataFrame, vocab: DataFrame,
      vocabSize: Long): DataFrame =
    indexMappedImpl(mentions, vocab, Some(vocabSize))

  /** As above, with the OOV id (vocab size − 1) computed INSIDE the plan
    * as a broadcast 1-row aggregate of the vocab frame — no driver-side
    * `vocab.count()` job before the query can even be constructed.
    */
  def indexMapped(mentions: DataFrame, vocab: DataFrame): DataFrame =
    indexMappedImpl(mentions, vocab, None)

  private def indexMappedImpl(mentions: DataFrame, vocab: DataFrame,
      vocabSize: Option[Long]): DataFrame = {
    import org.apache.spark.sql.functions._
    val withParts = mentions.select(col("target"), col("source"),
      col("text"), col("start"), col("stop"),
      expr(Hashing.tokens("substring(text, 1, start)")).as("pre"),
      expr(Hashing.tokens("substring(text, start + 1, stop - start)"))
        .as("ins"),
      expr(Hashing.tokens("substring(text, stop + 1)")).as("post"))
    val exploded = withParts
      .select(col("target"), col("source"), col("start"), col("stop"),
        size(col("pre")).as("n_pre"), size(col("ins")).as("n_ins"),
        posexplode(concat(col("pre"), col("ins"), col("post")))
          .as(Seq("idx", "w")))
    val oovId = vocabSize match {
      case Some(vs) => lit(vs - 1)
      case None => col("graft_oov_id")
    }
    val withOov = vocabSize match {
      case Some(_) => exploded
      case None => exploded.crossJoin(broadcast(
        vocab.agg((count(lit(1)) - 1L).as("graft_oov_id"))))
    }
    withOov
      .join(broadcast(vocab.select(col("w"), col("rank"))), Seq("w"),
        "left_outer")
      .withColumn("id", coalesce(col("rank"), oovId))
      .groupBy("target", "source", "start", "stop", "n_pre", "n_ins")
      .agg(expr("transform(array_sort(collect_list(struct(idx, id))), " +
        "x -> x.id)").as("sequence"))
      .select(col("target"), col("source"), col("sequence"),
        col("n_pre").cast("long").as("seq_start"),
        (col("n_pre") + col("n_ins")).cast("long").as("seq_stop"))
  }
}
