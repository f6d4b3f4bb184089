package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** The reference's link-derived model family (sift/models/links.py) over
  * `documents(doc_id, text, links ARRAY<STRUCT<target, start, stop>>)` —
  * all declarative column expressions and hash aggregations (the ref's
  * `groupByKey().mapValues(Counter/dict/list)` forms become partial-
  * aggregating groupBys; anchor slicing is `substring` and word n-grams
  * are the codegen'd `graft_ngrams` kernel, never a UDF).
  */
object LinkModels {

  /** P3/F1/F2: strip `#fragment` then `scheme://`. */
  def normTarget(c: Column): Column =
    regexp_replace(substring_index(c, "#", 1),
      "^[a-zA-Z][a-zA-Z0-9+.-]*://", "")

  private def links(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), col("text"), explode(col("links")).as("l"))
      .select(col("doc_id"), col("text"),
        normTarget(col("l.target")).as("target"),
        col("l.start").as("start"), col("l.stop").as("stop"))

  /** EntityCounts (links.py:13-38): inlink counts above a floor;
    * `filterTarget` keeps only targets under a prefix (the ref's
    * `filter_target` constructor option, links.py:15-28).
    */
  def entityCounts(docs: DataFrame, minCount: Long = 1,
      filterTarget: Option[String] = None): DataFrame = {
    val l = filterTarget.foldLeft(links(docs))(
      (df, p) => df.filter(col("target").startsWith(p)))
    l.groupBy("target").agg(count(lit(1)).as("count"))
      .filter(col("count") > minCount)
  }

  /** Anchor text of each link (trimmed span substring, links.py:53). */
  private def anchored(docs: DataFrame): DataFrame =
    links(docs).withColumn("anchor",
      trim(expr("substring(text, start + 1, stop - start)")))
      .filter(length(col("anchor")) > 0 && length(col("target")) > 0)

  /** EntityNameCounts (links.py:41-77): anchor → {target: n} + total,
    * as sorted entries (deterministic where the ref dict was not).
    * `lowercase` and `filterTarget` mirror the ref's constructor options
    * (links.py:43-65).
    */
  def entityNameCounts(docs: DataFrame, lowercase: Boolean = false,
      filterTarget: Option[String] = None): DataFrame = {
    val base = anchored(docs)
    val filtered = filterTarget.foldLeft(base)(
      (df, p) => df.filter(col("target").startsWith(p)))
    val cased =
      if (lowercase) filtered.withColumn("anchor", lower(col("anchor")))
      else filtered
    cased
      .groupBy("anchor", "target").agg(count(lit(1)).as("n"))
      .groupBy("anchor")
      .agg(sort_array(collect_list(struct(col("target"), col("n"))))
        .as("counts"), sum(col("n")).as("total"))
  }

  /** NamePartCounts (links.py:79-134): for each anchor n-gram (n in
    * [1, maxNgram]) count occurrences at span positions B(egin)/E(nd)/
    * I(nside); 'O' counts are corpus n-gram frequencies (> 1) outside any
    * anchor context. Terms kept only when they occur both inside anchors
    * and in open text ('O' present, >= 2 position kinds) — single-part
    * anchors contribute B and E for the same n-gram, as in the ref.
    *
    * One aggregation: every n-gram occurrence is one (term, len, idx)
    * row — an anchor's n-gram list of length `len` yields B at idx 0, E
    * at idx len - 1 (both for a one-part list) and I in between; open
    * text rows carry len 0 and count as O — grouped once by term into
    * the four position counts. `counts` lists the non-zero ones in B, E,
    * I, O order, the order `sort_array` gave the former per-(term, pos)
    * form. N-grams come from the codegen'd `graft_ngrams` kernel.
    */
  def namePartCounts(docs: DataFrame, maxNgram: Int = 2): DataFrame = {
    Hashing.ensureRegistered(docs)
    // every n from one tokenization per anchor and per document
    def ngrams(src: String) =
      (1 to maxNgram).map(n => expr(s"graft_ngrams($src, $n)"))
    val inAnchors = anchored(docs)
      .select(expr(Hashing.tokens("anchor")).as("at"))
      .select(explode(array(ngrams("at"): _*)).as("ng"))
      .select(size(col("ng")).as("len"),
        posexplode(col("ng")).as(Seq("idx", "term")))
    val inText = docs.select(expr(Hashing.tokens()).as("tt"))
      .select(lit(0).as("len"), lit(0).as("idx"),
        explode(concat(ngrams("tt"): _*)).as("term"))
    val (len, idx) = (col("len"), col("idx"))
    val perKind = Seq(
      "B" -> (len > 0 && idx === 0),
      "E" -> (len > 0 && idx === len - 1),
      "I" -> (idx > 0 && idx < len - 1),
      "O" -> (len === 0)).map { case (p, c) => count(when(c, 1)).as(p) }
    val entry = (p: String) => s"array(named_struct('pos', '$p', 'n', $p))"
    inAnchors.unionByName(inText)
      .groupBy("term").agg(perKind.head, perKind.tail: _*)
      .filter(col("O") > 1 && col("B") + col("E") + col("I") > 0)
      .select(col("term"), expr(Seq("B", "E", "I")
        .map(p => s"if($p > 0, ${entry(p)}, array())")
        .mkString("concat(", ", ", s", ${entry("O")})")).as("counts"))
  }

  /** EntityInlinks (links.py:136-152): per-entity inlink source list
    * (sorted; the ref's list order is shuffle-dependent).
    */
  def entityInlinks(docs: DataFrame): DataFrame =
    links(docs).select("doc_id", "target").distinct()
      .groupBy("target")
      .agg(sort_array(collect_list(col("doc_id"))).as("inlinks"))

  /** EntityComentions (links.py:191-213): first-seen-order unique link
    * targets per document, empty documents dropped.
    */
  def entityComentions(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"),
      array_distinct(transform(col("links"),
        l => normTarget(l.getField("target")))).as("entities"))
      .filter(size(col("entities")) > 0)

  /** EntityVocab (links.py:157-189): entities ranked by inlink count —
    * rank 0 = most-linked — keeping ranks in [minRank, maxRank). The
    * ref's `sortByKey().zipWithIndex()` becomes the two-phase
    * [[Rank.globalOrdinal]] (no single-task funnel); ties break on the
    * entity uri, making the rank deterministic where the ref's was
    * shuffle-order-dependent.
    */
  def entityVocab(docs: DataFrame, minCount: Long = 0, minRank: Long = 0,
      maxRank: Long = 10000, numPartitions: Int = 0): DataFrame =
    Rank.globalOrdinal(entityCounts(docs, minCount),
        Seq(desc("count"), asc("target")), "rank", numPartitions)
      .filter(col("rank") >= minRank && col("rank") < maxRank)

  /** MappedEntityComentions (links.py:217-222 — the ref's build is
    * defect #2, referencing undefined `sc`/`ev`; the evident intent):
    * comention lists mapped through the entity-vocab rank, dropping
    * out-of-vocab entities, preserving first-seen order, dropping
    * documents whose list empties. The vocab (bounded by maxRank)
    * broadcasts into the join.
    */
  def mappedEntityComentions(docs: DataFrame, vocab: DataFrame): DataFrame =
    entityComentions(docs)
      .select(col("doc_id"), posexplode(col("entities")).as(Seq("pos", "e")))
      .join(broadcast(vocab.select(col("target").as("e"), col("rank"))),
        Seq("e"))
      .groupBy("doc_id")
      .agg(expr("transform(array_sort(collect_list(struct(pos, rank))), " +
        "x -> x.rank)").as("entities"))
      .filter(size(col("entities")) > 0)
}
