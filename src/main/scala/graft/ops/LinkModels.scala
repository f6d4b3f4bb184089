package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** The reference's link-derived model family (sift/models/links.py) over
  * `documents(doc_id, text, links ARRAY<STRUCT<target, start, stop>>)` —
  * all declarative column expressions and hash aggregations (the ref's
  * `groupByKey().mapValues(Counter/dict/list)` forms become partial-
  * aggregating two-level groupBys; anchor slicing is `substring`, never a
  * UDF).
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
    */
  def namePartCounts(docs: DataFrame, maxNgram: Int = 2): DataFrame = {
    // sequence(1, 0) would DESCEND; guard short token lists with an
    // explicit empty array.
    def ngr(n: Int, src: String) =
      s"case when size($src) >= $n then " +
        s"transform(sequence(1, size($src) - ${n - 1}), " +
        s"i -> concat_ws(' ', slice($src, i, $n))) " +
        s"else cast(array() as array<string>) end"

    val anchors = anchored(docs)
      .select(expr(Hashing.tokens("anchor")).as("at"))
      .filter(size(col("at")) > 0)
    val partEntries = (1 to maxNgram).map { n =>
      anchors.select(expr(ngr(n, "at")).as("ng"))
        .filter(size(col("ng")) > 0)
        // let-bound (see Dedup.shingled): ng is computed — unbound, the
        // n-gram build (and the anchor tokenization under it) would be
        // inlined once per reference below
        .select(explode(expr(
          "element_at(transform(array(ng), g -> " +
            "concat(array(struct(g[0] as term, 'B' as pos)), " +
            "array(struct(element_at(g, -1) as term, 'E' as pos)), " +
            "transform(slice(g, 2, greatest(size(g) - 2, 0)), " +
            "t -> struct(t as term, 'I' as pos)))), 1)")).as("e"))
        .select(col("e.term").as("term"), col("e.pos").as("pos"))
    }.reduce(_ unionByName _)
    val partCounts = partEntries.groupBy("term", "pos")
      .agg(count(lit(1)).as("n"))

    val textToks = docs.select(expr(Hashing.tokens()).as("tt"))
    val oCounts = (1 to maxNgram).map { n =>
      textToks.select(explode(expr(ngr(n, "tt"))).as("term"))
    }.reduce(_ unionByName _)
      .groupBy("term").agg(count(lit(1)).as("n"))
      .filter(col("n") > 1)
      .select(col("term"), lit("O").as("pos"), col("n"))

    partCounts.select("term", "pos", "n").unionByName(oCounts)
      .groupBy("term")
      .agg(sort_array(collect_list(struct(col("pos"), col("n"))))
        .as("counts"))
      .filter(expr("exists(counts, c -> c.pos = 'O')") &&
        size(col("counts")) > 1)
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
