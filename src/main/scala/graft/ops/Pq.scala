package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.ops.Pins.PinSyntax

/** Product Quantization (PQ) for embedding compression + ANN search
  * (Jégou, Douze, Schmid 2011): split each `dims`-dim vector into `m`
  * subvectors, k-means each subspace into `k` centroids ("codebooks"),
  * store per vector only the `m` nearest-centroid ids. A 64-dim float64
  * embedding (512 bytes) becomes m bytes at k ≤ 256 — the memory path
  * that lets a 100 TB embedding corpus live in cluster RAM. Search is
  * ADC (asymmetric distance computation): the query stays exact, each
  * corpus vector's distance is approximated by summing, subspace by
  * subspace, the distance from the query subvector to the corpus
  * vector's assigned centroid.
  *
  * DETERMINISM (same discipline as [[Similarity.kmeansCells]], which
  * DuckDB replays end-to-end): seeds are the k corpus vectors with the
  * smallest md5Long(vec_id); assignment is squared-L2 via a sequential
  * left fold (bit-identical across engines) with ties to the smaller
  * cell id; means are decimal-exact; the ADC total is an ORDERED fold
  * over subspaces (never a shuffle-order double sum). Every stage
  * replays exactly in the `sim_pq_topk` oracle.
  *
  * SCALE SHAPE: codebooks are m·k rows — always broadcast. Training
  * touches the corpus once per Lloyd round (broadcast join + one
  * (sub,cell,dim) aggregate). Encoding is one broadcast join. ADC scans
  * codes with a broadcast distance table — linear, no shuffle of the
  * corpus; compose with IVF cells to prune the scan when even a linear
  * pass is too much.
  */
object Pq {

  /** Squared L2 distance as a sequential left fold — the bit-replayable
    * form, via the codegen'd [[graft.functions.L2Distance]] expression
    * (identical fold order to the previous `aggregate(zip_with(...))`
    * formulation — higher-order functions are CodegenFallback, and this
    * is the hottest expression of the ANN family: n·m·k interpreted
    * evaluations per Lloyd assignment pass). Callers must register
    * ([[Hashing.ensureRegistered]]).
    */
  private def l2Sql(a: String, b: String): String =
    s"graft_l2($a, $b)"

  /** Corpus exploded to (vec_id, sub, sv): subvector `sub` (0-based) is
    * dims/m doubles starting at sub·(dims/m). A ragged or null embedding
    * fails loudly — a short vector would otherwise silently yield short
    * subvectors whose truncated-fold distances desync from the oracle
    * (same discipline as [[Similarity]]'s bucket guard).
    */
  private def subvectors(corpus: DataFrame, dims: Int, m: Int): DataFrame = {
    val sub = dims / m
    corpus.select(col("vec_id"), explode(expr(s"sequence(0, ${m - 1})"))
        .as("sub"), col("embedding"))
      .withColumn("sv", expr(
        s"case when embedding is null or size(embedding) != $dims then " +
          s"raise_error(concat('ragged or null embedding: expected " +
          s"$dims dims, got ', " +
          "coalesce(cast(size(embedding) as string), 'null'))) " +
          s"else transform(slice(embedding, sub * $sub + 1, $sub), " +
          "x -> cast(x as double)) end"))
      .drop("embedding")
  }

  /** Nearest codebook cell per (vec_id, sub): squared-L2 argmin, ties to
    * the smaller cell ([[Similarity.topN]]). Codebooks broadcast.
    */
  private def assign(sv: DataFrame, books: DataFrame): DataFrame =
    Similarity.topN(sv.join(broadcast(books), "sub")
        .withColumn("d2", expr(l2Sql("sv", "centroid"))),
      Seq("vec_id", "sub"), 1, asc("d2"), asc("cell"))
      .select("vec_id", "sub", "sv", "cell")

  /** Train m codebooks of k centroids (`iters` rounds of
    * [[Similarity.lloyd]], the k-means loop with an L2 assignment per
    * subspace). Returns (codebooks, assignment) — the assignment is
    * computed against the returned codebooks, so codes and centroids
    * are mutually consistent (what ADC requires).
    */
  def train(corpus: DataFrame, dims: Int, m: Int, k: Int,
      iters: Int): (DataFrame, DataFrame) = {
    require(dims % m == 0, s"m=$m must divide dims=$dims")
    Hashing.ensureRegistered(corpus)
    // pinned: consumed by every Lloyd round's assign + means (and the
    // final assignment) — without this each round re-scans the source
    // and re-slices the subvectors.
    val sv = subvectors(corpus, dims, m).pin(true)
    val init = sv.join(Similarity.seeds(corpus.select("vec_id"), k), "vec_id")
      .select(col("sub"), col("cell"), col("sv").as("centroid"))
    val books = Similarity.lloyd(init, iters, Seq("sub", "cell"), "sv")(
      assign(sv, _))
    (books, assign(sv, books))
  }

  /** Assign a corpus against ALREADY-TRAINED codebooks (no Lloyd
    * rounds) — the encode path for an increment joining a persisted
    * index ([[AnnIndex.appendPqIncrement]]): only the increment is
    * scanned, the codebooks broadcast.
    */
  def assignTo(corpus: DataFrame, books: DataFrame, dims: Int,
      m: Int): DataFrame = {
    require(dims % m == 0, s"m=$m must divide dims=$dims")
    assign(subvectors(corpus, dims, m), books)
  }

  /** Compressed corpus: (vec_id, codes ARRAY<BIGINT>), codes[s] = cell of
    * subspace s — the only per-vector state ADC search needs.
    */
  def encode(asg: DataFrame): DataFrame =
    asg.groupBy("vec_id")
      .agg(expr("transform(array_sort(collect_list(struct(sub, cell))), " +
        "s -> s.cell)").as("codes"))

  /** ADC top-k over the LONG assignment frame (vec_id, sub, cell) —
    * convenience wrapper: encodes to wide codes and delegates to
    * [[adcTopKCodes]] (value-identical; see the equivalence note
    * there). Returns (query_id, rank, neighbor_id, adist).
    */
  def adcTopK(queries: DataFrame, books: DataFrame, asg: DataFrame,
      dims: Int, m: Int, k: Int,
      candidates: Option[DataFrame] = None): DataFrame =
    adcTopKCodes(queries, books, encode(asg), dims, m, k, candidates)

  /** ADC top-k over WIDE codes (vec_id, codes ARRAY<BIGINT>) — the
    * stored index layout, consumed directly. `candidates` (query_id,
    * vec_id) restricts the scan per query; duplicate pairs in it are
    * dropped, so each neighbour takes one rank slot.
    *
    * r16 restructure (guide §2.3 "aggregate before you shuffle" /
    * §2.4): the previous form joined the per-query m·k distance table
    * to the LONG assignment on (sub, cell) — shuffling |q|·n·m rows
    * through a (query, vec) groupBy whose ordered collect_list fold
    * re-derived exactly the m entries the codes array already lists.
    * Now the m·k distances fold to ONE (query_id, dmat) row — dmat[s]
    * a cell→distance map — broadcast against the codes frame, and the
    * per-vector total is a STATIC left-associated sum over the m
    * subspaces: adist = ((0 + dmat[0][codes[0]]) + …) — the identical
    * IEEE addition order of the old sub-sorted fold (each d value is
    * the same l2 of the same (query-subvector, centroid) pair), so
    * results are bit-equal while the corpus-sized shuffle disappears
    * outright: the only n-row exchange left is the top-k window, whose
    * WindowGroupLimit prunes to ~k rows per partition pre-exchange.
    */
  def adcTopKCodes(queries: DataFrame, books: DataFrame,
      codes: DataFrame, dims: Int, m: Int, k: Int,
      candidates: Option[DataFrame] = None): DataFrame =
    adcTopKUnique(queries, books, codes, dims, m, k,
      candidates.map(_.select("query_id", "vec_id").dropDuplicates()))

  /** [[adcTopKCodes]] over candidates already unique by (query_id,
    * vec_id) — [[ivfAdcTopKLoaded]]'s are by construction (each query
    * probes distinct cells, each vector sits in one cell), so it skips
    * the dedupe and its aggregate.
    */
  private def adcTopKUnique(queries: DataFrame, books: DataFrame,
      codes: DataFrame, dims: Int, m: Int, k: Int,
      candidates: Option[DataFrame]): DataFrame = {
    Hashing.ensureRegistered(queries)
    val qsv = subvectors(
      queries.select(col("vec_id"), col("embedding")), dims, m)
      .select(col("vec_id").as("query_id"), col("sub"),
        col("sv").as("qv"))
    val dtable = qsv.join(broadcast(books), "sub")
      .select(col("query_id"), col("sub"), col("cell"),
        expr(l2Sql("qv", "centroid")).as("d"))
    // nested maps, not sorted arrays: lookups are keyed, so no
    // collect-order dependence exists to sort away ((sub, cell) is
    // unique per query — map_from_entries never sees a duplicate key)
    val dmat = dtable
      .groupBy("query_id", "sub")
      .agg(expr("map_from_entries(collect_list(struct(cell, d)))")
        .as("ds"))
      .groupBy("query_id")
      .agg(expr("map_from_entries(collect_list(struct(sub, ds)))")
        .as("__dmat"))
    val pairs = candidates match {
      case Some(c) => c.select("query_id", "vec_id")
        .join(codes, Seq("vec_id"))
        .join(broadcast(dmat), Seq("query_id"))
      case None => codes.crossJoin(broadcast(dmat))
    }
    // static left-assoc sum — same fold order as the old
    // aggregate(sort-by-sub) and whole-stage-codegen-friendly (no
    // higher-order lambda in the scan). element_at is 1-based; a
    // missing map key THROWS under ANSI — codes cells are produced
    // against these books by construction, so that is the loud path.
    val adistSql = (0 until m)
      .map(s => s"element_at(element_at(__dmat, $s), " +
        s"element_at(codes, ${s + 1}))")
      .foldLeft("cast(0 as double)")((acc, t) => s"($acc + $t)")
    val scored = pairs
      .filter(col("query_id") =!= col("vec_id"))
      .select(col("query_id"), col("vec_id").as("neighbor_id"),
        expr(adistSql).as("adist"))
    Similarity.topN(scored, Seq("query_id"), k, asc("adist"),
        asc("neighbor_id"))
      .select("query_id", "rank", "neighbor_id", "adist")
  }

  /** IVF+PQ — the production ANN composition at corpus scale: route
    * each query to its `nprobe` nearest IVF cells (spherical-k-means
    * coarse quantizer, [[Similarity.kmeansCells]]), then ADC-score ONLY
    * the vectors assigned to those cells. The scan cost drops by
    * ~nprobe/cells while the per-vector memory stays m bytes — IVF
    * prunes, PQ compresses; this is the FAISS-style IVFADC layout
    * expressed relationally (probe = broadcast centroid join, candidate
    * set = cell equi-join, scoring = the [[adcTopK]] pipeline).
    */
  def ivfAdcTopK(queries: DataFrame, books: DataFrame, asg: DataFrame,
      corpusCells: DataFrame, dims: Int, m: Int, nprobe: Int,
      k: Int): DataFrame = {
    // r15: the cell assignment feeds BOTH the candidate equi-join and
    // the probe-centroid derivation — pin one materialization (lazy:
    // no job at plan build, the PlanAuditSpec ANN contract) so the
    // coarse quantizer's assignment window does not execute twice.
    // (r15 advice: the pin is O(corpus) state per call and, in `local`
    // pin mode, unreplicated/unrecoverable on executor loss — repeated
    // top-k calls should either go through [[ivfAdcTopKLoaded]], where
    // the caller controls materialization, or set
    // spark.graft.pins.mode=reliable; see [[Pins]].)
    val cells = corpusCells.pin(false)
    ivfAdcTopKLoaded(queries, books, encode(asg),
      cells.select(col("vec_id"), col("cell")),
      Similarity.centroids(cells, "cell"), dims, m, nprobe, k)
  }

  /** [[ivfAdcTopK]] against PRECOMPUTED coarse state — the probe
    * centroids, the (vec_id, cell) assignment, and the WIDE codes
    * frame, exactly what [[AnnIndex.loadIvfPq]] reloads from parquet
    * (the in-train path above derives them from the kmeansCells frame;
    * a persisted index must not re-derive means it already stored, nor
    * explode codes [[adcTopKCodes]] consumes wide).
    */
  def ivfAdcTopKLoaded(queries: DataFrame, books: DataFrame,
      codes: DataFrame, cellAsg: DataFrame, cents: DataFrame, dims: Int,
      m: Int, nprobe: Int, k: Int): DataFrame = {
    // the probe's cosineSql needs graft_dot — the in-train path gets
    // registration from kmeansCells, a reload-only session has not
    graft.functions.GraftFunctions.registerAll(queries.sparkSession)
    val q = queries.select(col("vec_id").as("query_id"),
      col("embedding").as("qe"))
    val cand = Similarity.probe(q, cents, nprobe)
      .join(cellAsg.select(col("vec_id"), col("cell")), Seq("cell"))
      .select("query_id", "vec_id")
    adcTopKUnique(queries, books, codes, dims, m, k, Some(cand))
  }
}
