package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.types.DecimalType
import graft.ops.Pins.PinSyntax

/** Similarity search over an embedding column (`ARRAY<FLOAT>`) — the ANN
  * surface a training-data pipeline needs (north-star requirement; the
  * reference has no vector search at all, its nearest concept is gensim
  * `most_similar` on the driver, sift/models/embeddings.py).
  *
  * Design for scale:
  *  - cosine is a pure higher-order expression (zip_with + aggregate in
  *    doubles, fixed evaluation order → bit-reproducible, codegen'd);
  *  - brute-force top-k broadcasts the (small) query set against the
  *    corpus — one pass, no shuffle of the corpus;
  *  - IVF: corpus pre-partitioned into cells; a query probes only the
  *    `nprobe` nearest centroids — the join key is the cell id, so the
  *    corpus-side work is a partition-pruned fraction of the data;
  *  - hyperplane LSH: 16-bit signed-random-projection bucket per vector —
  *    candidates share a bucket; deterministic hash-derived hyperplanes
  *    (md5, see [[Hashing]]) keep it oracle-verifiable.
  */
object Similarity {
  import Hashing._

  /** Sequential-order double-precision cosine between two float/double
    * arrays, via the codegen'd [[graft.functions.DotProduct]] expression
    * (identical fold order to the `aggregate(zip_with(...))` formulation,
    * so oracles match bit-for-bit). Callers must [[ensureRegistered]].
    */
  def cosineSql(a: String, b: String): String = {
    def dot(x: String, y: String) =
      s"graft_dot(cast($x as array<double>), cast($y as array<double>))"
    s"(${dot(a, b)}) / (sqrt(${dot(a, a)}) * sqrt(${dot(b, b)}))"
  }

  /** Register the engine's SQL functions in this frame's session. */
  private def ensureRegistered(df: DataFrame): DataFrame = {
    graft.functions.GraftFunctions.registerAll(df.sparkSession)
    df
  }

  /** Top `n` rows per `keys` group under `order` (which must end on a
    * unique tie column), numbered 1..n in column `rank` — the one
    * ranking step of every ANN assignment, probe and top-k here.
    *
    * (r15 note: a min/max(struct(score, cell, …)) hash-aggregate argmax
    * was tried — it shuffles fewer rows — but Min/Max over a struct is
    * not hash-aggregable in Spark 4: the plan degrades to a non-codegen
    * SortAggregate and measured SLOWER than this window
    * (sim_ivfpq_topk 6.1 s → 8.0 s), which Spark 4 executes as a
    * partial-mode WindowGroupLimit: per-partition top-n rows drop
    * BEFORE the exchange. Kept the window.)
    */
  private[graft] def topN(df: DataFrame, keys: Seq[String], n: Int,
      order: Column*): DataFrame =
    df.withColumn("rank", row_number()
        .over(Window.partitionBy(keys.map(col): _*).orderBy(order: _*)))
      .filter(col("rank") <= n)

  /** Top-k neighbours of candidate (query_id, qe, neighbor_id, ce) pairs
    * by `score` desc, ties to the smaller neighbor_id; the score is
    * reported round(,6) as column `name`.
    */
  private def rankPairs(pairs: DataFrame, k: Int, score: String,
      name: String): DataFrame =
    topN(pairs.select(col("query_id"), col("neighbor_id"),
        expr(score).as(name)), Seq("query_id"), k, desc(name),
        asc("neighbor_id"))
      .select(col("query_id"), col("rank"), col("neighbor_id"),
        round(col(name), 6).as(name))

  /** Exact top-k over the broadcast query set × corpus, self-matches
    * excluded: the body of [[bruteForceTopK]] and [[mipsTopK]].
    */
  private def exactTopK(queries: DataFrame, corpus: DataFrame, k: Int,
      score: String, name: String): DataFrame = {
    ensureRegistered(queries)
    val q = queries.select(col("vec_id").as("query_id"),
      col("embedding").as("qe"))
    val c = corpus.select(col("vec_id").as("neighbor_id"),
      col("embedding").as("ce"))
    rankPairs(broadcast(q).join(c, col("query_id") =!= col("neighbor_id")),
      k, score, name)
  }

  /** Brute-force exact top-k cosine neighbors for each query vector.
    * `queries`/`corpus`: (vec_id, embedding). Self-matches excluded.
    */
  def bruteForceTopK(queries: DataFrame, corpus: DataFrame, k: Int): DataFrame =
    exactTopK(queries, corpus, k, cosineSql("qe", "ce"), "cos")

  /** kNN MAJORITY-VOTE CLASSIFICATION over the labeled embedding
    * corpus — the zero-training baseline every embedding-quality
    * evaluation starts from (if kNN can't separate the labels, the
    * embedding can't either): each query's top-k cosine neighbors
    * ([[bruteForceTopK]], self excluded) vote with their labels;
    * majority wins, ties break toward the SMALLER label.
    *
    * DETERMINISM: neighbor ranks inherit [[bruteForceTopK]]'s
    * (cos desc, neighbor_id) total order; votes are BIGINT counts;
    * the winner is a keyed row_number over (votes desc, label asc).
    * SCALE SHAPE: the broadcast-query candidate join + two keyed
    * aggregates/windows — nothing global. Returns one row per query
    * (query_id, true_label, pred_label, votes, correct) ordered by
    * query_id.
    */
  def knnClassify(queries: DataFrame, corpus: DataFrame, k: Int)
      : DataFrame = {
    val nn = bruteForceTopK(queries, corpus, k)
    // unlabeled corpus rows must not vote: a null label would form a
    // vote group whose tie-break ORDER diverges cross-engine (Spark
    // sorts nulls FIRST on asc, DuckDB's ORDER BY puts them LAST),
    // and a null pred_label is useless to the caller anyway
    val votes = nn
      .join(corpus.filter(col("label").isNotNull)
        .select(col("vec_id").as("neighbor_id"),
          col("label").cast("long").as("label")), Seq("neighbor_id"))
      .groupBy("query_id", "label")
      .agg(count(lit(1)).as("votes"))
    topN(votes, Seq("query_id"), 1, desc("votes"), asc("label"))
      .join(queries.select(col("vec_id").as("query_id"),
        col("label").cast("long").as("true_label")), Seq("query_id"))
      .select(col("query_id"), col("true_label"),
        col("label").as("pred_label"), col("votes"),
        (col("label") === col("true_label")).as("correct"))
      .orderBy("query_id")
  }

  /** MAXIMAL-MARGINAL-RELEVANCE re-ranking (Carbonell & Goldstein
    * 1998) — the diversity pass every retrieval stack runs after its
    * similarity top-k: greedily pick the candidate maximizing
    *
    *   MMR(c) = (λn·rel(c) − λd·max_{s ∈ selected} cos(c, s)) / 10
    *
    * so near-duplicates of already-selected results are penalized
    * (λn/λd as INTEGER tenths — 7/3, not 0.7/0.3, because 1 − 0.7 is
    * not 0.3 in IEEE and the oracle must agree bit-for-bit).
    *
    * `cands`: (query_id, cand_id, rel, emb) — e.g. [[bruteForceTopK]]
    * output joined back to its vectors. Returns the top `m` per query
    * as (query_id, rank, cand_id, score).
    *
    * DETERMINISM: pairwise cosines round(,6); the round-r score is
    * ONE mirrored expression with (score desc, cand_id) tie order;
    * rounds unroll identically in the oracle. SCALE SHAPE: the greedy
    * loop is INHERENTLY sequential in m, but each round touches only
    * the (candidates × selected) frame — per-query k·m rows, keyed by
    * query_id; per-round lineage cut (the labelPropagation pattern;
    * runs m jobs at call time). Candidate generation upstream is
    * where the data scale lives.
    */
  def mmrRerank(cands: DataFrame, m: Int, lamNum: Int = 7,
      lamDen: Int = 3): DataFrame = {
    ensureRegistered(cands)
    // r15 optimization (guide §1.2 step 1 — same incremental form as
    // [[kCenterCoreset]]): the previous loop recomputed, every round,
    // each candidate's max cosine against the WHOLE selected set
    // (base × |sel| join + groupBy per round, O(q·k·m²) cosines
    // total), then a left_anti + left join + per-query window. Carry
    // the running max `mx` forward instead and fold in only the
    // newest selection: greatest(mx, cos(·, newest)) over rounds is
    // value-identical to max over the selected set (both over the
    // same independently round(,6)-ed cosines), and the per-query
    // argmax max(struct(score, −cand_id)) reproduces the
    // (score desc, cand_id asc) window tie-break exactly.
    var pool = cands
      .select(col("query_id"), col("cand_id"), col("rel"), col("emb"),
        lit(null).cast("double").as("mx"))
      .pin() // referenced every round (fan-in hazard)
    var sel = pool.limit(0)
      .select(col("query_id"), col("cand_id"),
        lit(0).as("rank"), lit(0.0).as("score"))
    for (r <- 1 to m) {
      val pick = pool
        .withColumn("score", round(expr(
          s"(${lamNum}D * rel - ${lamDen}D * coalesce(mx, 0.0D)) " +
            "/ 10.0D"), 6))
        .groupBy("query_id")
        .agg(max(struct(col("score"), (-col("cand_id")).as("ncid"),
          col("emb").as("e"))).as("s"))
        .select(col("query_id"), (-col("s.ncid")).as("cand_id"),
          col("s.score").as("score"), col("s.e").as("emb"))
        .pin() // ≤q rows; pins the round (fan-in hazard)
      sel = sel.unionByName(pick
        .select(col("query_id"), col("cand_id"), lit(r).as("rank"),
          col("score")))
      pool = pool
        .join(broadcast(pick.select(col("query_id"),
          col("cand_id").as("pcid"), col("emb").as("se"))),
          Seq("query_id"))
        .filter(col("cand_id") =!= col("pcid"))
        .select(col("query_id"), col("cand_id"), col("rel"), col("emb"),
          greatest(col("mx"), round(expr(cosineSql("emb", "se")), 6))
            .as("mx"))
        .pin(false)
    }
    sel.select(col("query_id"), col("rank").cast("long").as("rank"),
        col("cand_id"), col("score"))
      .orderBy("query_id", "rank")
  }

  /** GREEDY k-CENTER (farthest-point-first) CORESET selection —
    * Gonzalez's 2-approximation to the k-center cover, the standard
    * diversity-maximizing data-selection pass (pick the point farthest
    * from everything already kept, k times): the coreset a training
    * pipeline keeps when it can afford k examples and wants coverage,
    * where [[bruteForceTopK]]-style similarity sampling would keep
    * near-duplicates.
    *
    * Distance is cosine distance round(1 − cos, 6); each round picks
    * the candidate maximizing its distance to the NEAREST selected
    * point, ties broken by smallest vec_id; the seed is the smallest
    * vec_id. Returns k rows (rank, vec_id, dmin) where dmin is the
    * selection-time covering radius — non-increasing in rank (a
    * monotone observable), null for the seed.
    *
    * SCALE SHAPE: the selected set is ≤ k rows and rides broadcast;
    * each round is one corpus×selected cross (n·|sel| rows) into a
    * keyed min — O(n·k) total, the k-center lower bound — followed by
    * two 1-row folds (global max, then min-id among the argmax ties:
    * two scalar aggregates, NOT a global sort). The greedy loop is
    * inherently sequential in k; per-round lineage cuts (the
    * [[mmrRerank]] pattern; runs k jobs at call time).
    */
  def kCenterCoreset(corpus: DataFrame, k: Int): DataFrame = {
    require(k > 0, "k must be positive")
    ensureRegistered(corpus)
    // r15 optimization (guide §1.2 step 1 — fix the distributed
    // algorithm): the previous loop recomputed every candidate's
    // distance to the WHOLE selected set each round (corpus × |sel|
    // cross per round — O(n·k²) total pairwise cosines), plus a
    // global-max fold, an argmax filter pass, and a re-join against
    // the corpus to fetch the winner's embedding. This is the classic
    // incremental farthest-point form: carry each candidate's dmin
    // (min distance to the selected set) forward and fold in ONLY the
    // newest center per round — O(n·k) total, one narrow map + one
    // max(struct) fold per round, no recompute joins. Value-identical:
    // min over a set of independently round(,6)-ed pairwise distances
    // is order-free, and max(struct(dmin, −vec_id)) reproduces the
    // (dmin desc, vec_id asc) argmax tie-break exactly.
    val base = corpus.select(col("vec_id"), col("embedding"))
      .pin() // referenced every round (fan-in hazard)
    val seed = base.agg(min(col("vec_id")).as("vec_id"))
    val seedRow = base.join(broadcast(seed), Seq("vec_id"))
      .select(col("vec_id"), col("embedding"))
      .pin()
    var sel = seedRow
      .select(col("vec_id"), lit(1L).as("rank"),
        lit(null).cast("double").as("dmin"))
    // candidates with their running distance-to-selected minimum
    var pts = base
      .join(broadcast(seedRow.select(col("vec_id"))), Seq("vec_id"),
        "left_anti")
      .crossJoin(broadcast(seedRow.select(col("embedding").as("se"))))
      .select(col("vec_id"), col("embedding"),
        round(expr(s"1.0 - (${cosineSql("embedding", "se")})"), 6)
          .as("dmin"))
      .pin(false)
    for (r <- 2 to k) {
      // one fold picks the round's center AND carries its embedding
      // (vec_id is unique, so the comparison never reaches the array)
      val pick = pts
        .agg(max(struct(col("dmin"), (-col("vec_id")).as("nid"),
          col("embedding").as("e"))).as("s"))
        .select((-col("s.nid")).as("vec_id"), col("s.dmin").as("dmin"),
          col("s.e").as("embedding"))
        // empty candidate set (k > n): the old argmax-join emitted no
        // row — the null-struct fold result must not either. Same for
        // an all-null-dmin candidate set (degenerate/null embeddings
        // make the cosine null): the struct max would still surface a
        // row where the old dmin === mx join emitted none (r15 advice)
        .where(col("vec_id").isNotNull && col("dmin").isNotNull)
        .pin() // ≤1 row; pins the round (fan-in hazard)
      sel = sel.unionByName(pick
        .select(col("vec_id"), lit(r.toLong).as("rank"), col("dmin")))
      pts = pts
        .crossJoin(broadcast(
          pick.select(col("vec_id").as("pid"),
            col("embedding").as("se"))))
        .filter(col("vec_id") =!= col("pid"))
        .select(col("vec_id"), col("embedding"),
          least(col("dmin"),
            round(expr(s"1.0 - (${cosineSql("embedding", "se")})"), 6))
            .as("dmin"))
        .pin(false)
    }
    sel.select(col("rank"), col("vec_id"), col("dmin")).orderBy("rank")
  }

  /** TOP PRINCIPAL COMPONENT of the embedding corpus by `rounds`
    * POWER ITERATIONS on the centered data — PCA without ever
    * materializing the d×d covariance: each round computes
    * w = Σ_rows c·(c·v), then normalizes. The first PC is the
    * workhorse of embedding hygiene (dominant-direction removal,
    * whitening diagnostics, drift detection on the spectral axis).
    *
    * DETERMINISM: components and the per-dim mean fix to DECIMAL, so
    * the per-row dot products AND the per-dim recombination are exact
    * DECIMAL sums — order-free on any partitioning, no IEEE fold
    * anywhere; each round's dot/weight/norm rounds(,9) back into
    * DECIMAL, the loading display rounds(,6). The start vector is the
    * deterministic ALL-ONES direction (a component exactly orthogonal
    * to it is unreachable — measure-zero for real data; determinism
    * is the trade, and the degenerate w = 0 round resets to the start
    * rather than dividing by zero). The sign of the result is the
    * deterministic artifact of that start.
    *
    * SCALE SHAPE — two paths with byte-equal output (PcaEquivalenceSpec):
    *  - at most [[PcaFoldCells]] non-null rows × dims: ONE bounded
    *    collect of the rounded rows, then the whole iteration as an
    *    exact driver-local fold ([[PcaFold]]); the result is a local
    *    relation. At these sizes the distributed loop is orchestration,
    *    not arithmetic: 29 jobs for a 500×64 corpus.
    *  - above the guard, or for inputs the fold does not cover (null
    *    elements, ragged rows, ANSI off): the distributed wide loop of
    *    [[pcaTopComponent]] — per round one broadcast of the 1-row v
    *    frame, a row-local dot and a per-dim aggregate, O(rows·dims)
    *    with nothing shuffled wider than dims·partitions rows.
    * Returns dims rows (dim, loading, lambda) with λ = the final
    * pre-normalization norm (the Rayleigh eigenvalue estimate once v
    * is unit).
    */
  def pcaPower(corpus: DataFrame, rounds: Int = 6): DataFrame =
    pcaPower(corpus, rounds, PcaFoldCells)

  /** The PCA fold guard: corpora of at most this many non-null
    * rows × dims cells run as one driver-local exact fold, and the
    * guard read never holds more than this many cells on the driver.
    * Measured crossover (local[4], 64 dims, warm, pcaPower; fold vs
    * distributed): 256k cells 0.65 vs 3.2 s, 512k 1.7 vs 3.9 s, 1M 2.5
    * vs 5.1 s — the fold still wins at 1M cells on 4 cores, but its
    * per-cell cost is serial while the distributed one divides by the
    * core count, so the guard sits 4× below that point: 2^18 cells
    * (sf0.1's 2000×64 corpus is 128k).
    */
  private[graft] val PcaFoldCells: Long = 1L << 18

  /** [[pcaPower]] with an explicit fold guard (a negative guard forces
    * the distributed path).
    */
  private[graft] def pcaPower(corpus: DataFrame, rounds: Int,
      foldCells: Long): DataFrame = {
    pcaInput(corpus, rounds, foldCells) match {
      case Left(fold) => fold.power(rounds)
      case Right(xw) =>
        val (_, vRow, lam) = pcaTopComponent(xw, rounds)
        vRow.select(posexplode(col("v")).as(Seq("dim", "v")))
          .select(col("dim").cast("long").as("dim"), col("v"))
          .crossJoin(broadcast(lam))
          .select(col("dim"),
            round(col("v").cast("double"), 6).as("loading"),
            round(col("nrm").cast("double"), 6).as("lambda"))
          .orderBy("dim")
    }
  }

  /** The input of both PCA paths: the non-null embeddings rounded to
    * (vec_id, x ARRAY<DECIMAL(18,6)>) — null embeddings drop exactly as
    * the long form's posexplode dropped them — as the driver-local fold
    * when the guard admits them (Left), else as the frame the
    * distributed loop reads (Right).
    */
  private def pcaInput(corpus: DataFrame, rounds: Int, foldCells: Long)
      : Either[PcaFold, DataFrame] = {
    require(rounds > 0 && rounds <= 20, "rounds in 1..20")
    val xw = corpus.filter(col("embedding").isNotNull)
      .select(col("vec_id"),
        expr("transform(cast(embedding as array<double>), " +
          "xr -> cast(round(xr, 6) as decimal(18,6)))").as("x"))
    PcaFold.collect(xw, foldCells).toLeft(xw)
  }

  /** The power-iteration core shared by [[pcaPower]] and [[pcaDebias]],
    * in WIDE (one array row per vector) form: returns (centered wide
    * frame (vec_id, c ARRAY<DECIMAL(18,9)>), 1-row component frame
    * (v ARRAY<DECIMAL(18,6)>), 1-row norm frame (nrm)).
    *
    * r15 optimization (guide §2.3/§2.4 — aggregate before you shuffle /
    * remove shuffles outright): the previous long (vec_id, dim, c) form
    * paid, EVERY round, one broadcast join against the d-row component,
    * one groupBy(vec_id) over rows×dims rows, one full shuffle join of
    * cx with the per-vector dots, and one groupBy(dim) — two shuffles
    * of the whole centered corpus per round. In wide form the per-
    * vector dot d = Σ c·v is a ROW-LOCAL ordered decimal fold (exact,
    * so regrouping is value-identical to the old per-group decimal
    * Sum), and only the d-sized recombination w = Σ c·d crosses the
    * wire (posexplode → partial-aggregated groupBy(dim): the shuffle
    * carries ≤ dims·partitions rows, not rows×dims). Measured at
    * sf0.1: sim_pca_debias 10.8 s → see OPTIMIZATION_r15.md; plan
    * drops from 2 full-data exchanges per round to 0.
    */
  private def pcaTopComponent(xw: DataFrame, rounds: Int)
      : (DataFrame, DataFrame, DataFrame) = {
    // per-dim means as ONE array row (dim-sorted), exactly the old
    // per-dim decimal aggregate
    val muRow = xw
      .select(posexplode(col("x")).as(Seq("dim", "xv")))
      .groupBy("dim")
      .agg(expr("cast(round(cast(sum(xv) as double) / " +
        "cast(count(1) as double), 9) as decimal(18,9))").as("mu"))
      .agg(expr("transform(sort_array(collect_list(struct(dim, mu))), " +
        "s -> s.mu)").as("mu"))
    val cx = xw.crossJoin(broadcast(muRow))
      .select(col("vec_id"),
        expr("zip_with(x, mu, (xv, m) -> cast(xv - m as decimal(18,9)))")
          .as("c"))
      .pin(false) // one materialization feeds every round
    var v = muRow
      .select(expr("transform(mu, m -> cast(1 as decimal(18,6)))").as("v"))
    var lam: DataFrame = null
    for (_ <- 1 to rounds) {
      // ONE pass over cx per round: d is row-local; the explode feeds a
      // map-side-combined groupBy(dim) (dims keys); the final
      // collect_list/fold run on dims rows.
      // FOLD PRECISION (r16, advice item): the fold types are the MAX
      // that keeps every add exact — an accumulator at p38 would make
      // Spark's decimal Add adjust the result scale down one digit (a
      // silent rounding the old aggregate Sum never did), so elements
      // sit at the exact product type and the accumulator one digit
      // wider (p37): dot (37,15) covers every legal |ci| < 1e9 given
      // |vi| ≤ 1 + 1e-6 by construction; the squared-sum folds
      // (37,18)/(37,24) overflow-THROW (ANSI) only past a per-dim RMS
      // of ~4e8 of the 1e9 representation cap — ~3000x the headroom of
      // the r15 (28,15)/(30,18)/(34,24) types, at identical values
      // everywhere the narrow types did not already throw.
      // Pin the 1-row result (lazy
      // localCheckpoint, the cx discipline): without the cut, round r's
      // broadcast(v) carries the full unmaterialized lineage of rounds
      // 1..r−1 and the loop re-executes O(rounds²) passes over cx —
      // the r10 driver capture's 16–24 s PCA gates were exactly this.
      val wRow = cx.crossJoin(broadcast(v))
        .select(expr("cast(round(cast(aggregate(zip_with(c, v, " +
          "(ci, vi) -> cast(ci * vi as decimal(37,15))), " +
          "cast(0 as decimal(37,15)), " +
          "(a, s) -> cast(a + s as decimal(37,15))) as double), 9) " +
          "as decimal(18,9))").as("d"), col("c"))
        .select(posexplode(
          expr("transform(c, ci -> cast(ci * d as decimal(38,18)))"))
          .as(Seq("dim", "cd")))
        .groupBy("dim")
        .agg(expr("cast(round(cast(sum(cd) as double), 9) " +
          "as decimal(18,9))").as("w"))
        .agg(expr("transform(sort_array(collect_list(struct(dim, w))), " +
          "s -> s.w)").as("w"))
        .select(col("w"),
          expr("cast(round(sqrt(cast(aggregate(transform(w, " +
            "wi -> cast(wi * wi as decimal(36,18))), " +
            "cast(0 as decimal(37,18)), " +
            "(a, s) -> cast(a + s as decimal(37,18))) as double)), 9) " +
            "as decimal(18,9))").as("nrm"))
        .pin(false)
      v = wRow.select(expr("transform(w, wi -> case when nrm > 0 then " +
        "cast(round(cast(wi as double) / cast(nrm as double), 6) " +
        "as decimal(18,6)) else cast(1 as decimal(18,6)) end)").as("v"))
      lam = wRow.select(col("nrm"))
    }
    (cx, v, lam)
  }

  /** DOMINANT-DIRECTION REMOVAL (Mu & Viswanath 2018's "all-but-the-
    * top", first component): project each centered embedding off the
    * [[pcaPower]] top component — the post-processing that measurably
    * sharpens similarity search on anisotropic embedding corpora
    * (most of a corpus's cosine mass hides in one common direction).
    * Emits per vector the before/after norms and the removed fraction
    * — the variance-removal observable; residual norms are ZERO
    * exactly on rank-1 data.
    *
    * DETERMINISM: the projection coefficient p = Σ c·v and both norm
    * sums are exact DECIMAL aggregates (the [[pcaPower]] discipline);
    * p rounds(,9) before the rank-1 subtraction so c − p·v is an
    * exact DECIMAL row value. SCALE SHAPE: [[pcaPower]]'s two paths —
    * under the guard the projection runs in the same driver-local fold
    * on the same collected rows; above it, one broadcast of the
    * component + row-local folds on top of the distributed core.
    * Returns (vec_id, norm, resid_norm, removed_frac) ordered by
    * vec_id.
    */
  def pcaDebias(corpus: DataFrame, rounds: Int = 6): DataFrame =
    pcaDebias(corpus, rounds, PcaFoldCells)

  /** [[pcaDebias]] with an explicit fold guard (a negative guard forces
    * the distributed path).
    */
  private[graft] def pcaDebias(corpus: DataFrame, rounds: Int,
      foldCells: Long): DataFrame =
    pcaInput(corpus, rounds, foldCells)
      .fold(_.debias(rounds), pcaDebiasWide(_, rounds))

  private def pcaDebiasWide(xw: DataFrame, rounds: Int): DataFrame = {
    val (cx, vRow, _) = pcaTopComponent(xw, rounds)
    // p rounds(,6) so p·v has exactly 12 decimals and c − p·v is an
    // EXACT decimal with no mid-cast rounding anywhere (a round-9 p
    // would force a 15-decimal product through a rounding cast — an
    // engine-divergence hazard on cast-rounding ties).
    // r15: in wide form p, ss and rr are ALL row-local decimal folds —
    // the old form's groupBy(vec_id) + full shuffle join of cx with
    // the per-vector p table (two more whole-corpus exchanges) are
    // gone; the only remaining exchange is the output ORDER BY. The
    // folds are exact decimal sums, so the regrouping is value-
    // identical to the old per-group decimal Sum.
    cx.crossJoin(broadcast(vRow))
      .select(col("vec_id"), col("c"), col("v"),
        expr("cast(round(cast(aggregate(zip_with(c, v, " +
          "(ci, vi) -> cast(ci * vi as decimal(37,15))), " +
          "cast(0 as decimal(37,15)), " +
          "(a, s) -> cast(a + s as decimal(37,15))) as double), 6) " +
          "as decimal(18,6))").as("p"))
      .select(col("vec_id"),
        expr("aggregate(transform(c, ci -> " +
          "cast(ci * ci as decimal(36,18))), cast(0 as decimal(37,18)), " +
          "(a, s) -> cast(a + s as decimal(37,18)))").as("ss"),
        expr("aggregate(zip_with(c, v, (ci, vi) -> " +
          "cast(cast(ci - p * vi as decimal(18,12)) * " +
          "cast(ci - p * vi as decimal(18,12)) as decimal(37,24))), " +
          "cast(0 as decimal(37,24)), " +
          "(a, s) -> cast(a + s as decimal(37,24)))").as("rr"))
      .select(col("vec_id"),
        round(expr("sqrt(cast(ss as double))"), 6).as("norm"),
        round(expr("sqrt(cast(rr as double))"), 6).as("resid_norm"),
        round(expr("case when ss > 0 then 1.0 - cast(rr as double) / " +
          "cast(ss as double) end"), 6).as("removed_frac"))
      .orderBy("vec_id")
  }

  /** Brute-force MAXIMUM-INNER-PRODUCT top-k (MIPS) — the retrieval
    * order a recommender's user×item factor model actually wants
    * (cosine discards magnitude; an item's popularity lives in its
    * norm). Same broadcast-query shape as [[bruteForceTopK]], ranked
    * by the raw dot product.
    */
  def mipsTopK(queries: DataFrame, corpus: DataFrame, k: Int): DataFrame =
    exactTopK(queries, corpus, k,
      "graft_dot(cast(qe as array<double>), cast(ce as array<double>))",
      "dot")

  /** The MIPS → cosine reduction (Bachrach et al. 2014, RecSys —
    * "Speeding up the Xbox recommender"): append sqrt(M² − ‖x‖²) to
    * every corpus vector (M = max corpus norm) and 0 to every query.
    * Every augmented corpus vector then has norm exactly M, so
    * augmented-cosine order ≡ inner-product order — the ENTIRE cosine
    * ANN family here (hyperplane LSH, IVF, IVF-kmeans, PQ) indexes
    * MIPS unchanged through this transform; the scale path when the
    * corpus outgrows the broadcast brute force. Equivalence is
    * spec-pinned against [[mipsTopK]].
    *
    * The M² range model is a 1-row broadcast frame (the idf shape).
    */
  def mipsAugmentCorpus(corpus: DataFrame): DataFrame = {
    ensureRegistered(corpus)
    val n2 = corpus.withColumn("__n2",
      expr("graft_dot(cast(embedding as array<double>), " +
        "cast(embedding as array<double>))"))
    val m = n2.agg(max("__n2").as("__m2"))
    n2.crossJoin(broadcast(m))
      .select(col("vec_id"),
        expr("concat(cast(embedding as array<double>), " +
          "array(sqrt(greatest(__m2 - __n2, 0.0D))))").as("embedding"))
  }

  /** Query half of [[mipsAugmentCorpus]]: a zero coordinate appended —
    * the query's own norm cancels in cosine ranking. */
  def mipsAugmentQueries(queries: DataFrame): DataFrame =
    queries.select(col("vec_id"),
      expr("concat(cast(embedding as array<double>), " +
        "array(cast(0.0 as double)))").as("embedding"))

  /** Coarse quantizer for IVF: assign every vector a cell id via the
    * hyperplane LSH bucket (deterministic, no training pass needed — the
    * signed-random-projection partition IS a valid IVF cell structure).
    * 2^nPlanes cells; [[ivfTopK]] consumes the resulting `cell` column.
    */
  def assignCells(df: DataFrame, nPlanes: Int, dims: Int = -1): DataFrame =
    withBucketArray(ensureRegistered(df), "embedding", nPlanes, 1,
        "__buckets", dims)
      .withColumn("cell", element_at(col("__buckets"), 1))
      .drop("__buckets")

  /** IVF cell centroids: elementwise mean per cell, computed relationally
    * (posexplode → mean per (cell, dim) → reassemble ordered). One shuffle
    * on (cell, dim); centroid count = cells × dim, tiny → broadcast-able.
    */
  def centroids(corpus: DataFrame, cellCol: String): DataFrame =
    means(corpus.select(col("embedding"), col(cellCol).as("cell")),
      Seq("cell"), "embedding")

  /** Decimal-exact elementwise mean of the vector column `vec` per
    * `keys` group, as (keys…, centroid ARRAY<DOUBLE>) — the Lloyd update
    * of k-means (`cell`) and PQ (`sub`, `cell`) alike. The per-dimension
    * sum goes through DECIMAL so it is order-independent and exact — a
    * plain double `avg` varies in the low bits with shuffle order, which
    * would make probe selection (and the oracle compare)
    * nondeterministic.
    */
  private[graft] def means(df: DataFrame, keys: Seq[String],
      vec: String): DataFrame =
    df.select(keys.map(col) :+ posexplode(col(vec)).as(Seq("j", "x")): _*)
      .groupBy((keys :+ "j").map(col): _*)
      .agg((sum(col("x").cast("double").cast(DecimalType(25, 10)))
        .cast("double") / count(lit(1))).as("m"))
      .groupBy(keys.map(col): _*)
      .agg(expr("transform(array_sort(collect_list(struct(j, m))), s -> s.m)")
        .as("centroid"))

  /** The k Lloyd seeds: the `k` rows with the smallest md5Long(vec_id)
    * (ties to the smaller vec_id), each with every input column plus
    * `cell` = its seed rank − 1. The k-row window runs after the limit.
    */
  private[graft] def seeds(df: DataFrame, k: Int): DataFrame = {
    ensureRegistered(df)
    df.withColumn("h", expr(md5LongSql("cast(vec_id as string)")))
      .orderBy(asc("h"), asc("vec_id")).limit(k)
      .withColumn("cell",
        (row_number().over(Window.orderBy(asc("h"), asc("vec_id"))) - 1)
          .cast("long"))
      .drop("h")
  }

  /** `iters` Lloyd rounds from the `init` centroids: `assign` labels every
    * point with its nearest centroid's cell (ties to the smaller cell),
    * then [[means]] over `keys` of the `vec` column is the next round's
    * centroid frame — an empty cell has no row. Shared by
    * [[kmeansCentroids]] and [[Pq.train]].
    *
    * r15: each round's k-row centroid frame is pinned (lazy
    * localCheckpoint — no job at plan build, the PlanAuditSpec
    * contract). Without the cut the training chain INLINES into every
    * downstream reference and each round's plan contains all previous
    * rounds — sim_davies_bouldin's audited plan carried 322 Exchange
    * nodes because the centroids appear in the scatter join, the k×k
    * pair grid AND the assignment, each replaying the full retrain
    * (plans/r15: 322 → ~30 Exchanges; sim_ivfpq_topk 128 → ~40).
    */
  private[graft] def lloyd(init: DataFrame, iters: Int, keys: Seq[String],
      vec: String)(assign: DataFrame => DataFrame): DataFrame =
    (1 to iters).foldLeft(init)((cent, _) =>
      means(assign(cent), keys, vec).pin(false))

  /** Assign every corpus vector to its nearest centroid by cosine
    * (ties break on the smaller cell id — cosines are bit-identical
    * across engines, so ties resolve identically). Centroids broadcast;
    * the corpus is touched once per call.
    */
  private def assignByCosine(corpus: DataFrame, cent: DataFrame): DataFrame =
    topN(corpus.select(col("vec_id"), col("embedding"))
        .join(broadcast(cent))
        .select(col("vec_id"), col("embedding"), col("cell"),
          expr(cosineSql("embedding", "centroid")).as("ccos")),
      Seq("vec_id"), 1, desc("ccos"), asc("cell"))
      .select("vec_id", "embedding", "cell")

  /** TRAINED coarse quantizer for IVF: deterministic spherical k-means.
    * Seeds = the `k` vectors with the smallest md5Long(vec_id) (cell id
    * = seed rank), then `iters` Lloyd rounds of cosine assignment +
    * decimal-exact elementwise means — every step is reproducible in
    * SQL, so the whole training loop is oracle-checkable, unlike any
    * RNG-seeded k-means. Returns the corpus with its final `cell`
    * column ([[ivfTopK]] consumes it directly).
    *
    * Scale shape per round: one broadcast join against k centroids +
    * one (cell, dim) hash aggregate; nothing quadratic, nothing on the
    * driver.
    */
  def kmeansCells(corpus: DataFrame, k: Int, iters: Int): DataFrame =
    assignByCosine(corpus, kmeansCentroids(corpus, k, iters))

  /** The trained centroid frame behind [[kmeansCells]] — exposed so
    * model-quality metrics ([[daviesBouldin]]) can measure against the
    * SAME centroids the assignment used (a re-derived mean would be
    * one Lloyd round ahead of the assignment).
    */
  def kmeansCentroids(corpus: DataFrame, k: Int, iters: Int)
      : DataFrame = {
    val init = seeds(corpus.select(col("vec_id"), col("embedding")), k)
      .select(col("cell"),
        expr("transform(embedding, x -> cast(x as double))").as("centroid"))
    lloyd(init, iters, Seq("cell"), "embedding")(assignByCosine(corpus, _))
  }

  /** Davies–Bouldin cluster-quality index (Davies & Bouldin 1979) in
    * the COSINE metric of the spherical k-means it audits: per
    * cluster i, scatter Sᵢ = mean(1 − cos(member, centroidᵢ));
    * separation Mᵢⱼ = 1 − cos(centroidᵢ, centroidⱼ); the per-cluster
    * term is max_{j≠i} (Sᵢ+Sⱼ)/Mᵢⱼ and the index is the mean term —
    * lower = tighter, better-separated clusters.
    *
    * Empty cells (possible after Lloyd rounds) drop from BOTH sides
    * of the pair grid; coincident centroids (Mᵢⱼ = 0) are excluded
    * from the max (a guard, not a convention — they do not occur on
    * separated data).
    *
    * SCALE SHAPE: one broadcast-centroid member pass (the big join) +
    * a k×k centroid grid + k-row folds. DETERMINISM: member and
    * centroid distances round(,9) into DECIMAL before any fold; the
    * per-cluster max is over identical double sets in both engines;
    * db terms fix to DECIMAL(18,6) before the final mean.
    */
  def daviesBouldin(corpus: DataFrame, k: Int, iters: Int): DataFrame = {
    val cent = kmeansCentroids(corpus, k, iters)
    val asg = assignByCosine(corpus, cent)
    val scatter = asg.join(broadcast(cent), Seq("cell"))
      .select(col("cell"), expr("cast(round(1.0D - " +
        cosineSql("embedding", "centroid") + ", 9) as decimal(12,9))")
        .as("dist"))
      .groupBy("cell")
      .agg(count(lit(1)).as("n"),
        round(sum(col("dist")).cast("double") /
          count(lit(1)).cast("double"), 6).as("s"))
    val pairs = cent.select(col("cell").as("ci"), col("centroid").as("ei"))
      .crossJoin(cent.select(col("cell").as("cj"),
        col("centroid").as("ej")))
      .filter(col("ci") =!= col("cj"))
      .select(col("ci"), col("cj"), expr("cast(round(1.0D - " +
        cosineSql("ei", "ej") + ", 9) as decimal(12,9))").as("m"))
      .filter(col("m") > 0)
    val terms = pairs
      .join(scatter.select(col("cell").as("ci"), col("s").as("si"),
        col("n")), Seq("ci"))
      .join(scatter.select(col("cell").as("cj"), col("s").as("sj")),
        Seq("cj"))
      .groupBy(col("ci").as("cell"), col("n"))
      .agg(max(expr("(si + sj) / cast(m as double)")).as("mx"))
      .select(col("cell"), col("n"),
        expr("cast(round(mx, 6) as decimal(18,6))").as("db_term"))
    val idx = terms.agg(
      round(sum(col("db_term")).cast("double") /
        count(lit(1)).cast("double"), 6).as("db_index"))
    terms.crossJoin(broadcast(idx))
      .select(col("cell"), col("n"),
        col("db_term").cast("double").as("db_term"), col("db_index"))
      .orderBy("cell")
  }

  /** SIMPLIFIED silhouette (Hruschka et al. 2004) of the spherical
    * k-means clustering, cosine metric — the per-POINT quality twin of
    * [[daviesBouldin]]'s per-cluster index: for each point, a = the
    * distance to its OWN centroid, b = the min distance to any OTHER
    * centroid, s = (b − a)/max(a, b) ∈ [−1, 1]. The full silhouette's
    * mean-pairwise-distance a/b is O(n²); the centroid form is the
    * standard linear-cost surrogate (what Spark MLlib's evaluator
    * computes too) — one broadcast pass, exact here.
    *
    * CONVENTIONS: max(a,b) = 0 (a point coincident with two
    * centroids) reads s = 0; a cluster left ALONE after Lloyd
    * collapse (no other centroid ⇒ b null) reads null — undefined,
    * not zero. DETERMINISM: distances round(,9) into DECIMAL before
    * the compare; s rounds(,6) into DECIMAL(18,6) before the exact
    * per-cluster sum; one double division per mean.
    *
    * SCALE SHAPE: one corpus × broadcast-k-centroid pass + one
    * (vec, cell) fold + one |cells| rollup — the [[daviesBouldin]]
    * shape. Returns (cell, n, sil_mean, sil_overall) ordered by cell.
    */
  def silhouette(corpus: DataFrame, k: Int, iters: Int): DataFrame = {
    val cent = kmeansCentroids(corpus, k, iters)
    val asg = assignByCosine(corpus, cent)
    val dists = asg
      .join(broadcast(cent.select(col("cell").as("c2"), col("centroid"))))
      .select(col("vec_id"), col("cell"), col("c2"),
        expr("cast(round(1.0D - " + cosineSql("embedding", "centroid") +
          ", 9) as decimal(12,9))").as("dist"))
    val perPoint = dists.groupBy("vec_id", "cell")
      .agg(max(when(col("c2") === col("cell"), col("dist"))).as("a"),
        min(when(col("c2") =!= col("cell"), col("dist"))).as("b"))
      .select(col("cell"), expr(
        "cast(round(case when greatest(a, b) > 0 then " +
          "cast(b - a as double) / cast(greatest(a, b) as double) " +
          "else 0.0D end, 6) as decimal(18,6))").as("s"))
    val per = perPoint.groupBy("cell")
      .agg(count(lit(1)).as("n"),
        round(sum(col("s")).cast("double") /
          count(lit(1)).cast("double"), 6).as("sil_mean"))
    val overall = perPoint.agg(
      round(sum(col("s")).cast("double") /
        count(lit(1)).cast("double"), 6).as("sil_overall"))
    per.crossJoin(broadcast(overall))
      .select(col("cell"), col("n"), col("sil_mean"), col("sil_overall"))
      .orderBy("cell")
  }

  /** IVF probe: each (query_id, qe) row routed to its `nprobe` nearest
    * broadcast centroids by cosine (ties to the smaller cell), as
    * (query_id, qe, cell). Shared by [[ivfTopK]] and
    * [[Pq.ivfAdcTopKLoaded]].
    */
  private[graft] def probe(q: DataFrame, cents: DataFrame,
      nprobe: Int): DataFrame =
    topN(q.join(broadcast(cents))
        .select(col("query_id"), col("qe"), col("cell"),
          expr(cosineSql("qe", "centroid")).as("ccos")),
      Seq("query_id"), nprobe, desc("ccos"), asc("cell"))
      .select("query_id", "qe", "cell")

  /** IVF probe search: route each query to its `nprobe` nearest centroids,
    * then brute-force only within those cells. Exact within the probed
    * fraction; recall governed by nprobe (classic IVF trade-off).
    */
  def ivfTopK(queries: DataFrame, corpus: DataFrame, cellCol: String,
      nprobe: Int, k: Int): DataFrame = {
    ensureRegistered(queries)
    val q = queries.select(col("vec_id").as("query_id"),
      col("embedding").as("qe"))
    val c = corpus.select(col("vec_id").as("neighbor_id"),
      col(cellCol).as("cell"), col("embedding").as("ce"))
    rankPairs(probe(q, centroids(corpus, cellCol), nprobe)
        .join(c, Seq("cell"))
        .filter(col("query_id") =!= col("neighbor_id")),
      k, cosineSql("qe", "ce"), "cos")
  }

  /** ANN RECALL evaluation — the number that decides whether an
    * approximate index is shippable: for each query, what fraction of
    * the TRUE cosine top-k ([[bruteForceTopK]], the oracle-exact
    * ground truth) does the IVF probe search ([[ivfTopK]]) surface?
    * Returns per query (query_id, n_true, n_hits, recall): ground
    * truth LEFT-joins the ANN result on (query, neighbor) so misses
    * count, one query-keyed aggregate, recall = n_hits/n_true
    * round(,6). The classic recall/nprobe trade-off curve is this
    * operator swept over nprobe.
    *
    * SCALE SHAPE: both retrievals are per-query top-k limits (k rows
    * per query each side); the overlap join and aggregate run on
    * |queries|·k rows — evaluation cost is independent of corpus
    * size beyond the retrievals themselves. At 100 TB ground truth
    * comes from the same brute pass on a SAMPLED query set (the
    * standard recall-audit protocol); the sample is the caller's cut.
    */
  def annRecall(queries: DataFrame, corpus: DataFrame, cellCol: String,
      nprobe: Int, k: Int): DataFrame = {
    val truth = bruteForceTopK(queries, corpus, k)
      .select("query_id", "neighbor_id")
    val approx = ivfTopK(queries, corpus, cellCol, nprobe, k)
      .select(col("query_id"), col("neighbor_id"), lit(1L).as("__hit"))
    truth.join(approx, Seq("query_id", "neighbor_id"), "left")
      .groupBy("query_id")
      .agg(count(lit(1)).as("n_true"),
        coalesce(sum(col("__hit")), lit(0L)).as("n_hits"))
      .withColumn("recall", round(col("n_hits").cast("double") /
        col("n_true").cast("double"), 6))
  }

  /** md5-derived hyperplane weight for global plane index `p`, dimension
    * `j`: (md5Long("p,j") mod 2001 − 1000) / 1000 — the identical value
    * the DuckDB oracle derives per row.
    * The weights are CONSTANTS, so the engine computes them once on the
    * driver and inlines them as a plan literal; hashing per row per
    * dimension was the one bench regression of the banded near-dup.
    */
  def planeWeight(p: Int, j: Int): Double = {
    val h = graft.functions.Md5Long.hash(
      org.apache.spark.unsafe.types.UTF8String.fromString(s"$p,$j"))
    ((h % 2001) - 1000) / 1000.0
  }

  /** Adds `outCol ARRAY<BIGINT>`: the vector's bucket id in each of
    * `nTables` independent hyperplane tables (table t draws global
    * planes [t·b, (t+1)·b)). Weights ride along as one typed literal;
    * per row a bucket costs b·dims fused multiply-adds inside
    * whole-stage codegen — no hashing. Fold order over dimensions is
    * identical to the md5-per-row SQL form, so bucket ids are
    * bit-identical to it and to the DuckDB twin (PlaneLiteralSpec
    * holds that form and asserts the bit-identity). Fixed dimensionality is
    * the embedding-column contract — a ragged row raises instead of
    * silently zero-folding its tail.
    */
  def withBucketArray(df: DataFrame, vecCol: String, nPlanes: Int,
      nTables: Int, outCol: String, dims: Int = -1): DataFrame = {
    // The embedding-column contract is FIXED dimensionality, so callers
    // pass `dims` explicitly — plan construction then triggers zero Spark
    // jobs. dims < 0 falls back to inference from an arbitrary first row
    // (one tiny job; if that row is itself the anomaly, every healthy row
    // raises with a misleading 'expected' count — which is why the
    // explicit form is the production path). An empty frame infers
    // dims = 0 and degenerates to bucket 0 over no rows instead of
    // crashing.
    val nd = if (dims >= 0) dims else
      df.select(size(col(vecCol))).limit(1).collect()
        .headOption.map(_.getInt(0)).getOrElse(0)
    val w = Array.tabulate(nTables, nPlanes, nd)(
      (t, p, j) => planeWeight(t * nPlanes + p, j))
    ensureRegistered(df)
    df.withColumn("__planes", typedlit(w))
      .withColumn(outCol, expr(
        // a ragged or null row fails loudly: a row longer than the
        // declared dims would otherwise project against short weights and
        // silently fold the extra dimensions to 0-bits (and a null vector
        // would silently yield a null bucket), desyncing from the
        // per-row-size md5 form and the oracle
        // let-bound (see Dedup.minhashSignatures): harmless for a raw parquet
        // column, essential when $vecCol is a computed vector — unbound,
        // its pipeline would be inlined into the per-table/per-plane
        // lambdas and re-run nTables x nPlanes times per row
        // r16 (guide §4): the per-plane projection is graft_dot — the
        // same sequential fold as the old aggregate(zip_with(cast(x as
        // double) * w)) lambda, bit-identical doubles, but a compiled
        // primitive loop instead of dims interpreted lambda evaluations
        // per (table, plane)
        s"element_at(transform(array($vecCol), __v -> " +
          s"case when __v is null or size(__v) != $nd then " +
          s"raise_error(concat('ragged or null embedding column $vecCol: " +
          s"expected $nd dims, got ', " +
          s"coalesce(cast(size(__v) as string), 'null'))) " +
          s"else " +
          s"transform(sequence(0, ${nTables - 1}), tt -> " +
          s"aggregate(transform(sequence(0, ${nPlanes - 1}), p -> " +
          s"case when graft_dot(cast(__v as array<double>), " +
          s"__planes[tt][p]) >= 0 " +
          s"then shiftleft(cast(1 as bigint), p) " +
          s"else cast(0 as bigint) end), " +
          s"cast(0 as bigint), (acc, v) -> acc + v)) " +
          s"end), 1)"))
      .drop("__planes")
  }

  /** LSH-bucketed ANN: bucket every vector, search only within the query's
    * bucket. Output may have < k rows per query (recall/bucket trade-off).
    */
  def lshTopK(queries: DataFrame, corpus: DataFrame, nPlanes: Int,
      k: Int, dims: Int = -1): DataFrame = {
    ensureRegistered(queries)
    val bucket = (df: DataFrame) =>
      withBucketArray(df, "embedding", nPlanes, 1, "__buckets", dims)
        .withColumn("bucket", element_at(col("__buckets"), 1))
    val q = bucket(queries).select(col("vec_id").as("query_id"),
      col("embedding").as("qe"), col("bucket"))
    val c = bucket(corpus).select(col("vec_id").as("neighbor_id"),
      col("embedding").as("ce"), col("bucket"))
    rankPairs(q.join(c, Seq("bucket"))
        .filter(col("query_id") =!= col("neighbor_id")),
      k, cosineSql("qe", "ce"), "cos")
  }

  /** L2-unit-normalize an embedding corpus: (vec_id, u ARRAY<DOUBLE>).
    * Normalizing once up front means every downstream pair costs a single
    * dot product, and hyperplane bucketing on `u` equals bucketing on the
    * raw vector (sign of a projection is scale-invariant) while keeping
    * the engine and the oracle bit-identical on the same intermediate.
    */
  private def unitVectors(corpus: DataFrame): DataFrame = {
    def dot(x: String, y: String) = s"graft_dot($x, $y)"
    corpus
      .select(col("vec_id"),
        expr("transform(embedding, x -> cast(x as double))").as("vd"))
      .select(col("vec_id"), col("vd"),
        expr(s"sqrt(${dot("vd", "vd")})").as("n"))
      .select(col("vec_id"),
        expr("transform(vd, x -> x / n)").as("u"))
  }

  /** Embedding-cosine near-duplicate pairs at scale: multi-table
    * hyperplane-LSH candidate generation + exact-cosine verification.
    * This is the PRODUCTION near-dup operator — the pair space is only
    * ever materialized inside an LSH bucket (a uniform-key equi-join per
    * table), never O(n²); the all-pairs [[cosineNearDupPairs]] form
    * exists solely as the ground truth recall is measured against
    * (NearDupRecallSpec).
    *
    * Recall: two vectors at angle θ collide in one table with probability
    * (1 − θ/π)^planesPerTable, so across L independent tables
    * P(candidate) = 1 − (1 − (1 − θ/π)^b)^L. At cos = 0.45
    * (θ ≈ 1.104 rad) the default (b=4, L=16) gives ≈ 95.7% analytic
    * recall; measured recall on the gate corpus is 14/14. Tables are
    * independent because table t draws planes [t·b, (t+1)·b) of the
    * deterministic md5 hyperplane family.
    *
    * Scale shape: one pass computes all L bucket ids per row (no
    * re-reads), candidates meet in a bucket-key equi-join, pairs dedup in
    * a hash aggregate, and verification joins the (vec_id → u) table
    * twice on its key. Oversized buckets are capped at `maxBucket`
    * members (skew defense — see [[cosineNearDupPairsLshPlan]]). The
    * result is materialized eagerly and the persisted intermediates
    * dropped before returning, so repeated calls on a long-lived session
    * leave no cache residue; audit the lazy plan via
    * [[cosineNearDupPairsLshPlan]].
    */
  def cosineNearDupPairsLsh(corpus: DataFrame, threshold: Double,
      planesPerTable: Int = 4, nTables: Int = 16,
      maxBucket: Int = 1024, dims: Int = -1): DataFrame = {
    val (result, cleanup) = cosineNearDupPairsLshPlan(corpus, threshold,
      planesPerTable, nTables, maxBucket, dims)
    // materialize eagerly (truncating lineage) so the persisted
    // intermediates can be dropped HERE instead of lingering until
    // session end / LRU eviction — a long-lived session issuing many
    // near-dup jobs must not accumulate MEMORY_AND_DISK residue
    val out = result.pin(true)
    cleanup()
    out
  }

  /** The LAZY plan behind [[cosineNearDupPairsLsh]], exposed for plan
    * audits (the public operator returns a checkpointed frame whose plan
    * is a block scan). Returns (result, cleanup): the caller must invoke
    * `cleanup()` once the result has materialized, which unpersists the
    * unit-vector and bucket intermediates and logs any bucket-cap drops.
    */
  def cosineNearDupPairsLshPlan(corpus: DataFrame, threshold: Double,
      planesPerTable: Int = 4, nTables: Int = 16,
      maxBucket: Int = 1024, dims: Int = -1): (DataFrame, () => Unit) = {
    ensureRegistered(corpus)
    def dot(x: String, y: String) = s"graft_dot($x, $y)"
    val mad = org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK
    // persisted across its consumers (bucket pass + both verify joins)
    val unit = unitVectors(corpus).persist(mad)
    val bandedAll = withBucketArray(unit, "u", planesPerTable, nTables,
        "__buckets", dims)
      .select(col("vec_id"), posexplode(col("__buckets"))
        .as(Seq("tbl", "bkey")))
      .persist(mad) // consumed by the self-join (×2) and the cap logging
    // BUCKET-SIZE CAP — the skew defense: a degenerate corpus (many
    // near-identical vectors) concentrates one (tbl, bkey) bucket into a
    // quadratic hot spot. Each bucket keeps its `maxBucket` smallest
    // vec_ids (deterministic, so the oracle can replay it), bounding any
    // bucket's pair contribution at maxBucket²/2; overflow rows are
    // DROPPED from candidate generation and counted by `droppedRows`
    // below — no silent caps. A healthy corpus (exact-dedup upstream
    // removes identical payloads) never approaches the cap; the gate
    // corpora sit orders of magnitude under it, so the oracle SQL needs
    // no cap clause.
    val bw = Window.partitionBy("tbl", "bkey").orderBy(asc("vec_id"))
    val banded = bandedAll
      .withColumn("__bn", row_number().over(bw))
      .filter(col("__bn") <= maxBucket)
      .select("vec_id", "tbl", "bkey")
    val cands = banded.select(col("vec_id").as("vec_a"), col("tbl"),
        col("bkey"))
      .join(banded.select(col("vec_id").as("vec_b"), col("tbl"),
        col("bkey")), Seq("tbl", "bkey"))
      .filter(col("vec_a") < col("vec_b"))
      .select("vec_a", "vec_b").distinct()
    val result = cands
      .join(unit.select(col("vec_id").as("vec_a"), col("u").as("ua")),
        Seq("vec_a"))
      .join(unit.select(col("vec_id").as("vec_b"), col("u").as("ub")),
        Seq("vec_b"))
      .select(col("vec_a"), col("vec_b"),
        expr(dot("ua", "ub")).as("cos"))
      .filter(col("cos") >= threshold)
      .select(col("vec_a"), col("vec_b"), round(col("cos"), 6).as("cos"))
    val cleanup = () => {
      // one tiny aggregate over the (persisted, bucket-count-sized)
      // intermediate: how many bucket memberships the cap discarded
      val droppedRows = bandedAll.groupBy("tbl", "bkey")
        .agg(count(lit(1)).as("cnt"))
        .agg(coalesce(sum(greatest(col("cnt") - maxBucket, lit(0L))),
          lit(0L)))
        .head().getLong(0)
      if (droppedRows > 0)
        System.err.println(s"[similarity] bucket cap $maxBucket dropped " +
          s"$droppedRows bucket memberships from near-dup candidate " +
          s"generation (degenerate bucket skew — run exact dedup " +
          s"upstream, or raise maxBucket)")
      bandedAll.unpersist()
      unit.unpersist()
      ()
    }
    (result, cleanup)
  }

  /** Embedding-cosine near-duplicate pairs (vec_a < vec_b, cos ≥ threshold).
    * Exact all-pairs — GROUND TRUTH ONLY (O(n²) nested-loop): used by the
    * recall spec to grade [[cosineNearDupPairsLsh]], never gated and never
    * the production path.
    *
    * Vectors are L2-normalized ONCE up front, so the O(n²) pair stage does
    * a single dot product instead of three — the norm work amortizes over
    * n, not n².
    */
  def cosineNearDupPairs(corpus: DataFrame, threshold: Double): DataFrame = {
    ensureRegistered(corpus)
    def dot(x: String, y: String) = s"graft_dot($x, $y)"
    val unit = unitVectors(corpus)
    val a = unit.select(col("vec_id").as("vec_a"), col("u").as("ua"))
    val b = unit.select(col("vec_id").as("vec_b"), col("u").as("ub"))
    a.join(b, col("vec_a") < col("vec_b"))
      .select(col("vec_a"), col("vec_b"),
        expr(dot("ua", "ub")).as("cos"))
      .filter(col("cos") >= threshold)
      .select(col("vec_a"), col("vec_b"), round(col("cos"), 6).as("cos"))
  }
}
