package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.ops.Pins.PinSyntax

/** Graph analytics over edge lists — the natural extension of the
  * reference's entity-popularity model (inlink counts,
  * sift/models/links.py:13-39) to link-structure ranking: a deterministic
  * fixed-point PageRank, plus the TextRank word graph (PageRank over
  * token co-occurrence — Mihalcea & Tarau 2004 — the classic keyword
  * extractor for a document corpus).
  *
  * DETERMINISM: ranks are kept in integer micro-units (1.0 ≡ 1 000 000)
  * and every step is BIGINT arithmetic with truncating division, so the
  * result is independent of partitioning, shuffle order and float
  * summation order — the whole iteration replays exactly in ANSI SQL
  * (the `g_textrank` gate's DuckDB oracle unrolls it round by round).
  * A double-precision PageRank would differ in the low bits per run;
  * an integer one is bit-stable at any cluster size.
  *
  * SCALE SHAPE: per round one equi-join of the rank table against the
  * pinned out-weighted edge list (shuffle keyed on `src`) and one hash
  * aggregate on `dst` — the standard distributed PageRank plan; nothing
  * quadratic, nothing driver-side. The edge list is local-checkpointed
  * once (it is re-read every round); rank lineage is flattened every
  * `checkpointEvery` rounds so long runs keep a bounded plan depth.
  *
  * OVERFLOW BOUND: the widest intermediate is rank·w, so the math is
  * safe while max_rank × max_edge_weight < 2⁶³ — max_rank is bounded by
  * the total mass (#nodes × 10⁶), so e.g. 10⁹ nodes tolerate edge
  * weights up to ~9×10³. Corpora with hotter edges should rescale
  * weights first (PageRank is invariant to a per-source weight scale up
  * to the division truncation). ANSI mode makes a violation THROW —
  * loud, never a silently wrapped rank.
  */
object Graph {

  /** Fixed-iteration PageRank in integer micro-units.
    *
    * R₀(v) = 1 000 000;
    * Rₜ₊₁(v) = (100-damp)·10 000 + (damp · Σ_{u→v} (Rₜ(u)·w(u,v) div W(u))) div 100
    * where W(u) = Σ w(u,·). Dangling mass (nodes with no out-edges) is
    * dropped, the classic simplification; nodes with no in-edges settle
    * at the teleport floor.
    *
    * @param nodes one `node` column, distinct ids (string or integral)
    * @param edges `src`, `dst`, `w` (positive BIGINT weights)
    */
  def pageRank(nodes: DataFrame, edges: DataFrame, iters: Int,
      damp: Int = 85, checkpointEvery: Int = 8): DataFrame = {
    require(iters >= 0, s"iters must be >= 0, got $iters")
    require(damp >= 0 && damp <= 100, s"damp must be in [0,100], got $damp")
    val ew = pinnedEdges(edges)
    val ns = nodes.select(col("node")).pin(true)
    val teleport = (100L - damp) * 10000L
    var r = ns.select(col("node"), lit(1000000L).as("rank"))
    for (i <- 1 to iters) {
      r = oneRound(ns, ew, r, damp, teleport)
      if (checkpointEvery > 0 && i % checkpointEvery == 0 && i < iters)
        r = r.pin(true)
    }
    r
  }

  /** One PageRank round — the single source of truth for the update
    * rule (rank' = teleport + (damp · Σ (rank·w div W)) div 100), shared
    * by the fixed-iteration oracle twin and the converged production
    * form so the two can never drift.
    */
  private def oneRound(ns: DataFrame, ew: DataFrame, r: DataFrame,
      damp: Int, teleport: Long): DataFrame = {
    val contrib = ew.join(r, ew("src") === r("node"))
      .select(col("dst").as("node"),
        expr("(rank * w) div ow").as("c"))
      .groupBy("node").agg(sum("c").as("s"))
    ns.join(contrib, Seq("node"), "left")
      .select(col("node"),
        (lit(teleport) +
          expr(s"($damp * coalesce(s, 0L)) div 100")).as("rank"))
  }

  /** Out-weighted edge list, pinned once (both rank loops read it every
    * round; without the checkpoints the upstream pipelines — tokenize/
    * explode/count for the word graph, explode/distinct for the node
    * set — re-execute per round). A non-positive weight fails loudly at
    * the eager materialization: it would corrupt the mass split
    * silently (negative contributions, division by a zero out-weight).
    */
  private def pinnedEdges(edges: DataFrame): DataFrame = {
    val outw = edges.groupBy("src").agg(sum("w").as("ow"))
    edges.join(outw, "src")
      .select(col("src"), col("dst"),
        expr("case when w <= 0L then raise_error(concat(" +
          "'pageRank edge weight must be positive, got ', " +
          "cast(w as string))) else w end").as("w"),
        col("ow"))
      .pin(true)
  }

  /** PageRank run to DETECTED convergence — the production form for
    * graphs whose mixing time is unknown (the fixed-`iters` form is the
    * oracle-replayable twin): iterate until no node's rank moves by more
    * than `tol` micro-units. Integer ranks make the test exact and
    * partitioning-independent; the changed-rank count rides the same
    * materialization that flattens each round's lineage (one job per
    * round — the [[Dedup.clusters]] pattern). Convergence time is
    * ~ln(10⁶/tol)/ln(100/damp) rounds PLUS the graph diameter (a rank
    * wave crosses one hop per round): ~68 + diameter at the defaults —
    * so `maxRounds` defaults to 512 as a broken-iteration guard with
    * headroom for diameter ≈ 400; genuinely longer chain graphs need it
    * raised, and the failure message says so rather than claiming the
    * math broke.
    */
  def pageRankConverged(nodes: DataFrame, edges: DataFrame,
      damp: Int = 85, tol: Long = 16L, maxRounds: Int = 512): DataFrame = {
    require(tol >= 1, s"tol must be >= 1 micro-unit, got $tol")
    val ew = pinnedEdges(edges)
    val ns = nodes.select(col("node")).pin(true)
    val teleport = (100L - damp) * 10000L
    var r = ns.select(col("node"), lit(1000000L).as("rank"))
      .pin(true)
    var changed = -1L
    var round = 0
    while (changed != 0L && round < maxRounds) {
      val next = r.withColumnRenamed("rank", "old")
        .join(oneRound(ns, ew, r, damp, teleport)
          .withColumnRenamed("rank", "nrank"), Seq("node"))
        .select(col("node"), col("nrank").as("rank"),
          when(abs(col("nrank") - col("old")) > tol, 1L)
            .otherwise(0L).as("chg"))
        .pin(false)
      changed = next.agg(coalesce(sum("chg"), lit(0L))).head().getLong(0)
      r = next.select("node", "rank")
      round += 1
    }
    if (changed != 0L)
      throw new IllegalStateException(
        s"pageRankConverged hit maxRounds=$maxRounds before ranks were " +
          s"tol=$tol-stable. Expected rounds ≈ ln(1e6/tol)/ln(100/damp) " +
          "+ graph diameter — raise maxRounds for very-long-diameter " +
          "graphs; refusing to return a half-mixed ranking")
    r
  }

  /** PERSONALIZED PageRank (Jeh & Widom, WWW 2003 shape): the teleport
    * mass lands ONLY on the `seeds` node set, so ranks measure
    * proximity to the seeds rather than global centrality — the
    * recommendation / related-entity primitive ("entities close to
    * THIS one in the link structure"). Same integer micro-unit
    * recurrence as [[pageRank]] with two changes: r₀ = 10⁶ on seeds
    * and 0 elsewhere, and the per-round teleport term
    * (100−damp)·10⁴ is gated on seed membership:
    *
    *   rank'(v) = [v ∈ S]·teleport + (damp · Σᵤ rank(u)·w(u,v) div W(u)) div 100.
    *
    * Ranks are proportional to restart-to-uniform-over-S PPR (the
    * absolute scale is the same convention as [[pageRank]], not a
    * probability); exact BIGINT arithmetic keeps every round
    * bit-stable under any partitioning, so the whole loop is
    * oracle-replayable.
    *
    * SCALE SHAPE: identical to [[pageRank]] — per round one edge ⋈ rank
    * equi-join plus one dst-keyed hash aggregate; the seed flag rides
    * the checkpointed node frame (|nodes| rows, one boolean wider).
    */
  def personalizedPageRank(nodes: DataFrame, edges: DataFrame,
      seeds: DataFrame, iters: Int, damp: Int = 85,
      checkpointEvery: Int = 8): DataFrame = {
    require(iters >= 0, s"iters must be >= 0, got $iters")
    require(damp >= 0 && damp <= 100, s"damp must be in [0,100], got $damp")
    val ew = pinnedEdges(edges)
    val ns = nodes.select(col("node"))
      .join(seeds.select(col("node"), lit(1L).as("__seed")).distinct(),
        Seq("node"), "left")
      .select(col("node"), coalesce(col("__seed"), lit(0L)).as("is_seed"))
      .pin(true)
    val teleport = (100L - damp) * 10000L
    var r = ns.select(col("node"),
      (col("is_seed") * 1000000L).as("rank"))
    for (i <- 1 to iters) {
      val contrib = ew.join(r, ew("src") === r("node"))
        .select(col("dst").as("node"), expr("(rank * w) div ow").as("c"))
        .groupBy("node").agg(sum("c").as("s"))
      r = ns.join(contrib, Seq("node"), "left")
        .select(col("node"),
          (col("is_seed") * teleport +
            expr(s"($damp * coalesce(s, 0L)) div 100")).as("rank"))
      if (checkpointEvery > 0 && i % checkpointEvery == 0 && i < iters)
        r = r.pin(true)
    }
    r
  }

  /** Connected components over an arbitrary undirected edge list
    * (`src`, `dst`, any orderable node type): returns (component, node)
    * with component = the smallest member — delegates to the
    * pointer-doubling min-label propagation of [[Dedup.clusters]]
    * (O(log diameter) rounds, detected convergence, loud failure on the
    * bug guard).
    */
  def connectedComponents(edges: DataFrame): DataFrame =
    Dedup.clusters(edges.select(col("src").as("doc_a"),
        col("dst").as("doc_b")))
      .select(col("cluster").as("component"), col("doc_id").as("node"))

  /** Directed bigram co-occurrence graph over the corpus token stream
    * (self-loops dropped): edge (tᵢ → tᵢ₊₁) with corpus-wide count as
    * weight. One explode + one hash aggregate — scan-shaped.
    */
  def wordGraph(docs: DataFrame): DataFrame =
    docs.select(expr(Hashing.tokensSql).as("tk"))
      // let-bound (see Dedup.minhashSignatures): the lambda references
      // the token array per element; without the binding the tokenizer
      // regex is inlined and re-runs once per bigram
      .select(explode(expr(
        "element_at(transform(array(tk), t -> " +
          "transform(slice(t, 1, greatest(size(t) - 1, 0)), " +
          "(x, i) -> struct(x AS src, element_at(t, i + 2) AS dst))), 1)"))
        .as("p"))
      .select("p.src", "p.dst")
      .filter(col("src") =!= col("dst"))
      .groupBy("src", "dst").agg(count(lit(1)).as("w"))

  /** Distinct token vocabulary as the node set. */
  def wordNodes(docs: DataFrame): DataFrame =
    docs.select(explode(expr(Hashing.tokensSql)).as("node")).distinct()

  /** TextRank: PageRank over the corpus word graph — tokens ranked by
    * link-structure centrality rather than raw frequency.
    */
  def textRank(docs: DataFrame, iters: Int): DataFrame =
    pageRank(wordNodes(docs), wordGraph(docs), iters)

  /** Entity link graph over a linked-document corpus (`doc_id`, `links`
    * ARRAY<STRUCT<target,…>>): edge (source doc → normalized target),
    * weight = link count, self-links dropped. Node space = source uris ∪
    * targets (they share the uri namespace in a wiki corpus).
    */
  def entityGraph(docs: DataFrame): DataFrame =
    docs.select(col("doc_id").as("src"), explode(col("links")).as("l"))
      .select(col("src"), LinkModels.normTarget(col("l.target")).as("dst"))
      .filter(col("src") =!= col("dst"))
      .groupBy("src", "dst").agg(count(lit(1)).as("w"))

  /** Node set of [[entityGraph]]. */
  def entityNodes(docs: DataFrame): DataFrame =
    docs.select(col("doc_id").as("node"))
      .unionByName(docs
        .select(explode(col("links")).as("l"))
        .select(LinkModels.normTarget(col("l.target")).as("node")))
      .distinct()

  /** PageRank over the entity link graph — the link-structure upgrade of
    * the reference's inlink-count popularity model (links.py:13-39): an
    * entity is popular if POPULAR pages link it, recursively, not just
    * if many do.
    */
  def entityRank(docs: DataFrame, iters: Int): DataFrame =
    pageRank(entityNodes(docs), entityGraph(docs), iters)

  /** Fixed-iteration HITS (Kleinberg 1999, "Authoritative sources in a
    * hyperlinked environment") in the same integer micro-unit scheme as
    * [[pageRank]]: hub/authority start at 1 000 000; each round
    *
    *   auth'(v) = Σ_{u→v} hub(u)·w(u,v)
    *   hub'(u)  = Σ_{u→v} auth(v)·w(u,v)
    *
    * each followed by L∞ normalization in truncating-integer form —
    * `x div greatest(1, max(x) div 10⁶)` — so the leading score returns
    * to ~10⁶ every half-round and every step is BIGINT arithmetic:
    * bit-stable under any partitioning, replayed round-by-round by the
    * `g_hits` DuckDB oracle.
    *
    * SCALE SHAPE: per half-round one equi-join of the score table
    * against the pinned edge list (keyed src/dst) + one hash aggregate
    * + a 1-row max frame broadcast into the rescale (the idf shape).
    * OVERFLOW BOUND: scores ≤ ~2·10⁶ after normalization, so the
    * pre-normalization sum is safe while a node's weighted in/out
    * degree stays < ~2⁶¹/10⁶ ≈ 2.3·10¹² — ANSI mode throws on
    * violation rather than wrapping.
    *
    * Returns (node, auth, hub) over the edge-incident node set; nodes
    * touching no edge carry no meaningful HITS score and are excluded.
    */
  /** FIXED-ROUND KATZ CENTRALITY (Katz 1953) in the [[pageRank]]
    * integer micro-unit scheme: r₀ = 10⁶ per node and
    *
    *   r'(v) = 10⁶ + (Σ_{u→v} r(u)·w(u,v)) div alphaDiv
    *
    * — the truncated Katz sum Σ_{k≤rounds} α^k (Aᵀ)^k·1 with
    * α = 1/alphaDiv, counting weighted in-paths of every length with
    * geometric decay. Unlike [[pageRank]] there is no out-degree
    * normalization (a node's influence is NOT diluted by fan-out) and
    * no teleport — the "how reachable is this node" reading.
    *
    * DETERMINISM: every round is pure BIGINT (multiply, sum, one
    * truncating div) — bit-stable on any partitioning; the oracle
    * unrolls every round. OVERFLOW BOUND: scores grow by up to a
    * factor (max weighted in-degree)/alphaDiv per round; ANSI mode
    * throws (never wraps) when a hub's level-k path mass exceeds
    * 2⁶³/10⁶ — keep rounds small (3–4) on hub-heavy graphs or raise
    * alphaDiv. SCALE SHAPE: per round one keyed equi-join of the rank
    * table against the pinned edge list + one hash aggregate + one
    * left join back to the node set — the [[pageRank]] round shape.
    *
    * Returns (node, rank) over the edge-incident node set.
    */
  def katz(edges: DataFrame, rounds: Int, alphaDiv: Int = 5)
      : DataFrame = {
    require(rounds >= 1 && rounds <= 8, "rounds in 1..8")
    require(alphaDiv >= 2, "alphaDiv >= 2 (alpha < 1)")
    val ew = pinnedEdges(edges)
    val nodes = ew.select(col("src").as("node"))
      .unionByName(ew.select(col("dst").as("node")))
      .distinct().pin(true)
    var r = nodes.select(col("node"), lit(1000000L).as("rank"))
    for (_ <- 1 to rounds) {
      val contrib = ew.join(r, ew("src") === r("node"))
        .select(col("dst").as("node"), expr("rank * w").as("c"))
        .groupBy("node").agg(sum("c").as("sc"))
      r = nodes.join(contrib, Seq("node"), "left")
        .select(col("node"), (lit(1000000L) +
          expr(s"coalesce(sc, 0L) div $alphaDiv")).as("rank"))
    }
    r
  }

  def hits(edges: DataFrame, iters: Int): DataFrame = {
    require(iters >= 1, s"iters must be >= 1, got $iters")
    val e = edges
      .select(col("src"), col("dst"),
        expr("case when w <= 0L then raise_error(concat(" +
          "'hits edge weight must be positive, got ', " +
          "cast(w as string))) else w end").as("w"))
      .pin(true)
    val nodes = e.select(col("src").as("node"))
      .unionByName(e.select(col("dst").as("node")))
      .distinct().pin(true)
    def normalized(contrib0: DataFrame, out: String): DataFrame = {
      // the contribution table is read TWICE (its max, then the
      // rescale join) — without this cut each half-round re-executes
      // the whole upstream iteration per reader, compounding to
      // 2^(2·iters) upstream replays (the pipe_llm_corpus plan-path
      // fan-in lesson, §14; measured here: 4.2 s → ~1 s at 3 rounds).
      // Also bounds plan depth, so no separate per-k checkpoint cadence
      // is needed.
      val contrib = contrib0.pin(true)
      val mx = contrib.agg(max("s").as("mx"))
      nodes.join(contrib, Seq("node"), "left")
        .crossJoin(broadcast(mx))
        .select(col("node"),
          expr("coalesce(s, 0L) div greatest(1L, mx div 1000000L)")
            .as(out))
    }
    var h = nodes.select(col("node"), lit(1000000L).as("hub"))
    var a = nodes.select(col("node"), lit(0L).as("auth"))
    for (_ <- 1 to iters) {
      a = normalized(
        e.join(h.withColumnRenamed("node", "__n"), col("src") === col("__n"))
          .select(col("dst").as("node"), expr("hub * w").as("c"))
          .groupBy("node").agg(sum("c").as("s")), "auth")
      h = normalized(
        e.join(a.withColumnRenamed("node", "__n"), col("dst") === col("__n"))
          .select(col("src").as("node"), expr("auth * w").as("c"))
          .groupBy("node").agg(sum("c").as("s")), "hub")
    }
    a.join(h, Seq("node")).select("node", "auth", "hub")
  }

  /** Global triangle count, DEGREE-ORIENTED (the skew-proof
    * formulation): undirected edges are oriented from the (degree,
    * node)-smaller endpoint to the larger, wedges are generated only at
    * each edge's LOW-degree endpoint, and a wedge (y₁, y₂) closes iff
    * the oriented edge y₁→y₂ exists. Naive wedge generation at a hub of
    * degree d costs d²; after orientation every vertex's out-degree is
    * O(√m) on any graph, so the wedge space is bounded by m^(3/2)
    * regardless of hubs — the difference between a social-graph
    * celebrity melting one task and a balanced shuffle. Every triangle
    * is counted exactly once (at its orientation-minimal vertex). All
    * steps are key-equality joins/aggregates; the (deg, node) total
    * order makes the count — and the oracle replay — deterministic.
    */
  def triangleCount(edges: DataFrame): DataFrame = {
    val und = edges
      .select(least(col("src"), col("dst")).as("u"),
        greatest(col("src"), col("dst")).as("v"))
      .filter(col("u") =!= col("v")).distinct()
    val deg = und.select(col("u").as("n"))
      .unionAll(und.select(col("v").as("n")))
      .groupBy("n").agg(count(lit(1)).as("deg"))
    val withDeg = und
      .join(deg.select(col("n").as("u"), col("deg").as("du")), Seq("u"))
      .join(deg.select(col("n").as("v"), col("deg").as("dv")), Seq("v"))
    val o = withDeg.select(
      when(struct(col("du"), col("u")) < struct(col("dv"), col("v")),
        struct(col("u").as("x"), col("v").as("y"), col("dv").as("dy")))
        .otherwise(
          struct(col("v").as("x"), col("u").as("y"), col("du").as("dy")))
        .as("e"))
      .select(col("e.x").as("x"), col("e.y").as("y"), col("e.dy").as("dy"))
    val wedges = o.select(col("x"), col("y").as("y1"), col("dy").as("d1"))
      .join(o.select(col("x"), col("y").as("y2"), col("dy").as("d2")),
        Seq("x"))
      .filter(struct(col("d1"), col("y1")) < struct(col("d2"), col("y2")))
    wedges
      .join(o.select(col("y").as("y2"), col("x").as("y1")),
        Seq("y1", "y2"), "left_semi")
      .agg(count(lit(1)).cast("long").as("triangles"))
  }

  /** k-CORE decomposition by iterative peeling: each round drops every
    * node whose degree in the REMAINING undirected simple graph is
    * < k, with its edges; the fixpoint is the maximal subgraph where
    * every node has ≥ k neighbors (the standard graph-density filter —
    * spam/boilerplate token clusters peel away, the cohesive core
    * stays). `rounds` is fixed so the computation is a deterministic
    * plan an oracle replays round-by-round (peeling is monotone: once
    * converged, further rounds are no-ops — callers size `rounds` to
    * the expected cascade depth, and the returned degrees certify the
    * invariant: after convergence every row has deg ≥ k).
    *
    * Scale shape per round: one degree aggregate + two semi-joins
    * against the ≥k node set — all key-partitioned, nothing on the
    * driver. Each round's edge set references the previous round's
    * THREE times (degree build + both semi-join probes), so the
    * lineage is truncated per round with `localCheckpoint` — without
    * it the lazy plan holds 3^rounds copies of the base subtree and
    * Catalyst analysis, not the data, becomes the bottleneck. (The
    * checkpoint is the same move the PageRank loop documents for
    * production scale; here it is load-bearing at ANY scale.)
    *
    * Returns (node, deg) of the surviving subgraph's final degrees.
    * NOTE: runs `rounds` Spark jobs at call time (not a lazy plan).
    */
  def kCore(edges: DataFrame, k: Int, rounds: Int): DataFrame = {
    require(k >= 1 && rounds >= 1, s"need k >= 1, rounds >= 1; got $k/$rounds")
    var und = edges
      .select(least(col("src"), col("dst")).as("u"),
        greatest(col("src"), col("dst")).as("v"))
      .filter(col("u") =!= col("v")).distinct()
      .pin()
    for (_ <- 1 to rounds) {
      val deg = und.select(col("u").as("n"))
        .unionAll(und.select(col("v").as("n")))
        .groupBy("n").agg(count(lit(1)).as("deg"))
      val keep = deg.filter(col("deg") >= k)
      und = und
        .join(keep.select(col("n").as("u")), Seq("u"), "left_semi")
        .join(keep.select(col("n").as("v")), Seq("v"), "left_semi")
        .pin()
    }
    und.select(col("u").as("node")).unionAll(und.select(col("v").as("node")))
      .groupBy("node").agg(count(lit(1)).as("deg"))
  }

  /** Multi-source BFS distances, bounded at `rounds` hops: for every
    * node within `rounds` of a source, the hop count to the NEAREST
    * source (0 at the sources; unreached nodes are absent). The
    * seed-expansion primitive behind "how far is everything from the
    * trusted set" audits (link-spam distance, seed-entity closure).
    *
    * Frontier relaxation: per round ONE adjacency ⋈ frontier equi-join
    * + distinct + one anti-join against the settled set — a node
    * settles the first time it is reached, which IS its shortest hop
    * count, so no min-relaxation pass is needed. All joins are
    * key-partitioned; the frontier only ever holds newly-reached
    * nodes. Lineage is cut per round with `localCheckpoint` (the
    * [[kCore]] k^rounds lesson — the settled set is referenced by two
    * downstream paths per round; runs `rounds` jobs at call time).
    *
    * Returns (node, dist).
    */
  def bfsDistances(edges: DataFrame, sources: DataFrame, rounds: Int)
      : DataFrame = {
    require(rounds >= 1, s"rounds must be >= 1, got $rounds")
    val und = edges
      .select(least(col("src"), col("dst")).as("u"),
        greatest(col("src"), col("dst")).as("v"))
      .filter(col("u") =!= col("v")).distinct()
    val adj = und.select(col("u").as("a"), col("v").as("b"))
      .unionAll(und.select(col("v").as("a"), col("u").as("b")))
      .pin()
    var settled = sources.select(col("node")).distinct()
      .withColumn("dist", lit(0L)).pin()
    var frontier = settled
    for (r <- 1 to rounds) {
      val nxt = adj
        .join(frontier.select(col("node").as("a")), Seq("a"))
        .select(col("b").as("node")).distinct()
        .join(settled.select("node"), Seq("node"), "left_anti")
        .withColumn("dist", lit(r.toLong))
        .pin()
      frontier = nxt
      settled = settled.unionAll(nxt).pin()
    }
    settled
  }

  /** SYNCHRONOUS label-propagation communities (Raghavan et al. 2007,
    * made deterministic): labels start as node ids; each round every
    * node adopts the most frequent label among its neighbors, ties
    * broken by the LEXICOGRAPHICALLY SMALLEST label — synchronous
    * updates + a total tie order make the whole run a pure function of
    * the graph, so an oracle replays it round-by-round (asynchronous /
    * random-tie LPA, the usual formulation, is unreproducible by
    * construction). `rounds` is fixed; dense communities converge in
    * O(diameter) rounds.
    *
    * Scale shape per round: one join of the adjacency against the
    * label table + one (node, label) count aggregate + a per-node
    * window argmax — all key-partitioned. Lineage is cut per round
    * with localCheckpoint (the [[kCore]] lesson; runs `rounds` jobs at
    * call time).
    *
    * Returns (node, lbl) after `rounds` rounds.
    */
  def labelPropagation(edges: DataFrame, rounds: Int): DataFrame = {
    require(rounds >= 1, s"rounds must be >= 1, got $rounds")
    val und = edges
      .select(least(col("src"), col("dst")).as("u"),
        greatest(col("src"), col("dst")).as("v"))
      .filter(col("u") =!= col("v")).distinct()
    val adj = und.select(col("u").as("a"), col("v").as("b"))
      .unionAll(und.select(col("v").as("a"), col("u").as("b")))
      .pin()
    var labels = adj.select(col("a").as("node")).distinct()
      .withColumn("lbl", col("node"))
    val w = Window.partitionBy("a").orderBy(desc("cnt"), asc("lbl"))
    for (_ <- 1 to rounds)
      labels = adj
        .join(labels.select(col("node").as("b"), col("lbl")), Seq("b"))
        .groupBy("a", "lbl").agg(count(lit(1)).as("cnt"))
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1)
        .select(col("a").as("node"), col("lbl"))
        .pin()
    labels
  }

  /** Degree ASSORTATIVITY coefficient (Newman 2002) — the Pearson
    * correlation of endpoint degrees over the edge list: positive =
    * hubs link to hubs (social nets), negative = hubs link to leaves
    * (tech/biological nets). The standard one-number mixing
    * diagnostic next to [[modularity]].
    *
    * Computed over the simple undirected graph with each edge counted
    * in BOTH orientations (the symmetric convention, so x- and y-
    * marginals coincide). DETERMINISM: degrees and the five moment
    * sums are BIGINT-exact on any partitioning; the n·Sxy − Sx·Sy
    * combination fixes to DECIMAL(38,0) (degree sums of squares wrap
    * BIGINT past ~10⁶ average degree); r is ONE IEEE expression.
    * Degree-regular graphs (zero variance) read null.
    *
    * SCALE SHAPE: edge dedup + one degree aggregate + two endpoint
    * equi-joins + a 1-row fold. Returns (n_edges, r).
    */
  def assortativity(edges: DataFrame): DataFrame = {
    val und = edges
      .select(least(col("src"), col("dst")).as("u"),
        greatest(col("src"), col("dst")).as("v"))
      .filter(col("u") =!= col("v")).distinct()
    val adj = und.select(col("u").as("a"), col("v").as("b"))
      .unionAll(und.select(col("v").as("a"), col("u").as("b")))
    val deg = adj.groupBy(col("a").as("n")).agg(count(lit(1)).as("deg"))
    adj
      .join(deg.select(col("n").as("a"), col("deg").as("dx")), Seq("a"))
      .join(deg.select(col("n").as("b"), col("deg").as("dy")), Seq("b"))
      .agg(count(lit(1)).as("n"),
        sum(col("dx")).as("sx"), sum(col("dy")).as("sy"),
        sum(col("dx") * col("dy")).as("sxy"),
        sum(col("dx") * col("dx")).as("sxx"),
        sum(col("dy") * col("dy")).as("syy"))
      .select(expr("n div 2").as("n_edges"),
        expr("cast(n as decimal(38,0)) * sxy - " +
          "cast(sx as decimal(38,0)) * sy").as("cov"),
        expr("cast(n as decimal(38,0)) * sxx - " +
          "cast(sx as decimal(38,0)) * sx").as("vx"),
        expr("cast(n as decimal(38,0)) * syy - " +
          "cast(sy as decimal(38,0)) * sy").as("vy"))
      .select(col("n_edges"),
        when(col("vx") > 0 && col("vy") > 0,
          round(expr("cast(cov as double) / (sqrt(cast(vx as double)) " +
            "* sqrt(cast(vy as double)))"), 6)).as("r"))
  }

  /** Newman–Girvan MODULARITY of a node labeling (Newman 2006) — the
    * standard quality score for a community assignment (e.g.
    * [[labelPropagation]]'s): over the simple undirected graph,
    *
    *   Q = Σ_c [ e_c/m − (deg_c / 2m)² ]
    *
    * with m the edge count, e_c the edges INSIDE community c, deg_c
    * the community's degree mass. Q ∈ [−½, 1); ~0 means the labeling
    * is no better than random, dense well-separated communities score
    * high.
    *
    * DETERMINISM: each contribution is the exact rational
    * (4m·e_c − deg_c²) / 4m² — numerators combine in DECIMAL(38,0)
    * (deg_c² wraps BIGINT once deg_c exceeds ~3·10⁹, plausible at
    * claimed scale), ONE double division per community, round(,6).
    *
    * SCALE SHAPE: edge dedup + two label equi-joins on the endpoint
    * keys + two hash aggregates keyed by community; the 1-row m frame
    * broadcasts. Output is |communities| rows — aggregate-sized.
    * Unlabeled endpoints drop (inner joins): scores the labeled
    * subgraph, callers wanting strict coverage assert it upstream.
    *
    * Returns (lbl, n_nodes, e_inside, deg_sum, dq) ordered by lbl;
    * Q = Σ dq.
    */
  def modularity(edges: DataFrame, labels: DataFrame): DataFrame = {
    val und = edges
      .select(least(col("src"), col("dst")).as("u"),
        greatest(col("src"), col("dst")).as("v"))
      .filter(col("u") =!= col("v")).distinct()
    val lbl = labels.select(col("node"), col("lbl"))
    val lu = und
      .join(lbl.select(col("node").as("u"), col("lbl").as("cu")),
        Seq("u"))
      .join(lbl.select(col("node").as("v"), col("lbl").as("cv")),
        Seq("v"))
    // m counts the LABELED subgraph's edges, so e_c/deg_c/m agree
    val m = lu.agg(count(lit(1)).as("m"))
    val inside = lu.filter(col("cu") === col("cv"))
      .groupBy(col("cu").as("lbl")).agg(count(lit(1)).as("e_inside"))
    val degC = lu
      .select(explode(array(col("cu"), col("cv"))).as("lbl"))
      .groupBy("lbl").agg(count(lit(1)).as("deg_sum"))
    val nodesC = lbl.groupBy("lbl").agg(count(lit(1)).as("n_nodes"))
    nodesC
      .join(degC, Seq("lbl"), "left").na.fill(0L, Seq("deg_sum"))
      .join(inside, Seq("lbl"), "left").na.fill(0L, Seq("e_inside"))
      .crossJoin(broadcast(m))
      .select(col("lbl"), col("n_nodes"), col("e_inside"), col("deg_sum"),
        round(expr(
          "cast(4 * cast(m as decimal(38,0)) * e_inside - " +
            "cast(deg_sum as decimal(38,0)) * deg_sum as double) / " +
          "(4.0D * cast(m as double) * cast(m as double))"), 6).as("dq"))
      .orderBy("lbl")
  }

  /** ADAMIC–ADAR link prediction (Adamic & Adar 2003): score each
    * non-adjacent node pair by its shared neighbors, weighting each
    * shared neighbor z by 1/ln(deg(z)) — a rare mutual contact says
    * more than a hub. `common_neighbors` rides along as the unweighted
    * baseline. Returns the top `k` predicted links.
    *
    * Scale shape: wedges are generated by a self-join of the adjacency
    * on the CENTER node, which costs Σ deg(z)² — so centers with
    * deg > `maxDegree` are excluded up front (the hub cap; same
    * quadratic-guard philosophy as the df cap in Dedup.jaccardAllPairs,
    * and the same consistency rule: both scores count only capped-
    * universe neighbors, so numerator and weighting agree). The
    * existing-edge anti-join and the degree join are hash equi-joins;
    * the final cut is one TakeOrdered.
    *
    * DETERMINISM: each wedge term 1/ln(deg z) is rounded to 9 decimals
    * and summed as DECIMAL(24,9) (exact, order-independent — the
    * a_correlation/a_chi2 recipe), so the rounded score and the
    * (score, x, y) top-k cut replay identically on any engine. A
    * center's degree is ≥ 2 by construction (it touches both wedge
    * ends), so ln(deg) > 0.
    */
  def linkPrediction(edges: DataFrame, maxDegree: Long, k: Int)
      : DataFrame = {
    val und = edges.select(col("src").as("a"), col("dst").as("b"))
      .unionByName(edges.select(col("dst").as("a"), col("src").as("b")))
      .filter(col("a") =!= col("b")).distinct()
    val deg = und.groupBy(col("b").as("z")).agg(count(lit(1)).as("deg"))
    val adj = und.join(deg.where(col("deg") <= maxDegree), col("b") === col("z"))
      .select(col("a"), col("b"), col("deg"))
    val wedges = adj.as("l").join(adj.as("r"),
        col("l.b") === col("r.b") && col("l.a") < col("r.a"))
      .select(col("l.a").as("x"), col("r.a").as("y"),
        round(lit(1.0) / log(col("l.deg").cast("double")), 9)
          .cast(org.apache.spark.sql.types.DecimalType(24, 9)).as("term"))
    wedges.groupBy("x", "y")
      .agg(count(lit(1)).as("common_neighbors"),
        sum("term").as("__aa"))
      .join(und.select(col("a").as("x"), col("b").as("y")),
        Seq("x", "y"), "left_anti")
      .select(col("x"), col("y"), col("common_neighbors"),
        round(col("__aa").cast("double"), 6).as("adamic_adar"))
      .orderBy(col("adamic_adar").desc, col("x"), col("y"))
      .limit(k)
  }
}
