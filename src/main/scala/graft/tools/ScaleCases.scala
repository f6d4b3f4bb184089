package graft.tools

import org.apache.spark.sql.{DataFrame, Dataset, Row, SparkSession}
import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK

import graft.ops._
import graft.ops.Pins.PinSyntax
import graft.queries.{Scratch, Tables}
import graft.sources.{WarcSource, Wiki, Wikidata}
import graft.tools.Scale._

/** The [[Scale]] case table. Every case reads its base tables from
  * `dir` through `spark`, so a test can run it on any sf directory.
  *
  * Families (one per operator wave, each with its default scales):
  *  - skew and near-dup: MinHash LSH + clustering over token-renamed
  *    docs with a planted diameter-64 chain, embedding near-dup + IVFADC
  *    over exact copies (the hot-bucket shape), a salted join with a
  *    planted hot key, substring dup with one corpus-wide boilerplate
  *    window, a fuzzy join with a planted hot q-gram, and triangles with
  *    a planted degree-10⁴ hub;
  *  - wave 4: BPE, heavy hitters, BM25, sample quantiles, k-core,
  *    label propagation and BFS;
  *  - record linkage: entity resolution and SCD2 + as-of join;
  *  - event analytics: funnel, retention, gap-fill, anomaly, active
  *    users, interval merge and transitions over user-disjoint copies;
  *  - insights: basket rules, item CF, prefix Jaccard, equi-depth
  *    histogram, Kaplan–Meier and Markov attribution;
  *  - semantic dedup over dimension-rotated embedding copies;
  *  - stats: logistic Newton and IRLS, Fisher, Kendall, Theil–Sen,
  *    ACF, k-center, PCA power and debias;
  *  - text models: χ² terms, TF-IDF neighbors and substring removal;
  *  - curation: token budget, source interleave, LM filter, line dedup,
  *    incremental near-dup, perplexity buckets, Gopher rules and the
  *    persisted PQ index append;
  *  - corpus ingest: wiki-XML, WARC and Wikidata dumps of k synthetic
  *    units with planted defects, through each ingest pipeline.
  */
object ScaleCases {

  private def asIs[D]: (Int, D) => D = (_, d) => d
  private val noClosedForm: (Int, Any, Any) => Unit = (_, _, _) => ()

  def all(spark: SparkSession, dir: String): Seq[ScaleCase[_, _]] = {
    import spark.implicits._
    val S50 = Seq(1, 10, 50)

    lazy val docs0 = spark.read.parquet(s"$dir/documents.parquet")
      .select("doc_id", "text")
    lazy val emb0 = spark.read.parquet(s"$dir/embeddings.parquet")
      .select("vec_id", "embedding")
    lazy val part0 = spark.read.parquet(s"$dir/part.parquet")
    lazy val li0 = spark.read.parquet(s"$dir/lineitem.parquet")
    lazy val ev0 = Tables.events(spark, dir)
      .select("user_id", "event_id", "event_type", "ts_us", "value")

    // ======================= skew and near-dup =======================

    /** Diameter-64 near-dup chain: doc k = tokens [10k, 10k+200) of a
      * synthetic stream; consecutive docs share 190/210 ≈ 0.90 Jaccard,
      * k and k+2 only ≈ 0.82 — still caught; the chain's ENDS are
      * unrelated, so only propagation can label it one cluster.
      */
    lazy val chain = spark.range(0, 65)
      .select((col("id") + 900000000L).as("doc_id"),
        expr("concat_ws(' ', transform(sequence(id * 10, id * 10 + 199), " +
          "j -> concat('tk', cast(j as string))))").as("text"))

    val lsh = ScaleCase[DataFrame, Long]("d_lsh_neardup", S50,
      k => renamedDocs(docs0, k), (_, d) => d.unionByName(chain),
      (k, d) => cached(d) { (sd, nDocs) =>
        // the plan form is LAZY: the count inside the timed block is
        // what materializes the pipeline; the cleanup drops the cached
        // shingle table once pairs are cached, so later scales don't
        // run under this scale's cache residue
        val (lshResult, lshCleanup) = Dedup.minhashLshPlan(sd, 3, 8, 4,
          0.5)
        val pairs = lshResult.persist(MEMORY_AND_DISK)
        val (nPairs, lshSec) = timed(pairs.count())
        lshCleanup()
        emit("d_lsh_neardup", k, lshSec, "n_docs" -> nDocs,
          "n_pairs" -> nPairs)
        // pointer-doubling clustering over the discovered pairs (the
        // planted chain's diameter-64 component rides along)
        val ((nLabeled, rounds, chainLabels), clSec) = timed {
          val (c, r) = Dedup.clustersWithRounds(
            pairs.select("doc_a", "doc_b"))
          (c.count(), r, c.filter(col("doc_id") >= 900000000L)
            .select("cluster").distinct().count())
        }
        emit("d_neardup_clusters", k, clSec, "n_labeled" -> nLabeled,
          "rounds" -> rounds.toLong)
        pairs.unpersist()
        chainLabels
      },
      (k, chainLabels, _) => assert(chainLabels == 1L,
        s"planted chain split into $chainLabels clusters at $k"))

    // embedding near-dup pairs over EXACT copies (hot-bucket skew;
    // maxBucket narrowed so the cap demonstrably engages at 10×/50×),
    // then a full IVFADC train (coarse quantizer + codebooks) + search
    val embNd = ScaleCase[DataFrame, Long]("sim_neardup_pairs", S50,
      k => replicas(k)(i => shiftIds(emb0, i, "vec_id" -> 10000000L)), asIs,
      (k, d) => cached(d) { (se, nVecs) =>
        val (nNd, ndSec) = timed {
          Similarity.cosineNearDupPairsLsh(se, 0.45, maxBucket = 256,
            dims = 64).count()
        }
        emit("sim_neardup_pairs", k, ndSec, "n_vecs" -> nVecs,
          "n_pairs" -> nNd)
        val (nIvf, ivfSec) = timed {
          val cells = Similarity.kmeansCells(se, 8, 2)
          val (books, asg) = Pq.train(se, 64, 4, 8, 2)
          Pq.ivfAdcTopK(se.filter(col("vec_id") < 5), books, asg,
            cells, 64, 4, 2, 5).count()
        }
        emit("sim_ivfpq_topk", k, ivfSec, "n_vecs" -> nVecs,
          "n_out" -> nIvf)
        nIvf
      },
      // copy 0 is unshifted at every k: the same 5 queries, 5 each
      (k, nOut, base) => assert(nOut == base,
        s"IVFADC returned $nOut rows at $k, $base at 1"))

    // salted skew join: 1% of probe rows funneled onto one hot user;
    // the per-user build side joins without a hot partition. Only the
    // two key columns are named, so the scan never touches `ts` (whose
    // physical type varies across driver generations).
    lazy val keys0 = spark.read.schema("event_id BIGINT, user_id BIGINT")
      .parquet(s"$dir/events.parquet").select("event_id", "user_id")
    val salted = ScaleCase[DataFrame, Long]("j_salted_join", S50,
      k => replicas(k)(i => shiftIds(keys0, i, "event_id" -> 10000000L)),
      (_, d) => d.select(col("event_id"),
        when(col("event_id") % 100 === 0, 424242L)
          .otherwise(col("user_id")).as("user_id")),
      (k, pe) => {
        val dim = pe.select("user_id").distinct()
          .withColumn("seg", pmod(col("user_id"), lit(7L)))
        val (nJ, jSec) = timed {
          Skew.saltedJoin(pe, dim, Seq("user_id"), col("event_id"), 32)
            .count()
        }
        emit("j_salted_join", k, jSec, "n_probe" -> nJ)
        nJ
      },
      // every probe row joins exactly its user's one build row
      (k, n, base) => assert(n == k * base,
        s"salted join emitted $n rows at $k, not $k × $base"))

    // substring-level exact dup with ONE boilerplate window shared
    // CORPUS-WIDE: every 10th doc (across all copies — the bp tokens
    // carry no copy suffix) ends with the same 25-token block, so its
    // 20-token windows form single aggregate groups with ~n/10
    // occurrences each. The defense claim under test: a hot window is
    // one GROUP (never a join blowup), so time must stay ~linear while
    // the hot groups grow linearly.
    val boiler25 = (1 to 25).map(j => s"bp$j").mkString(" ")
    val substr = ScaleCase[DataFrame, Long]("d_substring_dup", S50,
      k => renamedDocs(docs0, k),
      (_, d) => d.withColumn("text", when(col("doc_id") % 10 === 0,
        concat(col("text"), lit(" " + boiler25))).otherwise(col("text"))),
      (k, d) => cached(d) { (sdd, nSubIn) =>
        val (nSub, subSec) = timed {
          Dedup.substringDupStats(sdd, 20).count()
        }
        emit("d_substring_dup", k, subSec, "n_docs" -> nSubIn,
          "n_docs_dup" -> nSub)
        nSub
      },
      // renamed copies share only the boilerplate, which every copy
      // already repeats, so each copy's dup docs are exactly the base's
      (k, n, base) => assert(n == k * base,
        s"substring dup docs $n at $k, not $k × $base"))

    // fuzzy join with a HOT q-gram: every target name ends with the
    // planted " zzzz" tail, so its trigrams " zz" and "zzz" sit in EVERY
    // target at every scale (copy i ≥ 1 also carries a " v{i}" tag,
    // which no k makes universal) — rarest-prefix blocking must keep
    // them OUT of prefixes (no candidate flood) while recall at the
    // edit bound holds, so the prefix scheme must match exactly what
    // the recall-exact segment scheme matches. (This soak caught the
    // previous absolute df-cap design dropping EVERY gram at 10× —
    // n_matches was 0.)
    val hotTail = " zzzz"
    val fuzzy = ScaleCase[DataFrame, (Long, Long, Long, Long)](
      "j_fuzzy_names", S50,
      k => replicas(k)(i => shiftIds(part0.select(col("p_partkey").as("t_key"),
        concat(col("p_name"), lit(if (i == 0) "" else s" v$i")).as("t_name")),
        i, "t_key" -> 10000000L)),
      (_, d) => d.withColumn("t_name", concat(col("t_name"), lit(hotTail))),
      (k, d) => cached(d) { (targets, nTargets) =>
        val probes = part0.filter(col("p_partkey") < 500)
          .select(col("p_partkey").as("q_key"),
            concat(substring(col("p_name"), 1, 2),
              expr("substring(p_name, 4)"), lit(hotTail)).as("q_name"))
        val nHotGrams = Fuzzy.grams(targets, "t_key", "t_name", 3)
          .groupBy("gram").agg(count(lit(1)).as("df"))
          .filter(col("df") === nTargets).count()
        def join(blocking: String) = timed {
          Fuzzy.fuzzyJoin(probes, "q_key", "q_name", targets, "t_key",
            "t_name", maxDist = 1, blocking = blocking).count()
        }
        val (nFz, fzSec) = join("segment")
        val (nPrefix, prefixSec) = join("prefix")
        emit("j_fuzzy_names", k, fzSec, "n_targets" -> nTargets,
          "n_matches" -> nFz, "n_hot_grams" -> nHotGrams,
          "n_matches_prefix" -> nPrefix, "prefix_sec" -> secs(prefixSec))
        (nTargets, nFz, nPrefix, nHotGrams)
      },
      // probes carry copy 0's untagged name after one deletion, so
      // every target of copy i ≥ 1 is at least two edits away
      (k, o, base) => {
        assert((o._1, o._2) == ((k * base._1, base._2)),
          s"fuzzy (targets, matches) ${(o._1, o._2)} at $k vs " +
            s"${(base._1, base._2)} at 1")
        assert(o._3 == o._2,
          s"prefix blocking matched ${o._3}, segment ${o._2} at $k")
        assert(o._4 == hotTail.sliding(3).toSet.size.toLong,
          s"${o._4} grams in every target at $k, not the planted tail's")
      })

    // degree-oriented triangle counting with a PLANTED degree-10⁴ hub:
    // star edges into one node plus a closing path through its
    // neighborhood (9,999 hub triangles), over ×k pseudo-random base
    // copies. Orientation points every hub edge INTO the hub, so the
    // hub generates ZERO wedges — naive pivoting there would be 5·10⁷
    // wedges; time must track the base-copy count, not the hub. The
    // multiply-mod base copies are a function of id mod 20 k and close
    // no triangle, so the count is the hub's alone.
    val hubDeg = 10000L
    val triangles = ScaleCase[DataFrame, Long]("g_triangles", S50,
      k => replicas(k)(i => spark.range(0, 200000).select(
        (pmod(col("id") * 2654435761L, lit(20000L)) + i * 10000000L)
          .as("src"),
        (pmod(col("id") * 40503L + 7L, lit(20000L)) + i * 10000000L)
          .as("dst"))),
      (_, base) => base
        .unionByName(spark.range(0, hubDeg)
          .select(lit(999999999L).as("src"), (col("id") + 5000000L).as("dst")))
        .unionByName(spark.range(0, hubDeg - 1)
          .select((col("id") + 5000000L).as("src"),
            (col("id") + 5000001L).as("dst"))),
      (k, edges) => {
        val (nTri, triSec) = timed {
          Graph.triangleCount(edges).head().getLong(0)
        }
        emit("g_triangles", k, triSec, "triangles" -> nTri,
          "hub_degree" -> hubDeg)
        nTri
      },
      (k, nTri, _) => assert(nTri == hubDeg - 1,
        s"triangles $nTri at $k, planted hub closes ${hubDeg - 1}"))

    // ============================ wave 4 ============================

    // BPE merge learning: the renaming makes the word VOCABULARY grow
    // ~31·k, so the per-round pair-count input grows too — the claim
    // under test is that the one corpus-wide word-count aggregate
    // dominates and the 8 rounds ride the vocab-size table (time tracks
    // corpus bytes, not rounds × corpus). BM25: corpus-scale retrieval
    // (explode + per-doc aggregate + 1-row stats frame) — time must
    // track tokens scanned.
    val bpe = ScaleCase[DataFrame, Unit]("m_bpe_merges", S50,
      k => renamedDocs(docs0, k), asIs,
      (k, d) => cached(d) { (sd, nDocs) =>
        val ((nMerges, topCnt), bpeSec) = timed {
          val m = Bpe.learnMerges(sd, 8).collect()
          (m.length.toLong, m.map(_.getLong(3)).max)
        }
        emit("m_bpe_merges", k, bpeSec, "n_docs" -> nDocs,
          "n_merges" -> nMerges, "top_merge_cnt" -> topCnt)
        // copy-0 terms; the cost is the corpus-wide token explode +
        // per-doc aggregate either way
        val (nTop, bmSec) = timed {
          TextModels.bm25TopK(sd, Seq("hashx0", "joinx0", "streamx0"), 10)
            .collect().length.toLong
        }
        emit("m_bm25_topk", k, bmSec, "n_docs" -> nDocs, "n_top" -> nTop)
      }, noClosedForm)

    // heavy hitters with a planted corpus-wide token: 'grafthot' on
    // every 3rd doc (~6‰ of occurrences at every scale); base tokens
    // dilute below 5‰ past ~7× — the planted key must be found with its
    // EXACT count while the key universe grows ~linearly; the defense
    // is that the exact-count shuffle carries only sampled candidates
    val hitters = ScaleCase[DataFrame, (Long, Long)]("a_heavy_hitters", S50,
      k => renamedDocs(docs0, k),
      (_, d) => d.withColumn("text", when(col("doc_id") % 3 === 0,
        concat(col("text"), lit(" grafthot"))).otherwise(col("text"))),
      (k, hh) => {
        val tk = hh.select(col("doc_id"),
          posexplode(expr(Hashing.tokensSql)).as(Seq("pos", "tok")))
        val nUniverse = tk.select("tok").distinct().count()
        val (hits, hhSec) = timed {
          Sampling.heavyHitters(tk, "tok",
            concat(col("doc_id").cast("string"), lit(":"),
              col("pos").cast("string")), 5, 8, 10L).collect()
        }
        val hotCnt = hits.find(_.getString(0) == "grafthot")
          .map(_.getLong(1)).getOrElse(-1L)
        emit("a_heavy_hitters", k, hhSec, "n_universe" -> nUniverse,
          "n_hitters" -> hits.length.toLong, "hot_cnt" -> hotCnt)
        (hotCnt, hh.filter(col("doc_id") % 3 === 0).count())
      },
      (k, o, _) => assert(o._1 == o._2,
        s"planted hitter count ${o._1} at $k, planted on ${o._2} docs"))

    // sample quantiles: bottom-k sampling over lineitem ×k — copies
    // preserve the value distribution, so the median ESTIMATE must be
    // ~scale-invariant while the scan grows; k stays 2000 everywhere
    val quantiles = ScaleCase[DataFrame, Unit]("a_sample_quantiles", S50,
      k => replicas(k)(i => shiftIds(li0.select(col("l_orderkey").as("k1"),
        col("l_linenumber").as("k2"), col("l_extendedprice").as("v")), i,
        "k1" -> 100000000L)), asIs,
      (k, sli) => {
        val (medCents, sqSec) = timed {
          val r = Rank.sampleQuantiles(sli, "v",
            concat(col("k1").cast("string"), lit(":"),
              col("k2").cast("string")),
            Seq(asc("k1"), asc("k2")), 2000, Seq(0.5)).collect()(0)
          (r.getDouble(1) * 100).round
        }
        emit("a_sample_quantiles", k, sqSec, "median_cents" -> medCents)
      }, noClosedForm)

    // iterative graph ops over ×k Erdős–Rényi-ish copies: 20 k nodes,
    // 200 k xxhash64-random edges per copy (avg degree ~20, so the
    // 8-core retains ~all of each copy — Poisson(20) puts <1 % of nodes
    // under degree 8), copies node-disjoint. NOTE: a multiply-mod
    // generator (as in the triangle base) would be WRONG here —
    // (a·i mod n, b·i mod n) is a function of i mod n, so 200 k rows
    // collapse to 20 k distinct degree-2 edges and the whole graph
    // peels away, making the core observable vacuous. Both ops cut
    // lineage per round — the claim under test is that time is
    // rounds × (join + aggregate) and tracks edge count, with no
    // plan-size blowup at any scale.
    val graphs = ScaleCase[DataFrame, (Long, Long, Long)]("g_kcore", S50,
      k => replicas(k)(i => spark.range(0, 200000).select(
        (pmod(xxhash64(col("id"), lit(i)), lit(20000L)) + i * 10000000L)
          .as("src"),
        (pmod(xxhash64(col("id") + 777L, lit(i + 999)), lit(20000L)) +
          i * 10000000L).as("dst"))),
      // planted 64-node path: every interior node has degree 2 < 8, so
      // the whole path must vanish from the 8-core while the dense
      // base survives
      (_, base) => base.unionByName(spark.range(0, 64)
        .select((col("id") + 800000000L).as("src"),
          (col("id") + 800000001L).as("dst"))),
      (k, ge) => {
        val (coreObs, kcSec) = timed {
          Graph.kCore(ge, 8, 8).agg(count(lit(1)).as("n"),
            sum(when(col("node") >= 800000000L, 1L).otherwise(0L))
              .as("path")).head()
        }
        emit("g_kcore", k, kcSec, "n_core" -> coreObs.getLong(0),
          "n_path_in_core" -> coreObs.getLong(1))
        val (nComm, lpSec) = timed {
          Graph.labelPropagation(ge, 4).select("lbl").distinct().count()
        }
        emit("g_label_prop", k, lpSec, "n_communities" -> nComm)
        // bounded multi-source BFS from the path head + copy-0 node 0:
        // the planted path is closed-form (exactly rounds+1 = 9 path
        // nodes reached, dist i at node head+i); the dense side floods
        // ~all of copy 0 and NOTHING of the node-disjoint other copies,
        // so n_reached is the same at every k while the per-round
        // adjacency join scans k× the edges
        val bfsSrcs = spark.range(0, 2)
          .select(when(col("id") === 0, 800000000L).otherwise(0L)
            .as("node"))
        val (bfsObs, bfsSec) = timed {
          Graph.bfsDistances(ge, bfsSrcs, 8).agg(count(lit(1)).as("n"),
            sum(when(col("node") >= 800000000L, 1L).otherwise(0L))
              .as("pathn"), max(col("dist")).as("maxd")).head()
        }
        emit("g_bfs_dist", k, bfsSec, "n_reached" -> bfsObs.getLong(0),
          "n_path_reached" -> bfsObs.getLong(1),
          "max_dist" -> bfsObs.getLong(2))
        (coreObs.getLong(1), bfsObs.getLong(0), bfsObs.getLong(1))
      },
      (k, o, base) => {
        assert(o._1 == 0L, s"planted path in the 8-core at $k: ${o._1}")
        assert(o._3 == 9L, s"BFS reached ${o._3} path nodes at $k, not 9")
        // copy 0's edges are the same at every k
        assert(o._2 == base._2,
          s"BFS reached ${o._2} nodes at $k, ${base._2} at 1")
      })

    // ========================= record linkage =========================

    // entity resolution (segment blocking): part names token-renamed
    // per copy, so the DISTINCT-name universe grows ~linearly while
    // names across copies share no aligned segment — segment-blocking
    // candidate counts must grow ~LINEARLY (the prefix-gram scheme this
    // replaced grew quadratically: 35.2 M pairs from 21 k records).
    // Planted per copy: a duplicate FAMILY around part 1's name (3
    // single-char deletions + 3 substitutions at base-letter positions
    // — every member shares nearly every gram with every other, the
    // worst case for gram blocking) that must resolve into ONE entity
    // PER COPY, plus the full record-level duplicate mass (every name
    // repeats across ~300 records) that dedup-first keeps out of the
    // blocking universe.
    lazy val names0 = part0
      .select(col("p_partkey").as("rec_id"), col("p_name").as("name"))
    def renamedNames(k: Int, src: DataFrame, extra: Long): DataFrame =
      replicas(k)(i => shiftIds(src, i, "rec_id" -> 100000000L)
        .withColumn("rec_id", col("rec_id") + extra)
        .withColumn("name", suffixTokens(col("name"), s"x$i")))
    val er = ScaleCase[DataFrame, (Long, Long)]("pipe_entity_resolution",
      S50, k => renamedNames(k, names0, 0L),
      (k, records) => {
        val familySeed =
          renamedNames(k, names0.filter(col("rec_id") === 1), 89999999L)
        // variants edit only positions 1..3 — base letters of the first
        // word (every color word has >= 3 chars), never the copy
        // suffix: edits there would create GENUINE distance-1 pairs
        // across copies and merge the per-copy families (measured)
        val p = spark.range(1, 4).select(col("id").as("p"))
        val delVars = familySeed.crossJoin(p)
          .select((col("rec_id") + col("p")).as("rec_id"),
            concat(expr("substring(name, 1, cast(p as int) - 1)"),
              expr("substring(name, cast(p as int) + 1)")).as("name"))
        val subVars = familySeed.crossJoin(p)
          .select((col("rec_id") + col("p") + 10L).as("rec_id"),
            concat(expr("substring(name, 1, cast(p as int) - 1)"),
              lit("q"), expr("substring(name, cast(p as int) + 1)"))
              .as("name"))
        records.unionByName(familySeed).unionByName(delVars)
          .unionByName(subVars)
      },
      (k, d) => cached(d) { (all, nRecords) =>
        val names = all.select("name").distinct()
        val nNames = names.count()
        // blocking-cost observable: distinct candidate pairs (includes
        // the n_names identity self-pairs) — must grow ~linearly
        val (nCands, candSec) = timed {
          Fuzzy.candidatePairs(names, "name", names, "name", 1).count()
        }
        // the family component in copy i holds part 1's record (key
        // i·10⁸+1 — the component MINIMUM, hence its entity_id), every
        // record sharing its renamed name, the seed and the 6 variants
        val ((nEntities, nFam, famMin), resSec) = timed {
          val ent = EntityResolution.resolve(all, "rec_id", "name", 1)
            .persist(MEMORY_AND_DISK)
          val n = ent.count()
          val famRows = ent.filter(col("entity_id") % 100000000L === 1L)
            .agg(count(lit(1)).as("n_fam"),
              min("n_members").as("min_members")).head()
          ent.unpersist()
          (n, famRows.getLong(0),
            if (famRows.isNullAt(1)) -1L else famRows.getLong(1))
        }
        emit("pipe_entity_resolution", k, resSec, "n_records" -> nRecords,
          "n_names" -> nNames, "n_cands" -> nCands,
          "cand_ms" -> (candSec * 1000).round, "n_entities" -> nEntities,
          "n_family_entities" -> nFam, "family_members_min" -> famMin)
        (nFam, famMin)
      },
      (k, o, _) => {
        assert(o._1 == k, s"${o._1} family entities at $k, not one per copy")
        assert(o._2 >= 8L, s"a planted family holds only ${o._2} records")
      })

    // SCD2 + temporal as-of join: per copy, 2 000 entities × 5 versions
    // at deterministic timestamps (version v live over [v·1000,
    // (v+1)·1000)) plus ONE HOT entity with 10 000 versions; facts
    // probe t = v·1000 + 500, so the version each fact must resolve to
    // is closed-form. The claim under test: the as-of union+window
    // shape is one sort per key (hot key = 2·10⁴-row sort), never the
    // per-key |facts|×|versions| blowup an interval join would pay.
    val nEnt = 2000L
    val verPerEnt = 5L
    val hotVersions = 10000L
    val scd = ScaleCase[(DataFrame, DataFrame), (Long, Long)](
      "j_scd2_dimension", S50,
      k => (replicas(k)(i => shiftIds(spark.range(0, nEnt * verPerEnt).select(
          (col("id") % nEnt).as("entity_id"),
          (expr(s"(id div $nEnt) + 1") * 1000L).as("ts"),
          (col("id") + 10L).as("change_id"),
          expr(s"(id div $nEnt) + 1").as("payload")),
          i, "entity_id" -> 1000000L)),
        replicas(k)(i => shiftIds(spark.range(0, nEnt * verPerEnt).select(
          (col("id") + 1000000000L).as("fact_id"),
          (col("id") % nEnt).as("entity_id"),
          (expr(s"(id div $nEnt) + 1") * 1000L + 500L).as("ts"),
          expr(s"(id div $nEnt) + 1").as("expect_version")),
          i, "entity_id" -> 1000000L))),
      (k, d) => (d._1.unionByName(replicas(k)(i => shiftIds(
          spark.range(1, hotVersions + 1).select(
            lit(999999L).as("entity_id"), (col("id") * 1000L).as("ts"),
            (col("id") + 50000000L).as("change_id"),
            col("id").as("payload")), i, "entity_id" -> 1000000L))),
        d._2.unionByName(replicas(k)(i => shiftIds(
          spark.range(1, hotVersions + 1).select(
            (col("id") + 2000000000L).as("fact_id"),
            lit(999999L).as("entity_id"), (col("id") * 1000L + 500L).as("ts"),
            col("id").as("expect_version")), i, "entity_id" -> 1000000L)))),
      (k, d) => {
        val (changes, facts) = d
        val ((nJoined, nMismatch), scdSec) = timed {
          val dim = Scd.scd2(changes, "entity_id", "ts", "change_id")
            .select(col("entity_id"), col("ts"), col("change_id"),
              col("version"), col("payload").as("dim_payload"))
          val r = AsOf.asofJoin(facts, dim, "entity_id", "ts", "change_id",
              Seq("version", "dim_payload"))
            .agg(count(lit(1)).as("n"),
              sum(when(col("version").isNull ||
                col("version") =!= col("expect_version"), 1L)
                .otherwise(0L)).as("bad")).head()
          (r.getLong(0), r.getLong(1))
        }
        emit("j_scd2_dimension", k, scdSec,
          "n_changes" -> (k * (nEnt * verPerEnt + hotVersions)),
          "n_facts" -> nJoined, "n_mismatch" -> nMismatch)
        (nJoined, nMismatch)
      },
      (k, o, _) => assert(o == ((k * (nEnt * verPerEnt + hotVersions), 0L)),
        s"as-of join (facts, mismatches) $o at $k"))

    // ======================== event analytics ========================

    // Copies are user-disjoint with UNCHANGED timestamps, so every
    // per-user pattern repeats in each copy: funnel reach, retention
    // cells, active-user cells, merged intervals and transition cells
    // are EXACTLY k × the base (shapes unchanged). Planted once,
    // outside the copies: a gap key with events only on day 0 (mean
    // 10.0) and day 9 (40.0), so days 1–8 fill with n=0 / 10.0; and an
    // anomaly key alternating 2/4 events per day with a 50-event day 20
    // that must flag day 20 with the SAME rounded z at every scale.
    val DayUs = 86400000000L
    val steps = Seq("signup", "click", "purchase")
    def funnelOf(e: DataFrame) = EventAnalytics.funnel(e, steps)
      .select("step", "n_users").as[(Long, Long)].collect().toMap
    def retentionOf(e: DataFrame) = EventAnalytics.retentionCohorts(e)
      .select("cohort_week", "week_offset", "n_active")
      .as[(Long, Long, Long)].collect()
      .map { case (c, o, n) => (c, o) -> n }.toMap
    def activeOf(e: DataFrame) = EventAnalytics.activeUsers(e)
      .select("day", "dau", "wau", "mau")
      .as[(Long, Long, Long, Long)].collect()
      .map { case (d, a, w, m) => d -> Seq(a, w, m) }.toMap
    def transitionsOf(e: DataFrame) = EventAnalytics.transitionMatrix(e)
      .select("from_type", "to_type", "n")
      .as[(String, String, Long)].collect()
      .map { case (f, to, n) => (f, to) -> n }.toMap
    def intervals(e: DataFrame) = Intervals.mergeIntervals(
      e.select(col("user_id"), col("ts_us").as("s0"),
        (col("ts_us") + 600000000L).as("e0")), Seq("user_id"), "s0", "e0")
    /** every cell exactly k × its base cell, same cell set */
    def timesK[K](k: Int, got: Map[K, Long], base: Map[K, Long]): Boolean =
      got.size == base.size &&
        got.forall { case (c, n) => base.get(c).contains(n / k) && n % k == 0 }
    lazy val baseFunnel = funnelOf(ev0)
    lazy val baseRet = retentionOf(ev0)
    lazy val baseActive = activeOf(ev0)
    lazy val baseIvl = intervals(ev0).count()
    lazy val baseTrans = transitionsOf(ev0)
    val events = ScaleCase[(DataFrame, DataFrame), Map[String, Boolean]](
      "e_active_users", Seq(1, 10, 100),
      k => { val c = eventCopies(ev0, k, 10000000L); (c, c) },
      (_, d) => (d._1, d._2
        .unionByName(Seq(
          (9000000001L, 9100000001L, "soak_gap", 0L, 5.0),
          (9000000001L, 9100000002L, "soak_gap", 1000L, 15.0),
          (9000000001L, 9100000003L, "soak_gap", 9L * DayUs, 40.0))
          .toDF("user_id", "event_id", "event_type", "ts_us", "value"))
        .unionByName((0 until 30).flatMap { day =>
          val n = if (day == 20) 50 else if (day % 2 == 0) 2 else 4
          (0 until n).map(i => (9000000002L, 9200000000L + day * 100L + i,
            "soak_anom", day * DayUs + i, 0.0))
        }.toDF("user_id", "event_id", "event_type", "ts_us", "value"))),
      (k, d) => cached(d._2) { (all, nEvents) =>
        val copies = d._1
        val (funnelRows, funnelSec) = timed(funnelOf(copies))
        val funnelExact = steps.indices.forall(i =>
          funnelRows(i.toLong) == k * baseFunnel(i.toLong))
        val (retCells, retSec) = timed(retentionOf(copies))
        val (gapRows, gapSec) = timed {
          EventAnalytics.gapFillDaily(all, "event_type")
            .filter(col("event_type") === "soak_gap")
            .select("day", "n_events", "filled_value")
            .as[(Long, Long, Double)].collect().sortBy(_._1)
        }
        val gapExact = gapRows.length == 10 &&
          gapRows.head == ((0L, 2L, 10.0)) &&
          (1L to 8L).forall(d => gapRows(d.toInt) == ((d, 0L, 10.0))) &&
          gapRows(9) == ((9L, 1L, 40.0))
        // window [13,19] = 4,2,4,2,4,2,4 → z = 43.830844
        val (anomRow, anomSec) = timed {
          EventAnalytics.rollingAnomalies(all, "event_type")
            .filter(col("event_type") === "soak_anom" && col("day") === 20L)
            .select("z", "is_anomaly").as[(Option[Double], Boolean)]
            .collect().head
        }
        val anomExact = anomRow._2 && anomRow._1.contains(43.830844)
        // the rolling-distinct fan-out's cost grows with activity rows,
        // its output does not
        val (actCells, actSec) = timed(activeOf(copies))
        val actExact = actCells.size == baseActive.size &&
          actCells.forall { case (day, c) => baseActive.get(day).exists(b =>
            b.zip(c).forall { case (x, y) => y == k * x }) }
        // per-user sweep; the planted gap user resolves to 2 closed-form
        // spans, the anomaly user's 30 one-per-day bursts to 30
        val (ivlCounts, ivlSec) = timed {
          val m = intervals(all)
          (m.count(), m.filter(col("user_id") === 9000000001L)
            .select("start", "end", "n_spans")
            .as[(Long, Long, Long)].collect().sortBy(_._1).toSeq)
        }
        val ivlExact = ivlCounts._1 == k * baseIvl + 2 + 30 &&
          ivlCounts._2 == Seq((0L, 600001000L, 2L),
            (9L * DayUs, 9L * DayUs + 600000000L, 1L))
        val (transCells, transSec) = timed(transitionsOf(copies))
        val flags = Map("e_active_users" -> actExact,
          "w_interval_merge" -> ivlExact,
          "e_transitions" -> timesK(k, transCells, baseTrans),
          "e_funnel_steps" -> funnelExact,
          "e_retention_cohorts" -> timesK(k, retCells, baseRet),
          "e_gapfill_daily" -> gapExact, "e_rolling_anomaly" -> anomExact)
        emit("e_active_users", k, actSec, "n_days" -> actCells.size,
          "exact" -> flags("e_active_users"))
        emit("w_interval_merge", k, ivlSec, "n_intervals" -> ivlCounts._1,
          "exact" -> flags("w_interval_merge"))
        emit("e_transitions", k, transSec, "n_cells" -> transCells.size,
          "exact" -> flags("e_transitions"))
        emit("e_funnel_steps", k, funnelSec, "n_events" -> nEvents,
          "exact" -> funnelExact, "step0" -> funnelRows(0L),
          "step2" -> funnelRows(2L))
        emit("e_retention_cohorts", k, retSec, "n_cells" -> retCells.size,
          "exact" -> flags("e_retention_cohorts"))
        emit("e_gapfill_daily", k, gapSec, "exact" -> gapExact)
        emit("e_rolling_anomaly", k, anomSec, "exact" -> anomExact,
          "z20" -> anomRow._1.getOrElse(-1.0))
        flags
      },
      (k, flags, _) => {
        val broken = flags.filterNot(_._2).keys
        assert(broken.isEmpty, s"not exact at $k: ${broken.mkString(", ")}")
      })

    // =========================== insights ===========================

    // basket rules: a PLANTED pair (items 9001 + 9002 in every 7th
    // basket) must surface with confidence exactly 1.0 and n_both = the
    // planted basket count at every scale, while the pair volume stays
    // ≤ Σ min(|basket|, cap)² (the cap claim under test)
    val baskets = ScaleCase[DataFrame, (Long, Long, Double)](
      "m_basket_rules", S50,
      k => replicas(k)(i => shiftIds(li0.select(col("l_orderkey").as("basket"),
        (col("l_partkey") % 100).as("item")), i, "basket" -> 100000000L)),
      (_, b) => {
        val planted = b.where(col("basket") % 7 === 0).select("basket")
          .distinct()
        b.unionByName(planted.select(col("basket"), lit(9001L).as("item")))
          .unionByName(planted.select(col("basket"), lit(9002L).as("item")))
      },
      (k, withPlant) => {
        val nPlanted = withPlant.filter(col("item") === 9001L).count()
        val ((ruleBoth, ruleConf), brSec) = timed {
          val r = Market.basketRules(withPlant, "basket", "item",
            minPairCount = 2L, maxBasket = 64, k = 5000)
            .where(col("antecedent") === 9001L &&
              col("consequent") === 9002L).collect()
          (r.headOption.map(_.getLong(2)).getOrElse(-1L),
            r.headOption.map(_.getDouble(4)).getOrElse(-1.0))
        }
        emit("m_basket_rules", k, brSec, "n_planted" -> nPlanted,
          "rule_both" -> ruleBoth, "rule_conf" -> ruleConf)
        (nPlanted, ruleBoth, ruleConf)
      },
      (k, o, _) => assert(o._2 == o._1 && o._3 == 1.0,
        s"planted rule broke at $k: both=${o._2} conf=${o._3}"))

    // item CF: two planted items given to every 5th customer —
    // identical user sets ⟹ cosine exactly 1.0 and mutual rank-1 at
    // every scale; the planted ids are NEGATIVE so the smallest-15
    // history cap always retains them (category ids are 0..199)
    lazy val orders0 = spark.read.parquet(s"$dir/orders.parquet")
    val itemCf = ScaleCase[DataFrame, (Long, Double)]("rec_item_neighbors",
      S50,
      k => replicas(k)(i => shiftIds(li0.join(orders0,
          col("l_orderkey") === col("o_orderkey"))
        .select(col("o_custkey").as("u"), (col("l_partkey") % 200).as("i")),
        i, "u" -> 100000000L)),
      (_, ui) => {
        val plantedU = ui.where(col("u") % 5 === 0).select("u").distinct()
        ui.unionByName(plantedU.select(col("u"), lit(-1L).as("i"))
          .unionByName(plantedU.select(col("u"), lit(-2L).as("i"))))
      },
      (k, uiPlant) => {
        val (cfTop, cfSec) = timed {
          Market.itemNeighbors(uiPlant, "u", "i", maxPerUser = 15, k = 3)
            .where(col("item") === -1L && col("rank") === 1).collect()
            .headOption.map(r => (r.getLong(1), r.getDouble(3)))
            .getOrElse((-1L, -1.0))
        }
        emit("rec_item_neighbors", k, cfSec, "top_neighbor" -> cfTop._1,
          "top_cosine" -> cfTop._2)
        cfTop
      },
      (k, top, _) => assert(top == ((-2L, 1.0)),
        s"planted CF neighbor broke at $k: $top"))

    // prefix-filtered Jaccard: renamed copies (no cross-copy shingles)
    // with ONE planted near-dup pair per copy (J = 6/8 = 0.75 by
    // construction: 9-token texts differing in the last token → 7
    // shingles each, 6 shared) — output must be exactly k pairs, and
    // time must track corpus size ~linearly because per-shingle df
    // stays FLAT as the corpus grows (the prefix join's scale claim)
    val pairBase = "qq ww ee rr tt yy uu ii oo"
    val prefixJ = ScaleCase[DataFrame, Long]("d_jaccard_exact_prefix", S50,
      k => renamedDocs(docs0, k),
      (k, d) => d.unionByName((0 until k).flatMap(i => Seq(
          (9000001L + i * 10000000L, pairBase.replace(" ", s"z$i ") + s"z$i"),
          (9000002L + i * 10000000L,
            (pairBase.substring(0, pairBase.length - 2) + "pp")
              .replace(" ", s"z$i ") + s"z$i")))
        .toDF("doc_id", "text")),
      (k, d) => cached(d) { (sd, nDocs) =>
        val (prefixPairs, prefixCleanup) = Dedup.jaccardPrefixPairs(sd, 3, 0.5)
        val (pairs, pjSec) = timed {
          prefixPairs.where(col("doc_a") % 10000000L === 9000001L).collect()
        }
        prefixCleanup()
        emit("d_jaccard_exact_prefix", k, pjSec, "n_docs" -> nDocs,
          "n_planted_pairs" -> pairs.length)
        pairs.length.toLong
      },
      (k, n, _) => assert(n == k, s"planted near-dup pairs broke at $k: $n"))

    // equi-depth histogram: lineitem ×k through the two-phase ordinal —
    // bucket sizes exactly ⌊N/10⌋/⌈N/10⌉ (NTILE), no one-task sort
    val histogram = ScaleCase[DataFrame, (Long, Int, Long, Long)](
      "a_histogram_equidepth", S50,
      k => replicas(k)(i => shiftIds(li0.select(col("l_orderkey").as("k1"),
        col("l_linenumber").as("k2"), col("l_extendedprice").as("v")), i,
        "k1" -> 100000000L)), asIs,
      (k, sli) => {
        val nRows = sli.count()
        val ((nBuckets, maxN, minN), edSec) = timed {
          val b = Rank.equiDepthHistogram(sli, "v",
            Seq(col("k1"), col("k2")), k = 10).collect()
          (b.length, b.map(_.getLong(1)).max, b.map(_.getLong(1)).min)
        }
        emit("a_histogram_equidepth", k, edSec, "n_rows" -> nRows,
          "max_bucket" -> maxN, "min_bucket" -> minN)
        (nRows, nBuckets, maxN, minN)
      },
      (k, o, _) => {
        val (nRows, nBuckets, maxN, minN) = o
        assert(nBuckets == 10 && maxN - minN <= 1 && maxN == (nRows + 9) / 10,
          s"NTILE sizes broke at $k: buckets=$nBuckets max=$maxN min=$minN")
      })

    // Kaplan–Meier: user-offset copies preserve every lifetime, so the
    // first-step survival must be IDENTICAL at every scale while the
    // at-risk population grows exactly ×k
    val km = ScaleCase[DataFrame, (Long, Double)]("e_survival_km", S50,
      k => eventCopies(ev0.select("user_id", "ts_us"), k), asIs,
      (k, sev) => {
        val (first, kmSec) = timed {
          Survival.kaplanMeier(sev, 604800000000L, 2).orderBy("t")
            .collect().head
        }
        emit("e_survival_km", k, kmSec, "t0_at_risk" -> first.getLong(1),
          "t0_survival" -> first.getDouble(4))
        (first.getLong(1), first.getDouble(4))
      },
      (k, o, base) => {
        assert(o._2 == base._2,
          s"KM survival not scale-invariant at $k: ${o._2} vs ${base._2}")
        assert(o._1 == k * base._1,
          s"KM at-risk not ×k at $k: ${o._1} vs ${base._1} at 1")
      })

    // Markov attribution: user-offset copies preserve every journey, so
    // each edge (w, ow) scales uniformly and cancels in the (p·w) div ow
    // rational — the WHOLE output (p_conv, removal effects, shares) must
    // be bit-identical at every scale. (The BIGINT exactness bound
    // p·w < 2⁶³ holds to w ≈ 9·10⁶ per edge; the 50× leg stays well
    // under it on sf0.1.)
    val markov = ScaleCase[DataFrame, Seq[(String, Double, Double, Double)]](
      "e_attribution_markov", S50,
      k => eventCopies(ev0.select("user_id", "event_id", "event_type",
        "ts_us"), k), asIs,
      (k, sevm) => {
        val (rows, mkSec) = timed {
          EventAnalytics.markovAttribution(sevm, "purchase").collect()
            .map(r => (r.getString(0), r.getDouble(1), r.getDouble(3),
              r.getDouble(4))).toSeq
        }
        emit("e_attribution_markov", k, mkSec, "n_channels" -> rows.length,
          "p_conv_full" -> rows.head._2)
        rows
      },
      (k, rows, base) => assert(rows == base,
        s"Markov effects not scale-invariant at $k:\n$rows\nvs\n$base"))

    // ======================== semantic dedup ========================

    // copy i rotates each vector's dims by i, so copies are not mutual
    // near-dups (measured max cross-copy cosine stays ~base-level).
    // Planted per copy: 5 EXACT duplicates of the copy's first 5
    // vectors under fresh ids — cosine 1.0 with the source and the
    // identical cosine profile against every centroid (tie-break
    // included), so each lands in its source's cell BY CONSTRUCTION:
    // n_dropped = 5·k and every drop's witness is its source id. The
    // knob under test: k-means cells grow with the corpus (8·k, the
    // k ≈ √n production rule) so the within-cell pair space — the
    // quadratic term SemDeDup bounds — grows ~LINEARLY.
    lazy val semBase = emb0.repartition(spark.sparkContext.defaultParallelism)
      .pin()
    lazy val semDims = semBase.select(size(col("embedding"))).head().getInt(0)
    def rotatedCopies(k: Int, src: DataFrame): DataFrame = replicas(k)(i =>
      shiftIds(src, i, "vec_id" -> 1000000L)
        .withColumn("embedding", rotateDims(col("embedding"), i, semDims)))
    val sem = ScaleCase[DataFrame, (Long, Long)]("sem_dedup", Seq(1, 5, 10),
      k => rotatedCopies(k, semBase),
      (k, d) => d.unionByName(rotatedCopies(k,
          semBase.filter(col("vec_id") < 5))
        .withColumn("vec_id", col("vec_id") + 900000L)).pin(),
      (k, corpus) => {
        val cells = 8 * k
        val ((nDropped, wrongWitness, cand), sec) = timed {
          val out = Dedup.semanticDedup(corpus, cells, 1, 0.95).pin()
          val dropped = out.filter(col("kept") === 0L)
          (dropped.count(),
            dropped.filter(col("dup_of") =!= col("vec_id") - 900000L)
              .count(),
            // within-cell candidate pair volume (the bounded quadratic)
            out.groupBy("cell").agg(count(lit(1)).as("c"))
              .agg(sum(expr("(c * (c - 1)) div 2"))).head().getLong(0))
        }
        val ok = nDropped == 5L * k && wrongWitness == 0L
        emit("sem_dedup", k, sec, "n_rows" -> corpus.count(), "k" -> cells,
          "n_dropped" -> nDropped, "expected_dropped" -> 5L * k,
          "wrong_witness" -> wrongWitness, "cand_pairs" -> cand, "ok" -> ok)
        (nDropped, wrongWitness)
      },
      (k, o, _) => assert(o == ((5L * k, 0L)),
        s"planted (dropped, wrong witness) $o at $k, want (${5 * k}, 0)"))

    // ============================= stats =============================

    // logistic Newton over user-disjoint copies. The gradient and
    // Hessian sums scale by exactly ×k, but the operator standardizes x
    // by the sample sd with an n−1 denominator, which replication
    // changes: sd_k = sd_1·√(k(n−1)/(kn−1)), so x_k = x_1·sd_1/sd_k.
    // Logistic Newton is affine-equivariant in x, so b0 stays identical
    // and b1 scales by sd_k/sd_1; each displayed β is round-6 of the
    // round-9 iterate, so b1 may differ from the scaled baseline by the
    // two display half-ulps (1e-6) plus the round-9 step. (x itself is
    // re-rounded to 6 places after standardizing; at |b1| ~ 0.04 that
    // moves b1 orders of magnitude below the display ulp.)
    val logistic = ScaleCase[DataFrame, (Long, Seq[(Long, Double, Double)])](
      "m_logistic_newton", S50, k => eventCopies(ev0, k), asIs,
      (k, sev) => {
        val (rows, lgSec) = timed {
          Stats.logisticNewton(sev, col("event_type") === "purchase",
            "ln(1 + value)").collect()
            .map(r => (r.getLong(0), r.getDouble(1), r.getDouble(2))).toSeq
        }
        emit("m_logistic_newton", k, lgSec, "b1_final" -> rows.last._3)
        (sev.filter(expr("ln(1 + value)").isNotNull).count(), rows)
      },
      (k, o, base) => {
        val (n, rows) = o
        val r = math.sqrt(k * (base._1 - 1).toDouble / (n - 1))
        assert(n == k * base._1 && rows.map(x => (x._1, x._2)) ==
          base._2.map(x => (x._1, x._2)),
          s"logistic b0 trajectory not scale-invariant at $k:\n$rows\nvs\n" +
            base._2)
        rows.zip(base._2).foreach { case (x, b) =>
          assert(math.abs(x._3 - b._3 * r) <= 1e-6 + 1e-9,
            s"logistic b1 round ${x._1} at $k: ${x._3} vs ${b._3} × $r") }
      })

    // logistic IRLS (two-feature): plain self-union multiplies every
    // gradient AND Hessian moment by exactly ×k, which cancels in the
    // 3×3 Cramer solve — the round-6 β AND the mean log-loss must be
    // IDENTICAL at every scale while each of the 7 passes covers ×k
    // rows (SEs shrink ~1/√k: not asserted, they are supposed to move)
    val irls = ScaleCase[DataFrame, (Long, Double, Double, Double, Double)](
      "m_logistic_irls", S50, k => replicas(k)(_ => li0), asIs,
      (k, sli) => {
        val (row, irSec) = timed {
          Stats.logisticIrls(sli, col("l_returnflag") === "R", "l_quantity",
            "l_discount", 6).collect().head
        }
        emit("m_logistic_irls", k, irSec, "b1" -> row.getDouble(2))
        (row.getLong(0) / k, row.getDouble(1), row.getDouble(2),
          row.getDouble(3), row.getDouble(7))
      },
      (k, o, base) => assert(o == base,
        s"IRLS β/log-loss not scale-invariant at $k: $o vs $base"))

    // Fisher exact: unoffset copies multiply all four 2×2 cells by
    // exactly ×k (same md5 arms per copy); the ±50σ support widens only
    // ~√k — the op's entire scale claim — and the sharper table drives
    // p monotonically toward 0
    val fisher = ScaleCase[DataFrame, (Seq[Long], Double)]("a_fisher_exact",
      S50, k => replicas(k)(_ => ev0), asIs,
      (k, fev) => {
        Hashing.ensureRegistered(fev)
        val (row, fSec) = timed {
          Stats.fisherExact(fev,
            pmod(Hashing.md5Long(concat(lit("ab:"),
              col("user_id").cast("string"))), lit(2L)) === 0,
            col("event_type") === "purchase").collect().head
        }
        emit("a_fisher_exact", k, fSec, "p" -> row.getDouble(5))
        ((0 to 3).map(row.getLong), row.getDouble(5))
      },
      (k, o, base) => {
        assert(o._1 == base._1.map(_ * k),
          s"Fisher margins not exactly ×k at $k: ${o._1} vs ${base._1}")
        assert(o._2 <= base._2 + 1e-9,
          s"Fisher p must sharpen with scale: ${o._2} > ${base._2}")
      })

    // Kendall τ over the daily frame (daily mean value vs daily count):
    // copies multiply every daily count by ×k and keep daily means, so
    // every pairwise SIGN is unchanged — the whole readout bit-identical
    val kendall = ScaleCase[DataFrame, Seq[Row]]("a_kendall_tau", S50,
      k => eventCopies(ev0, k), asIs,
      (k, sev) => {
        val daily = sev.select(col("event_type"),
            expr("ts_us div 86400000000").as("day"), col("value"))
          .groupBy("event_type", "day")
          .agg(count(lit(1)).as("n"),
            round(sum(col("value").cast("decimal(18,2)")).cast("double") /
              count(lit(1)).cast("double"), 6).as("v"))
        val (rows, ktSec) = timed {
          Stats.kendallTau(daily, "event_type", "day", "v", "n").collect()
            .map(r => Row(r.getString(0), r.getLong(1), r.getLong(2),
              r.getLong(3), r.getLong(4), r.getDouble(5))).toSeq
        }
        emit("a_kendall_tau", k, ktSec,
          "n_pairs" -> rows.map(_.getLong(2)).sum)
        rows
      },
      (k, rows, base) => assert(rows == base,
        s"Kendall readout not scale-invariant at $k"))

    // Theil–Sen: the daily frame is CALENDAR-bounded — n_days and
    // n_pairs exactly constant as events grow ×k (the op's entire scale
    // claim), and the median slope scales ×k. Both sides are round-6
    // DISPLAYS of the exact medians, so the identity holds only to the
    // display quantum: |r − k·b| ≤ k·(display half-ulp) + own half-ulp.
    val theilSen = ScaleCase[DataFrame, Seq[(String, Long, Long, Double)]](
      "e_theil_sen", S50, k => eventCopies(ev0, k), asIs,
      (k, sev) => {
        val (rows, tsSec) = timed {
          EventAnalytics.theilSen(sev, "event_type").collect()
            .map(r => (r.getString(0), r.getLong(1), r.getLong(2),
              r.getDouble(3))).toSeq
        }
        emit("e_theil_sen", k, tsSec, "n_pairs" -> rows.map(_._3).sum)
        rows
      },
      (k, rows, base) => {
        assert(rows.map(r => (r._1, r._2, r._3)) ==
          base.map(r => (r._1, r._2, r._3)),
          s"Theil-Sen day/pair counts not calendar-bounded at $k")
        rows.zip(base).foreach { case (r, b) =>
          assert(math.abs(r._4 - b._4 * k) <= 5e-7 * (k + 1),
            s"Theil-Sen slope not ×k at $k: ${r._4} vs ${b._4} × $k") }
      })

    // ACF/Ljung–Box: same calendar bound (10 lags per key at every
    // scale); deviations scale ×k up to the micro-mean floor
    // truncation, so the ACF matches the baseline within 1e-6
    val acf = ScaleCase[DataFrame, Map[(String, Long), Double]](
      "e_acf_ljung_box", S50, k => eventCopies(ev0, k), asIs,
      (k, sev) => {
        val (rows, acSec) = timed {
          EventAnalytics.acfLjungBox(sev, "event_type").collect()
            .map(r => ((r.getString(0), r.getLong(1)), r.getDouble(3))).toMap
        }
        emit("e_acf_ljung_box", k, acSec, "n_rows" -> rows.size)
        rows
      },
      (k, rows, base) => {
        assert(rows.keySet == base.keySet,
          s"ACF lag grid not calendar-bounded at $k")
        rows.foreach { case (key, v) => assert(math.abs(v - base(key)) <= 1e-6,
          s"ACF drifted at $k for $key: $v vs ${base(key)}") }
      })

    // k-center coreset: vec-id-offset copies add only zero-distance
    // twins with LARGER ids, so the greedy farthest-point trajectory
    // (ids and radii) must be IDENTICAL at every scale. PCA power
    // iteration: replication leaves the per-dim mean and the normalized
    // direction unchanged (every moment sum scales ×k and cancels in
    // the normalize), so loadings match while λ grows ×k. Loadings match
    // to ONE display ulp, not bit-exactly: each round quantizes w and
    // its norm at 9 decimals, and the ×k sums land on different round-9
    // boundaries — the w/nrm ratio can flip the 6th display decimal
    // (measured: dims 5 and 13 off by exactly 1e-6 at 10×).
    type PcaRows = Seq[(Long, Double, Double)]
    val kCenter = ScaleCase[DataFrame, (Seq[Row], PcaRows)](
      "sim_kcenter_coreset", S50,
      k => replicas(k)(i => shiftIds(emb0, i, "vec_id" -> 100000000L)), asIs,
      (k, semb) => {
        val (kcRows, kcSec) = timed {
          Similarity.kCenterCoreset(semb, 8).collect()
            .map(r => Row(r.getLong(0), r.getLong(1),
              if (r.isNullAt(2)) None else Some(r.getDouble(2)))).toSeq
        }
        emit("sim_kcenter_coreset", k, kcSec, "n_vecs" -> emb0.count() * k)
        val (pcRows, pcSec) = timed {
          Similarity.pcaPower(semb).collect()
            .map(r => (r.getLong(0), r.getDouble(1), r.getDouble(2))).toSeq
        }
        emit("sim_pca_power", k, pcSec, "lambda" -> pcRows.head._3)
        (kcRows, pcRows)
      },
      (k, o, base) => {
        assert(o._1 == base._1, s"k-center trajectory not scale-invariant " +
          s"at $k:\n${o._1}\nvs\n${base._1}")
        val (pc, pb) = (o._2, base._2)
        assert(pc.map(_._1) == pb.map(_._1), s"PCA dim grid changed at $k")
        pc.zip(pb).foreach { case (r, b) => assert(
          math.abs(r._2 - b._2) <= 1e-6 + 1e-12,
          s"PCA loading drifted beyond a display ulp at $k: dim ${r._1} " +
            s"${r._2} vs ${b._2}") }
        assert(math.abs(pc.head._3 - pb.head._3 * k) <= 1e-5 * k,
          s"PCA lambda not ×k at $k: ${pc.head._3} vs ${pb.head._3} × $k")
      })

    // PCA debias on a PLANTED RANK-1 corpus: x = t·u with u = (0.6, 0.8,
    // 0, 0) and t = id % 10 over N = 1000·k rows. Every constant in the
    // chain lands EXACTLY on the op's own rounding quanta: μ = 4.5·u, the
    // component converges to u in round 1 (0.84S/1.4S rounds to 0.600000
    // exactly), the projection p = t − 4.5 is a half-integer, and p·v
    // reproduces the centered row bit-for-bit — so after removing ONE
    // component the residual is EXACTLY zero, removed_frac EXACTLY 1,
    // the per-row norm EXACTLY |t − 4.5| (sqrt of the binary-exact
    // (m+½)²), and λ = Σ(t−4.5)² = 8250·k exactly. Absolute
    // predictions, stronger than baseline-relative invariance.
    val debias = ScaleCase[DataFrame, (Seq[(Long, Double, Double, Double)],
        PcaRows)]("sim_pca_debias", S50,
      k => spark.range(1000L * k).toDF(),
      (_, ids) => ids.select(col("id").as("vec_id"),
        expr("array(0.6D * (id % 10), 0.8D * (id % 10), 0D, 0D)")
          .as("embedding")),
      (k, planted) => {
        val (dbRows, dbSec) = timed {
          Similarity.pcaDebias(planted).collect()
            .map(r => (r.getLong(0), r.getDouble(1), r.getDouble(2),
              r.getDouble(3))).toSeq
        }
        emit("sim_pca_debias", k, dbSec, "n_vecs" -> dbRows.size)
        val (ppLam, ppSec) = timed {
          Similarity.pcaPower(planted).collect()
            .map(r => (r.getLong(0), r.getDouble(1), r.getDouble(2))).toSeq
        }
        emit("sim_pca_power_planted", k, ppSec, "lambda" -> ppLam.head._3)
        (dbRows, ppLam)
      },
      (k, o, _) => {
        val (dbRows, ppLam) = o
        assert(dbRows.size == 1000 * k,
          s"debias row count ${dbRows.size} != ${1000 * k}")
        dbRows.foreach { case (id, nrm, resid, rem) =>
          val tv = math.abs((id % 10).toDouble - 4.5)
          assert(resid == 0.0,
            s"rank-1 debias residual not exactly zero at $k: vec $id $resid")
          assert(rem == 1.0,
            s"rank-1 removed_frac not exactly 1 at $k: vec $id $rem")
          assert(nrm == tv, s"centered norm mismatch at $k: vec $id $nrm")
        }
        assert(ppLam.map(_._2) == Seq(0.6, 0.8, 0.0, 0.0),
          s"planted component not (0.6, 0.8, 0, 0) at $k: ${ppLam.map(_._2)}")
        assert(ppLam.head._3 == 8250.0 * k,
          s"planted lambda ${ppLam.head._3} != ${8250.0 * k}")
      })

    // ========================== text models ==========================

    lazy val docsLang = spark.read.parquet(s"$dir/documents.parquet")
      .select("doc_id", "text", "lang")
    // χ² term selection: a planted token appended to EVERY doc of one
    // label (and only those) is perfectly label-associated, so it must
    // carry the MAXIMAL χ² at every scale with n_docs exactly ×k (an
    // organic label-covering token can tie the maximum, and the (χ²
    // desc, term asc) tie-break is alphabetic — so the claim is on the
    // χ² value, not literally rank 1) — while the renaming grows the
    // vocabulary (the grid's row count) ×k. Claim under test: cost
    // rides the |vocab| × |labels| aggregate, no quadratic step.
    lazy val lbl = docsLang.groupBy("lang").count()
      .orderBy(desc("count"), asc("lang")).head().getString(0)
    val chi2 = ScaleCase[DataFrame, (Long, Double, Option[(Long, Double)])](
      "m_chi2_terms", S50, k => renamedDocs(docsLang, k),
      (_, d) => d.withColumn("text", when(col("lang") === lbl,
        concat(col("text"), lit(" zchi"))).otherwise(col("text"))),
      (k, chiDocs) => {
        val nLbl = docsLang.filter(col("lang") === lbl).count() * k
        val ((topChi, plantedRow), chiSec) = timed {
          val r = TextModels.chi2Terms(chiDocs, "lang", 5).collect()
          (r.head.getDouble(2), r.find(_.getString(0) == "zchi")
            .map(x => (x.getLong(1), x.getDouble(2))))
        }
        emit("m_chi2_terms", k, chiSec, "n_label_docs" -> nLbl,
          "top_chi2" -> topChi,
          "planted_docs" -> plantedRow.map(_._1).getOrElse(-1L))
        (nLbl, topChi, plantedRow)
      },
      (k, o, _) => assert(o._3.contains((o._1, o._2)),
        s"planted χ² term broke at $k: ${o._3} vs (${o._1}, ${o._2})"))

    // sparse TF-IDF neighbors: the quadratic hazard is the per-term
    // self-join (a df-D term emits D²/2 pairs); the df band (minDf,
    // maxDf] is the pruning knob. Planted AT the boundary, per copy:
    // `warm{i}` in exactly maxDf docs (kept — the worst survivor) and
    // `hot{i}` in maxDf+1 docs (pruned). Copies share no tokens, so the
    // exact candidate volume Σ df·(df−1)/2 over surviving terms is ×k
    // BY CONSTRUCTION — a band-filter regression breaks the harness,
    // not just the wall clock. One planted near-dup pair per copy (10
    // shared copy-local df-2 tokens, cosine exactly 1.0) must surface.
    val maxDf = 40L
    val tfidf = ScaleCase[Seq[DataFrame],
        (Long, Long, Long, Long, Seq[Double])]("m_tfidf_neighbors", S50,
      k => (0 until k).map(i => renamedDocs(docsLang, i + 1)
        .filter(col("doc_id") >= i * 10000000L).drop("lang")),
      (_, copies) => copies.zipWithIndex.map { case (c, i) =>
        // NEGATIVE planted pair ids: the warm plant makes every doc
        // whose only band-surviving term is warm{i} a cosine-1.0 clique
        // member, and the (cosine desc, doc_a asc) tie-break would sort
        // big planted ids LAST — negative ids sort them first, so a
        // small top-k provably contains all of them
        val pairText = (1 to 10).map(t => s"pair${i}tok$t").mkString(" ")
        c.withColumn("__r", row_number().over(Window.orderBy("doc_id")))
          .withColumn("text", when(col("__r") <= maxDf,
            concat(col("text"), lit(s" warm$i"))).otherwise(col("text")))
          .withColumn("text", when(col("__r") <= maxDf + 1,
            concat(col("text"), lit(s" hot$i"))).otherwise(col("text")))
          .drop("__r")
          .unionByName(Seq((-(2L + i * 10000000L), pairText),
            (-(1L + i * 10000000L), pairText)).toDF("doc_id", "text"))
      },
      (k, copies) => cached(replicas(k)(copies)) { (nbrDocs, nDocs) =>
        // exact candidate volume over the surviving band — the same
        // tf→df derivation the operator runs
        val dfreq = nbrDocs.select(col("doc_id"),
            explode(expr(Hashing.tokensSql)).as("tok"))
          .groupBy("doc_id", "tok").agg(count(lit(1)).as("tf"))
          .groupBy("tok").agg(count(lit(1)).as("df"))
          .filter(col("df") > 1 && col("df") <= maxDf)
        val (band, candSec) = timed {
          dfreq.agg(sum(expr("df * (df - 1) div 2")).as("cands"),
            max(col("df")).as("max_df"),
            sum(when(col("tok").rlike("^warm[0-9]+$"), 1L).otherwise(0L)),
            sum(when(col("tok").rlike("^hot[0-9]+$"), 1L).otherwise(0L)))
            .head()
        }
        val (planted, nbrSec) = timed {
          TextModels.tfidfNeighbors(nbrDocs, k = 50 + 2 * k, minDf = 1,
              maxDf = maxDf)
            .filter(col("doc_a") < 0 && col("doc_b") === col("doc_a") + 1L)
            .collect()
        }
        emit("m_tfidf_neighbors", k, nbrSec, "n_docs" -> nDocs,
          "candidates" -> band.getLong(0), "cand_agg_sec" -> secs(candSec),
          "n_planted_pairs" -> planted.length)
        (band.getLong(0), band.getLong(1), band.getLong(2), band.getLong(3),
          planted.map(_.getDouble(2)).toSeq)
      },
      (k, o, base) => {
        val (cands, seenMaxDf, nWarm, nHot, pairs) = o
        assert(nWarm == k && nHot == 0L && seenMaxDf == maxDf,
          s"df-band boundary broke at $k: warm=$nWarm hot=$nHot " +
            s"maxdf=$seenMaxDf")
        assert(cands == base._1 * k,
          s"candidate volume not ×k at $k: $cands vs ${base._1 * k}")
        assert(pairs.length == k && pairs.forall(_ == 1.0),
          s"planted cosine-1 pairs broke at $k: ${pairs.length}")
      })

    // substring removal: 200 synthetic docs per copy, each 30
    // copy-and-doc-unique tokens followed by ONE corpus-shared 20-token
    // boilerplate block. Unique prefixes make every boundary-crossing
    // window unique, so each planted doc carries EXACTLY one duplicated
    // window (the block) — the global keeper (smallest doc_id) keeps
    // its block with n_removed == 0, every other planted doc loses
    // exactly the 20 block tokens. The organic ×k corpus rides along.
    val boiler20 = (1 to 20).map(t => s"boiler$t").mkString(" ")
    val substrRm = ScaleCase[DataFrame, (Long, Long, Long)](
      "d_substring_remove", S50,
      k => renamedDocs(docsLang, k).drop("lang"),
      (k, d) => d.unionByName((0 until k).flatMap { i =>
        (0 until 200).map { j =>
          val uniq = (1 to 30).map(t => s"u${i}d${j}t$t").mkString(" ")
          (500000000L + i * 10000000L + j, s"$uniq $boiler20")
        }
      }.toDF("doc_id", "text")),
      (k, d) => cached(d) { (srDocs, nSrDocs) =>
        val (r, srSec) = timed {
          Dedup.substringRemove(srDocs, 20)
            .filter(col("doc_id") >= 500000000L)
            .agg(sum(when(col("n_removed") === 0L, 1L).otherwise(0L)),
              sum(when(col("n_removed") === 20L, 1L).otherwise(0L)),
              sum(when(col("n_removed") =!= 0L && col("n_removed") =!= 20L,
                1L).otherwise(0L))).head()
        }
        emit("d_substring_remove", k, srSec, "n_docs" -> nSrDocs,
          "keepers" -> r.getLong(0), "cut_exact" -> r.getLong(1),
          "other" -> r.getLong(2))
        (r.getLong(0), r.getLong(1), r.getLong(2))
      },
      (k, o, _) => assert(o == ((1L, 200L * k - 1, 0L)),
        s"planted substring removal broke at $k: (keepers, cut, other) $o"))

    // =========================== curation ===========================

    lazy val docsCur = spark.read.parquet(s"$dir/documents.parquet")
      .select("doc_id", "text", "source", "n_chars")
    lazy val nDocsCur = docsCur.count()
    def curCopies(k: Int) =
      replicas(k)(i => shiftIds(docsCur, i, "doc_id" -> 10000000L))
    val plantBase = 9000000000L

    // token-budget cut: per copy one PLANTED doc (score 2.0 — strictly
    // above every organic score, which is built < 1) of exactly 1000
    // tokens; the budget k·1000 − 500 selects exactly the first k − 1
    // planted docs and cuts ON the planted boundary — and at k = 1
    // NOTHING fits (one summary row, null cutoffs)
    val budget = ScaleCase[DataFrame, Row]("o18_token_budget", S50,
      k => curCopies(k).select(col("doc_id"), col("n_chars").as("n_tokens"),
        (pmod(col("doc_id"), lit(1000L)).cast("double") / 1000.0)
          .as("score")),
      (k, d) => d.unionByName((0 until k).map(i => (plantBase + i, 1000L, 2.0))
        .toDF("doc_id", "n_tokens", "score")),
      (k, d) => {
        val (row, sec) = timed {
          Pack.tokenBudgetSelect(d, "doc_id", "n_tokens", "score",
            k.toLong * 1000L - 500L).collect().head
        }
        emit("o18_token_budget", k, sec, "n_docs" -> row.getLong(0),
          "n_selected" -> row.getLong(3))
        row
      },
      (k, row, _) => {
        val expSel = (k - 1).toLong
        assert(row.getLong(3) == expSel,
          s"o18 n_selected ${row.getLong(3)} != $expSel")
        assert(row.getLong(4) == expSel * 1000L,
          s"o18 tokens_selected ${row.getLong(4)}")
        if (k == 1) assert(row.isNullAt(5) && row.isNullAt(6),
          "o18 empty selection must read null cutoffs")
        else {
          assert(row.getDouble(5) == 2.0, s"o18 cutoff_score ${row.get(5)}")
          assert(row.getLong(6) == plantBase + k - 2,
            s"o18 cutoff_doc_id ${row.get(6)}")
        }
      })

    // proportional source interleave: the midpoint rule makes prefix
    // proportions EXACT — for any threshold t, a source with n_s docs
    // lands exactly ⌊n_s·t + 1/2⌋ of them at pos ≤ t (asserted at t =
    // 1/4 and 1/2 for every source), and |pos set| = n_s
    val interleave = ScaleCase[DataFrame, Seq[Row]]("o19_source_interleave",
      S50, curCopies, asIs,
      (k, docsN) => {
        val (rows, sec) = timed {
          Sampling.sourceInterleave(docsN, "doc_id", "source")
            .groupBy("source").agg(count(lit(1)).as("ns"),
              countDistinct(col("pos")).as("nd"),
              sum(when(col("pos") <= 0.25, 1L).otherwise(0L)).as("q1"),
              sum(when(col("pos") <= 0.5, 1L).otherwise(0L)).as("q2"))
            .collect().toSeq
        }
        emit("o19_source_interleave", k, sec, "n_sources" -> rows.length,
          "rows" -> rows.map(_.getLong(1)).sum)
        rows
      },
      (k, rows, _) => {
        assert(rows.nonEmpty, "o19 no sources")
        rows.foreach { r =>
          val ns = r.getLong(1)
          assert(r.getLong(2) == ns, s"o19 ${r.get(0)}: pos grid not injective")
          assert(r.getLong(3) == ns / 4 + (if (ns % 4 >= 2) 1L else 0L),
            s"o19 ${r.get(0)}: q1 ${r.getLong(3)} ns=$ns at $k")
          assert(r.getLong(4) == (ns + 1) / 2,
            s"o19 ${r.get(0)}: q2 ${r.getLong(4)} ns=$ns at $k")
        }
      })

    // train-fitted LM filter: per copy one PLANTED junk doc of 8 tokens
    // that occur NOWHERE in the train split (organic tokens end in
    // `x{copy}`, junk tokens in a letter), with a doc_id CHOSEN onto the
    // held-out side of the md5 split. Every junk token is OOV, so the
    // doc's mean NLL must equal the maximum round(ln(N_train + V_train),
    // 6) EXACTLY, sit ≥ every organic held-out NLL, and read keep = false.
    val lmFilter = ScaleCase[DataFrame, (Seq[Row], Double, Double)](
      "t_lm_filter", S50, k => renamedDocs(docsCur.select("doc_id", "text"), k),
      (k, d) => d.unionByName((0 until k).map { i =>
        val id = Iterator.from(0).map(j => plantBase + i * 1000L + j)
          .find(id => md5Long(s"lmsplit:$id") % 5 == 0).get
        (id, ('a' to 'h').map(c => s"qqjunk$i$c").mkString(" "))
      }.toDF("doc_id", "text")),
      (k, corpus) => {
        val ((junkRows, maxOrganic), sec) = timed {
          val out = TextAnalysis.lmQualityFilter(corpus).pin()
          (out.filter(col("doc_id") >= plantBase).collect()
            .sortBy(_.getLong(0)).toSeq,
            out.filter(col("doc_id") < plantBase)
              .agg(max(col("mean_nll"))).head().getDouble(0))
        }
        // theoretical OOV ceiling: (N, V) recomputed with the engine's
        // own split predicate and tokenization
        Hashing.ensureRegistered(corpus)
        val stats = corpus
          .filter(Hashing.md5Long(concat(lit("lmsplit:"),
            col("doc_id").cast("string"))) % 5 =!= 0)
          .select(explode(expr(Hashing.tokensSql)).as("tok"))
          .groupBy("tok").agg(count(lit(1)).as("c"))
          .agg(sum(col("c")), count(lit(1))).head()
        val ceiling = BigDecimal(math.log(
            (stats.getLong(0) + stats.getLong(1)).toDouble))
          .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
        emit("t_lm_filter", k, sec, "ceiling_nll" -> ceiling,
          "max_organic_nll" -> maxOrganic)
        (junkRows, maxOrganic, ceiling)
      },
      (k, o, _) => {
        val (junkRows, maxOrganic, ceiling) = o
        assert(junkRows.length == k,
          s"t_lm_filter planted ${junkRows.length} != $k junk rows")
        junkRows.foreach { r =>
          assert(r.getLong(1) == 8L, s"junk n_tokens ${r.getLong(1)}")
          assert(r.getDouble(2) == ceiling,
            s"junk nll ${r.getDouble(2)} != ceiling $ceiling")
          assert(!r.getBoolean(3), "junk doc must not be kept")
          assert(r.getDouble(2) >= maxOrganic,
            s"junk nll below an organic doc ($maxOrganic)")
        }
      })

    // line dedup, total strike: UNRENAMED copies put every non-blank
    // line in ≥ k distinct docs at k ≥ 2, so lineDedup(maxDocs = 1)
    // must strike ALL of them — each doc's survivors are EXACTLY its
    // whitespace-only lines (the all-struck reassembly path). At k = 1
    // the leg is shape-only.
    val lineDedup = ScaleCase[DataFrame, Long]("d_line_dedup", S50,
      k => curCopies(k).select("doc_id", "text"), asIs,
      (k, corpus) => {
        val (mismatch, sec) = timed {
          val out = Dedup.lineDedup(corpus, 1)
          val expect = corpus.select(col("doc_id"),
            expr("size(filter(split(text, '\n'), " +
              "l -> length(trim(l)) = 0))").cast("long").as("n_blank"),
            expr("size(split(text, '\n'))").cast("long").as("n_all"))
          if (k >= 2) out.join(expect, "doc_id")
            .filter(col("n_kept") =!= col("n_blank") ||
              col("n_dropped") =!= col("n_all") - col("n_blank"))
            .count()
          else out.filter(col("n_dropped") < 0).count()
        }
        emit("d_line_dedup", k, sec, "rows" -> k.toLong * nDocsCur)
        mismatch
      },
      (k, mismatch, _) => assert(mismatch == 0L, s"d_line_dedup: $mismatch " +
        s"docs violated the blank-lines-only survivor expectation at $k"))

    // cross-run incremental near-dup: k prior batches (unrenamed
    // copies) APPEND their band keys to ONE parquet index (batch 0
    // overwrites); then an increment renamed with a `y` suffix (no
    // organic collision) carrying ONE PLANTED doc copied verbatim from
    // the smallest shingle-able prior doc joins the reloaded index.
    // Identical text ⇒ identical signature/bands, so the planted doc
    // MUST collide with every copy of its source: is_dup = 1,
    // first_prior_match = that doc_id EXACTLY (docs under 3 tokens
    // produce no band keys), n_prior_matches ≥ k.
    lazy val shingleable = docsCur
      .filter(size(expr(Hashing.tokensSql)) >= 3)
    lazy val chosenId = shingleable.agg(min(col("doc_id"))).head().getLong(0)
    val incPlantId = 9800000000L
    val incremental = ScaleCase[DataFrame, (Long, Seq[Row], Long, Long)](
      "d_incremental_neardup", S50,
      k => shiftIds(docsCur, k, "doc_id" -> 10000000L).select(col("doc_id"),
        suffixTokens(col("text"), "y").as("text")),
      (_, inc) => inc.unionByName(Seq((incPlantId,
        docsCur.filter(col("doc_id") === chosenId).head()
          .getAs[String]("text"))).toDF("doc_id", "text")),
      (k, inc) => {
        val idxPath = Scratch.dir("graft_soak_appidx") + "/idx"
        val ((n, planted), sec) = timed {
          (0 until k).foreach { i =>
            Dedup.appendBandIndex(shiftIds(docsCur, i, "doc_id" -> 10000000L)
              .select("doc_id", "text"), idxPath, overwrite = i == 0)
          }
          val out = Dedup.nearDupAgainstIndex(inc,
            spark.read.parquet(idxPath)).pin()
          (out.count(), out.filter(col("doc_id") === incPlantId).collect()
            .toSeq)
        }
        emit("d_incremental_neardup", k, sec, "index_rows_batches" -> k,
          "increment_rows" -> n, "planted_prior_matches" ->
            planted.headOption.map(_.getLong(3)).getOrElse(-1L))
        (n, planted, chosenId, shingleable.count())
      },
      (k, o, _) => {
        val (n, planted, chosen, nShingleable) = o
        assert(n == nShingleable + 1, s"d_incremental rows $n != " +
          s"${nShingleable + 1} (each shingle-able doc reports once)")
        assert(planted.length == 1, "planted increment doc missing")
        assert(planted.head.getLong(1) == 1L, "planted doc must be a dup")
        assert(planted.head.getLong(2) == chosen,
          s"planted first_prior_match ${planted.head.getLong(2)} != $chosen")
        assert(planted.head.getLong(3) >= k.toLong,
          s"planted n_prior_matches ${planted.head.getLong(3)} < $k copies")
      })

    // perplexity buckets: three PLANTED frequency classes — every doc
    // in a class is the SAME single token repeated (50× / 10× / 2×), so
    // a class shares ONE round-6 mean NLL and nll(head) < nll(middle) <
    // nll(tail). Sizes K+1 / K / K−1 (K = 500·k, n = 3K) are chosen
    // against the op's exact-cut convention — rank ceil(q·n) with q held
    // at DECIMAL(20,10), so q = 1/3 rounds DOWN (rank K: inside the
    // K+1-doc head class) and q = 2/3 rounds UP (rank 2K+1: the LAST
    // middle doc) — so both cuts land ON a known class score and the
    // whole manifest is pinned to the digit. (Symmetric K/K/K classes
    // are the counterexample: the 2/3 cut lands on the first TAIL doc
    // and the tail bucket vanishes into middle.) A conservation leg
    // over the organic renamed copies rides along: every tokenizable
    // doc lands in exactly one bucket. D = (organic, planted classes).
    val classes = Seq(("head", 50, 0L, 1), ("middle", 10, 1L, 0),
      ("tail", 2, 2L, -1))
    val ppl = ScaleCase[(DataFrame, DataFrame), (Seq[Row], Long, Long)](
      "t_ppl_buckets", S50,
      k => { val c = renamedDocs(docsCur.select("doc_id", "text"), k); (c, c) },
      (k, d) => (d._1, classes.flatMap { case (g, reps, go, dk) =>
        (0 until 500 * k + dk).map(j => (9500000000L + go * 10000000L + j,
          Seq.fill(reps)(s"qq${g}tok").mkString(" ")))
      }.toDF("doc_id", "text")),
      (k, d) => {
        val (rows, sPpl) = timed(TextAnalysis.pplBuckets(d._2).collect())
        val nTokenizable = d._1
          .filter(size(expr(Hashing.tokensSql)) >= 1).count()
        val (rowsOrg, sOrg) = timed(TextAnalysis.pplBuckets(d._1).collect())
        val byB = rows.map(r => r.getString(0) -> r).toMap
        emit("t_ppl_buckets", k, sPpl + sOrg, "planted_docs" -> 1500 * k,
          "organic_docs" -> nTokenizable,
          "cut_head" -> byB.get("head").map(_.getDouble(3)).orNull,
          "cut_middle" -> byB.get("middle").map(_.getDouble(3)).orNull)
        (rows.toSeq, rowsOrg.map(_.getLong(1)).sum, nTokenizable)
      },
      (k, o, _) => {
        val (rows, nOrganic, nTokenizable) = o
        assert(rows.length == 3, s"t_ppl_buckets ${rows.length} rows at $k")
        val byB = rows.map(r => r.getString(0) -> r).toMap
        for ((g, reps, _, dk) <- classes) {
          val sz = 500L * k + dk
          assert(byB(g).getLong(1) == sz, s"t_ppl $g n_docs " +
            s"${byB(g).getLong(1)} != $sz")
          assert(byB(g).getLong(2) == reps * sz, s"t_ppl $g n_tokens " +
            s"${byB(g).getLong(2)} != ${reps * sz}")
        }
        val Seq(mh, mm, mt) = Seq("head", "middle", "tail")
          .map(byB(_).getDouble(3))
        assert(mh < mm && mm < mt, s"t_ppl class NLLs not ordered: $mh $mm $mt")
        assert(byB("head").getDouble(4) == mh,
          s"t_ppl cut_head ${byB("head").getDouble(4)} != head score $mh")
        assert(byB("head").getDouble(5) == mm,
          s"t_ppl cut_middle ${byB("head").getDouble(5)} != middle score $mm")
        assert(nOrganic == nTokenizable, s"t_ppl organic n_docs $nOrganic " +
          s"!= $nTokenizable tokenizable docs")
      })

    // Gopher rules: five PLANTED docs sit exactly ON or one step OFF the
    // thresholds, so every per-rule boolean and the keep conjunction is
    // pinned to the digit while the battery chews k organic copies:
    //  - w50: exactly 50 words (25 'the' + 25 'and') — word-count lower
    //    bound, mean word length exactly 3.0 (rule-2 lower bound) AND
    //    exactly 2 distinct required stops (rule-7 bound): KEEP
    //  - w49: the 49-word twin — fails ONLY r_word_count
    //  - stop1: 25 'the' + 25 'cat' — 1 distinct stop, fails ONLY r_stops
    //  - bul9: 9 of 10 nonblank lines bulleted — bullet_line_frac
    //    exactly 0.9 (rule-4 bound), KEEP; 69 words (9 bullets + 60
    //    alpha), 249 non-ws chars → mean 3.608696, alpha 0.869565
    //  - bul10: all 10 bulleted — 1.0, fails ONLY r_bullets
    val bline = "- that have word word word word"
    val pline = "that have word word word word"
    val gPlants = Seq(
      9900000000L -> (Seq.fill(25)("the") ++ Seq.fill(25)("and")).mkString(" "),
      9900000001L -> (Seq.fill(25)("the") ++ Seq.fill(24)("and")).mkString(" "),
      9900000002L -> (Seq.fill(25)("the") ++ Seq.fill(25)("cat")).mkString(" "),
      9900000003L -> (Seq.fill(9)(bline) :+ pline).mkString("\n"),
      9900000004L -> Seq.fill(10)(bline).mkString("\n"))
    val allPass = Seq("r_word_count", "r_word_len", "r_symbol", "r_bullets",
      "r_ellipsis", "r_alpha", "r_stops", "keep").map(_ -> true).toMap
    // (n_words, mean_word_len, bullet_line_frac, n_required_stops, rules)
    val gExpect = Map(
      9900000000L -> ((50L, 3.0, 0.0, 2L, allPass)),
      9900000001L -> ((49L, 3.0, 0.0, 2L,
        allPass + ("r_word_count" -> false) + ("keep" -> false))),
      9900000002L -> ((50L, 3.0, 0.0, 1L,
        allPass + ("r_stops" -> false) + ("keep" -> false))),
      9900000003L -> ((69L, 3.608696, 0.9, 2L, allPass)),
      9900000004L -> ((70L, 3.571429, 1.0, 2L,
        allPass + ("r_bullets" -> false) + ("keep" -> false))))
    val gopher = ScaleCase[DataFrame, (Long, Map[Long, Row])](
      "t_gopher_rules", S50, k => curCopies(k).select("doc_id", "text"),
      (_, d) => d.unionByName(gPlants.toDF("doc_id", "text")),
      (k, corpus) => {
        val ((n, planted), sec) = timed {
          val out = TextAnalysis.gopherRules(corpus).pin()
          (out.count(), out.filter(col("doc_id") >= 9900000000L).collect()
            .map(r => r.getLong(0) -> r).toMap)
        }
        emit("t_gopher_rules", k, sec, "docs" -> (nDocsCur * k + 5),
          "planted_boundary_docs" -> 5)
        (n, planted)
      },
      (k, o, _) => {
        assert(o._1 == nDocsCur * k + 5,
          s"t_gopher rows ${o._1} != ${nDocsCur * k + 5} (narrow map " +
            "must conserve docs)")
        gExpect.foreach { case (id, (nWords, meanLen, bullets, stops, rules)) =>
          val r = o._2(id)
          assert(r.getAs[Long]("n_words") == nWords &&
            r.getAs[Double]("mean_word_len") == meanLen &&
            r.getAs[Double]("bullet_line_frac") == bullets &&
            r.getAs[Long]("n_required_stops") == stops,
            s"Gopher plant $id measures $r")
          rules.foreach { case (c, v) =>
            assert(r.getAs[Boolean](c) == v, s"doc $id $c != $v") }
        }
      })

    // persisted PQ index + increment: k identical-embedding copies
    // train ONE persisted PQ index; an increment carrying one more copy
    // plus ONE PLANTED vector copied VERBATIM from the smallest base
    // vec_id is appended through the sidecar-validated
    // appendPqIncrement (encode against the SAVED codebooks, no
    // retrain); the reloaded index then serves the planted embedding as
    // a query. Exact observables:
    //  - codes row count = (k + 1) · n_base + 1;
    //  - the planted vector's reloaded codes EQUAL its source's;
    //  - ADC top-k: every one of the k + 1 identical copies of the
    //    source reports adist EQUAL to rank 1's adist — the per-subspace
    //    argmin bound makes that the global minimum;
    //  - fail-fast: an append with foreign (m, k) THROWS.
    def copyVecs(i: Int) = shiftIds(emb0, i, "vec_id" -> 10000000L)
    lazy val chosenVec = emb0.agg(min(col("vec_id"))).head().getLong(0)
    lazy val chosenEmb = emb0.filter(col("vec_id") === chosenVec).head()
      .getAs[scala.collection.Seq[Float]]("embedding").toSeq
    val annPlantId = 9700000000L
    val (dims, mSub, kCells, itersPq) = (64, 4, 8, 2)
    val pqAppend = ScaleCase[(DataFrame, DataFrame), (Long, Boolean,
        Seq[Double], Boolean)]("sim_pq_append", S50,
      k => (replicas(k)(copyVecs), copyVecs(k)),
      (_, d) => (d._1, d._2.unionByName(
        Seq((annPlantId, chosenEmb)).toDF("vec_id", "embedding"))),
      (k, d) => {
        val annPath = Scratch.dir("graft_soak_annidx") + "/idx"
        val ((nCodes, sameCodes, copyAdists, minAdist), sec) = timed {
          val (books, asg) = Pq.train(d._1, dims, mSub, kCells, itersPq)
          AnnIndex.savePq(books, Pq.encode(asg), annPath, dims, mSub, kCells,
            itersPq)
          AnnIndex.appendPqIncrement(d._2, annPath, dims, mSub, kCells,
            itersPq)
          val (b2, a2) = AnnIndex.loadPq(spark, annPath, dims, mSub, kCells,
            itersPq)
          val codesDf = spark.read.parquet(s"$annPath/codes")
          val codePair = codesDf
            .filter(col("vec_id").isin(annPlantId, chosenVec)).collect()
            .map(r => r.getLong(0) ->
              r.getAs[scala.collection.Seq[Long]]("codes").toList).toMap
          // other vectors may share the source's exact code word (m·k
          // gives 4096 combos) and tie at the minimum adist — size k to
          // hold EVERY tied candidate so the tie-break can never crowd a
          // copy out of the returned window
          val nTied = codesDf.filter(col("codes") ===
            array(codePair(chosenVec).map(lit): _*)).count().toInt
          val topk = Pq.adcTopKCodes(
            Seq((annPlantId, chosenEmb)).toDF("vec_id", "embedding"),
            b2, a2, dims, mSub, nTied + 5).collect()
            .sortBy(_.getAs[Int]("rank"))
          val copies = (0 to k).map(i => chosenVec + i * 10000000L).toSet
          (codesDf.count(), codePair(annPlantId) == codePair(chosenVec),
            topk.filter(r => copies(r.getAs[Long]("neighbor_id")))
              .map(_.getAs[Double]("adist")).toSeq,
            topk.head.getAs[Double]("adist"))
        }
        val threw = try {
          AnnIndex.appendPqIncrement(copyVecs(k + 1), annPath, dims, mSub,
            kCells + 8, itersPq)
          false
        } catch { case _: IllegalArgumentException => true }
        emit("sim_pq_append", k, sec, "index_vectors" -> nCodes,
          "copies_at_min_adist" -> copyAdists.length)
        (nCodes, sameCodes, copyAdists.map(_ - minAdist), threw)
      },
      (k, o, _) => {
        val (nCodes, sameCodes, copyGaps, threw) = o
        val nEmb = emb0.count()
        assert(nCodes == (k + 1) * nEmb + 1,
          s"sim_pq_append codes $nCodes != ${(k + 1) * nEmb + 1}")
        assert(sameCodes, "a verbatim copy must quantize identically " +
          "against the persisted codebooks")
        assert(copyGaps.length == k + 1 && copyGaps.forall(_ == 0.0),
          s"sim_pq_append top-k copies' adist above the minimum: $copyGaps")
        assert(threw, "a foreign-parameter append must fail fast on the " +
          "_graft_ann_params sidecar")
      })

    // ========================= corpus ingest =========================

    // The three ingest front doors end to end over dumps synthesized by
    // the generators below. One unit (k = 1) is 400 articles + 80
    // redirects, 600 WARC records and 2,500 Wikidata items; k = 100
    // writes about 0.25 GB per dump. Each case prints one `stage` line
    // per pipeline stage. Every count is closed form in the unit sizes;
    // characters, links, bytes and the link-model counts are printed
    // only.
    def stage(name: String, k: Int, sec: Double, extra: (String, Any)*)
        : Unit = line("stage", name, k, sec, extra)
    // 64 text parts (a splittable multi-part dump); each row ends where
    // the reader's record delimiter completes: (dir, bytes, seconds)
    def dump(rows: Dataset[String]): (String, Long, Double) = {
      val dir = Scratch.dir("graft_corpus_dump")
      val (bytes, sec) = timed {
        rows.repartition(64).write.mode("overwrite").text(dir)
        java.nio.file.Files.walk(java.nio.file.Paths.get(dir))
          .filter(p => java.nio.file.Files.isRegularFile(p))
          .mapToLong(p => java.nio.file.Files.size(p)).sum()
      }
      (dir, bytes, sec)
    }
    // n_chars, n_links and n_astral (docs keeping an astral-plane char)
    def textObs(docs: DataFrame): Seq[(String, Long)] = {
      val r = docs.agg(sum(length(col("text"))), sum(size(col("links"))),
        count(when(col("text").rlike("[\\x{1F300}-\\x{1F6FF}]"), 1))).head()
      Seq("n_chars" -> r.getLong(0), "n_links" -> r.getLong(1),
        "n_astral" -> r.getLong(2))
    }

    // wiki dump (S2 scan, S3 StAX parse, J6 redirect fixpoint, F5-F10
    // markup removal and link resolution, link models). Planted:
    // depth-6 redirect chains, which J6's 3 doubling hops (2³ = 8)
    // must collapse onto their article; a dangling tail of nRed mod 6
    // redirects whose last one names the missing page "Redir nRed", so
    // it must stay unresolved rather than fail; a 2-cycle RedirCycleA ↔
    // RedirCycleB that must degenerate to self-maps and be dropped; and
    // astral-plane text on every 7th article that the parse must keep.
    def wikiUnit(k: Int) = (400L * k, 80L * k)
    val wiki = ScaleCase[Dataset[String], (Long, Long, Long, Long, Long,
        Long)]("s2_wiki_dump", Seq(100, 1000),
      k => {
        val (nArt, nRed) = wikiUnit(k)
        spark.range(0, nArt).map(i => articleXml(i, nArt, nRed))
          .unionAll(spark.range(0, nRed).map(j => redirectXml(j, nArt, nRed)))
      },
      (_, d) => d.unionAll(Seq(
        cycleXml("RedirCycleA", "RedirCycleB", 20000001L),
        cycleXml("RedirCycleB", "RedirCycleA", 20000002L)).toDS()),
      (k, rows) => {
        val (nArt, nRed) = wikiUnit(k)
        val (dir, bytes, genSec) = dump(rows)
        stage("dump_synthesis", k, genSec, "bytes" -> bytes,
          "n_articles" -> nArt, "n_redirects" -> (nRed + 2))
        timedCached(Wiki.pages(spark, dir)) {
            (pages, nPages, scanSec) =>
          stage("s2_s3_scan_parse", k, scanSec, "n_pages" -> nPages)
          timedCached(Wiki.redirects(spark, pages)) {
              (red, nRedirects, redSec) =>
            // a target still naming a redirect page is unresolved
            val unresolved = red
              .filter(col("target").contains("/wiki/Redir_")).count()
            val cycleRows = red
              .filter(col("source").contains("RedirCycle")).count()
            // which side of Wiki.RedirectFoldRows the closure ran on
            val folded =
              red.queryExecution.analyzed.isInstanceOf[LocalRelation]
            stage("j6_redirect_fixpoint", k, redSec,
              "n_redirects" -> nRedirects, "n_unresolved" -> unresolved,
              "n_cycle_rows" -> cycleRows, "driver_fold" -> folded)
            timedCached(Wiki.articles(spark, pages, red)) {
                (docs, nDocs, parseSec) =>
              val obs = textObs(docs)
              stage("f5_f10_markup_links", k, parseSec,
                ("n_docs" -> nDocs) +: obs: _*)
              val (nCounts, ecSec) = timed {
                LinkModels.entityCounts(docs, minCount = 1).count()
              }
              stage("m_entity_counts", k, ecSec, "n_entities" -> nCounts)
              val (nInl, inlSec) = timed(LinkModels.entityInlinks(docs).count())
              stage("m_entity_inlinks", k, inlSec, "n_entities" -> nInl)
              (nPages, nRedirects, unresolved, cycleRows, nDocs, obs(2)._2)
            }
          }
        }
      },
      (k, o, _) => {
        val (nArt, nRed) = wikiUnit(k)
        assert(o == ((nArt + nRed + 2, nRed, nRed % 6, 0L, nArt,
          (nArt + 6) / 7)), s"wiki (pages, redirects, unresolved, cycle " +
          s"rows, docs, astral docs) $o at $k")
      })

    // WARC dump (S4 + F11). Planted by record id: ids 0-4 oversized
    // (the 250 KB cleaned-text gate must drop them), every 23rd a
    // request and every 29th a 404 (the parser must skip both), astral
    // text every 7th page (it must survive the HTML sweep).
    def warcKept(n: Long) =
      (5L until n).filter(i => i % 23 != 0 && i % 29 != 0)
    val warc = ScaleCase[Dataset[String], (Long, Long)]("s4_warc_dump",
      Seq(100, 1000),
      k => { val n = 600L * k; spark.range(0, n).map(i => warcRecord(i, n)) },
      asIs,
      (k, rows) => {
        val (dir, bytes, genSec) = dump(rows)
        stage("warc_synthesis", k, genSec, "bytes" -> bytes,
          "n_records" -> 600L * k,
          "n_expected_docs" -> warcKept(600L * k).size.toLong)
        timedCached(WarcSource.documents(spark, dir)) {
            (docs, nDocs, sec) =>
          val obs = textObs(docs)
          stage("s4_warc_pipeline", k, sec, ("n_docs" -> nDocs) +: obs: _*)
          (nDocs, obs(2)._2)
        }
      },
      (k, o, _) => {
        val kept = warcKept(600L * k)
        assert(o == ((kept.size.toLong, kept.count(_ % 7 == 0).toLong)),
          s"WARC (docs, astral docs) $o at $k")
      })

    // Wikidata dump (S5 + F14/F15 + J4/J5), three predicate items and
    // the JSON array brackets planted. Item Q(i+1): no en label every
    // 13th (dropped from the label tables, item kept), no enwiki
    // sitelink every 10th (no relations row), P2 snaktype "somevalue"
    // every 11th (filtered). A linked item's row holds 3 entries, 2
    // when its P2 was filtered.
    def wikidataExpect(n: Long) = {
      val rows = (1L to n).count(_ % 10 != 0).toLong
      (rows, 3 * rows - (1L to n).count(id => id % 10 != 0 && id % 11 == 0))
    }
    val wikidata = ScaleCase[Dataset[String], (Long, Long, Long)](
      "s5_wikidata_dump", Seq(100, 1000),
      k => {
        val n = 2500L * k
        spark.range(0, n).map(i => wikidataItem(i, n))
      },
      (_, d) => d.unionAll(Seq(
        """{"id":"P1","labels":{"en":{"value":"references"}},"claims":{}},""",
        """{"id":"P2","labels":{"en":{"value":"inception"}},"claims":{}},""",
        """{"id":"P3","labels":{"en":{"value":"motto"}},"claims":{}},""",
        "[", "]").toDS()),
      (k, rows) => {
        val (dir, bytes, genSec) = dump(rows)
        val (expRows, expEntries) = wikidataExpect(2500L * k)
        stage("wd_synthesis", k, genSec, "bytes" -> bytes,
          "n_items" -> 2500L * k, "n_expected_rows" -> expRows,
          "n_expected_entries" -> expEntries)
        val (nItems, itSec) = timed {
          Wikidata.items(spark, dir).count()
        }
        stage("s5_items_scan", k, itSec, "n_items" -> nItems)
        timedCached(Wikidata.relations(spark, dir)) {
            (rel, nRel, relSec) =>
          val nEntries = rel.agg(sum(size(col("relations")))).head().getLong(0)
          stage("s5_relations", k, relSec, "n_rows" -> nRel,
            "n_entries" -> nEntries)
          (nItems, nRel, nEntries)
        }
      },
      (k, o, _) => {
        val (rows, entries) = wikidataExpect(2500L * k)
        assert(o == ((2500L * k + 3, rows, entries)),
          s"Wikidata (items, relation rows, entries) $o at $k")
      })

    Seq(lsh, embNd, salted, substr, fuzzy, triangles,
      bpe, hitters, quantiles, graphs,
      er, scd,
      events,
      baskets, itemCf, prefixJ, histogram, km, markov,
      sem,
      logistic, irls, fisher, kendall, theilSen, acf, kCenter, debias,
      chi2, tfidf, substrRm,
      budget, interleave, lmFilter, lineDedup, incremental, ppl, gopher,
      pqAppend,
      wiki, warc, wikidata)
  }

  // ---------------- corpus dump generators ----------------

  private val vocab: Array[String] = Array(
    "history", "river", "system", "valley", "empire", "music", "theory",
    "battle", "bridge", "canton", "design", "energy", "forest", "garden",
    "harbor", "island", "jungle", "kernel", "ledger", "market", "nation",
    "origin", "palace", "quarry", "region", "signal", "temple", "union",
    "vessel", "window", "archive", "balance", "culture", "dynasty",
    "economy", "faculty", "granite", "horizon", "imperial", "journal",
    "kingdom", "lattice", "mansion", "network", "observer", "province",
    "quantum", "railway", "station", "treaty", "uplands", "village",
    "western", "textile", "ancient", "borough", "citadel", "document",
    "estuary", "frontier", "gallery", "heritage", "industry", "junction")

  /** Deterministic word soup: `n` vocab words seeded by (seed, salt),
    * sentence-cased with periods — regex-shaped like real prose.
    */
  private def words(seed: Long, salt: Long, n: Int): String = {
    val sb = new StringBuilder(n * 8)
    var x = seed * 6364136223846793005L + salt
    var i = 0
    while (i < n) {
      x = x * 6364136223846793005L + 1442695040888963407L
      val w = vocab(((x >>> 33) % vocab.length).toInt)
      if (i > 0) sb.append(' ')
      sb.append(w)
      if (i % 13 == 12) sb.append('.')
      i += 1
    }
    sb.toString
  }

  /** One article page (~6 KB of wikitext): nested-template infobox,
    * links direct and via redirects, refs/comments/entities, astral
    * text every 7th page, File/Category/interlang footers. The row
    * ends with "\n  </page>" so the text sink's row separator completes
    * the S2 record delimiter exactly as a real dump does.
    */
  private def articleXml(id: Long, nArt: Long, nRed: Long): String = {
    def art(k: Long) = s"Article ${(id * 7 + k * 131 + 1) % nArt}"
    def red(k: Long) = s"Redir ${(id * 5 + k * 17) % nRed}"
    val astral = if (id % 7 == 0)
      " Unicode stress: 🌍😀 𝄞 " +
        "𠀋 title." else ""
    val body = new StringBuilder(8192)
    body.append(s"{{Infobox place|name=Article $id|population=")
      .append(id % 90000)
      .append("|era={{circa|").append(1200 + id % 800)
      .append("}}|box={{nest|{{deep|inner}}}}}}\n")
    body.append(s"'''Article $id''' is a [[${art(0)}]] of the ")
      .append(s"[[${art(1)}|${words(id, 11, 3)}]] group.")
      .append("&lt;ref&gt;Primary cite.&lt;/ref&gt; ")
      .append(s"It derives from [[${red(0)}]] custom &amp; practice.")
      .append("&lt;!-- editorial note --&gt;").append(astral).append("\n\n")
    body.append("== History ==\n")
      .append(words(id, 23, 220)).append(' ')
      .append(s"See [[${red(1)}|the older form]] and [[${art(2)}]]. ")
      .append("See [http://example.org/archive the archive] for ")
      .append("the letter &#65; aside.\n\n")
    body.append("== Geography ==\n")
      .append(words(id, 37, 240)).append(' ')
      .append(s"Compare [[${art(3)}]] and [[${art(4)}|nearby]].\n\n")
    body.append("== Economy ==\n")
      .append(words(id, 41, 220)).append('\n')
    body.append(s"[[File:Map $id.svg|thumb|left|Survey map.]]\n")
      .append("[[Category:Synthetic articles]]\n")
      .append(s"[[fr:Article $id]]")
    s"""  <page>
       |    <title>Article $id</title>
       |    <ns>0</ns>
       |    <id>${1000 + id}</id>
       |    <revision>
       |      <id>${500000000L + id}</id>
       |      <text bytes="${body.length}" xml:space="preserve">$body</text>
       |    </revision>
       |  </page>""".stripMargin
  }

  /** Redirect pages in chains of depth 6: positions 0..4 of each chain
    * point at the next redirect, position 5 at an article.
    */
  private def redirectXml(j: Long, nArt: Long, nRed: Long): String = {
    val target =
      if (j % 6 == 5) s"Article ${(j / 6 * 37) % nArt}"
      else s"Redir ${j + 1}"
    s"""  <page>
       |    <title>Redir $j</title>
       |    <ns>0</ns>
       |    <id>${10000000L + j}</id>
       |    <redirect title="$target" />
       |    <revision>
       |      <id>${600000000L + j}</id>
       |      <text bytes="30" xml:space="preserve">#REDIRECT [[$target]]</text>
       |    </revision>
       |  </page>""".stripMargin
  }

  private def cycleXml(a: String, b: String, pid: Long): String =
    s"""  <page>
       |    <title>$a</title>
       |    <ns>0</ns>
       |    <id>$pid</id>
       |    <redirect title="$b" />
       |    <revision>
       |      <id>${700000000L + pid}</id>
       |      <text bytes="30" xml:space="preserve">#REDIRECT [[$b]]</text>
       |    </revision>
       |  </page>""".stripMargin

  /** One CommonCrawl-style HTML page (~4.5 KB): head/style/script to
    * DROP, nav + footer boilerplate, main content with anchors,
    * entities, comments, astral text every 7th page.
    */
  private def htmlPage(id: Long, nPages: Long): String = {
    def link(k: Long) =
      s"""<a href="http://site.example/p${(id * 7 + k * 113 + 1) % nPages}">${words(id, 50 + k, 3)}</a>"""
    val astral = if (id % 7 == 0) " 🌍😀 astral marker." else ""
    s"""<html><head><title>Page $id</title><style>body{color:#000}</style>
       |<script>var x = $id; function f(){return x*2;}</script></head>
       |<body><div class="nav"><ul><li>${link(0)}</li><li>${link(1)}</li></ul></div>
       |<!-- boilerplate comment -->
       |<div id="main"><h1>Page $id</h1>
       |<p>${words(id, 61, 200)} ${link(2)} &amp; more.$astral</p>
       |<p>${words(id, 67, 220)}</p>
       |<table><tr><td>${words(id, 71, 40)}</td></tr></table>
       |<p>${words(id, 73, 200)} ${link(3)}.</p>
       |</div><div class="footer">${link(4)} &#169; site</div></body></html>"""
      .stripMargin
  }

  /** WARC record `id` of `nPages` as a text-sink row: the row ends with
    * the "WARC/1.0\r" marker so the sink's row separator completes the
    * "WARC/1.0\r\n" record delimiter the S4 scan splits on. Ids 0-4
    * are oversized responses, then every 23rd a request record and
    * every 29th a 404.
    */
  private def warcRecord(id: Long, nPages: Long): String = {
    val url = s"http://site.example/p$id"
    val ok = "HTTP/1.1 200 OK\r\nContent-Type: text/html\r\n\r\n"
    val payload =
      if (id < 5)
        ok + s"<html><body><p>${words(id, 91, 40000)}</p></body></html>"
      else if (id % 23 == 0) s"GET /p$id HTTP/1.1"
      else if (id % 29 == 0) "HTTP/1.1 404 Not Found\r\n" +
        "Content-Type: text/html\r\n\r\n<html>gone</html>"
      else ok + htmlPage(id, nPages)
    val warcType = if (id >= 5 && id % 23 == 0) "request" else "response"
    s"WARC-Type: $warcType\r\nWARC-Target-URI: $url\r\n" +
      s"Content-Length: ${payload.length}\r\n\r\n$payload\r\nWARC/1.0\r"
  }

  /** One Wikidata item line (~0.9 KB JSON, trailing comma as real dumps
    * have): en label missing on every 13th item, enwiki sitelink on
    * 90%, claims P1 wikibase-item reference, P2 time (snaktype
    * "somevalue" on every 11th item), P3 string.
    */
  private def wikidataItem(i: Long, nQ: Long): String = {
    val id = i + 1
    val ref1 = (id * 31) % nQ + 1
    val labels =
      if (id % 13 != 0) s"""{"en":{"value":"Entity $id"}}""" else "{}"
    val site =
      if (id % 10 != 0)
        s""","sitelinks":{"enwiki":{"title":"Entity $id"}}"""
      else ""
    val p2 =
      if (id % 11 == 0)
        """"P2":[{"mainsnak":{"snaktype":"somevalue","datatype":"time"}}]"""
      else
        s""""P2":[{"mainsnak":{"snaktype":"value","datatype":"time","datavalue":{"value":{"time":"+${1000 + id % 1000}-01-01T00:00:00Z","precision":11},"type":"time"}}}]"""
    s"""{"id":"Q$id","labels":$labels$site,"claims":{""" +
      s""""P1":[{"mainsnak":{"snaktype":"value","datatype":"wikibase-item","datavalue":{"value":{"numeric-id":$ref1},"type":"wikibase-entityid"}}}],""" +
      p2 + "," +
      s""""P3":[{"mainsnak":{"snaktype":"value","datatype":"string","datavalue":{"value":"${words(id, 83, 40)}","type":"string"}}}]}},"""
  }

  /** JVM twin of Hashing.md5Long (conv(substring(md5(x),1,15),16,10))
    * — pre-picks planted doc_ids onto the held-out split.
    */
  private def md5Long(s: String): Long = {
    val hex = java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8"))
      .map(b => f"${b & 0xff}%02x").mkString.take(15)
    java.lang.Long.parseLong(hex, 16)
  }
}
