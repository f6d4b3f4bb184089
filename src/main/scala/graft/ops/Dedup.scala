package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.ops.Pins.PinSyntax

/** Large-corpus deduplication operators (the LLM-training-pipeline surface;
  * north-star requirement beyond the reference, which only has exact
  * `distinct()` — sift/corpora/wikipedia.py:54).
  *
  * All operators are declarative DataFrame plans: tokenize/shingle/hash are
  * higher-order column expressions (whole-stage-codegen'd, no UDFs), and
  * every candidate-generation step is a key-equality shuffle join so it
  * partitions cleanly at 100 TB:
  *
  *  - exact:     one hash-aggregate on a 128-bit content fingerprint.
  *  - MinHash:   per-doc signature (map-side, no shuffle) → explode to
  *               (band, bandKey) → shuffle ONLY on band keys (tiny rows) →
  *               within-bucket pairs → exact-Jaccard verify via a shingle
  *               equi-join. Never materializes the O(n²) pair space.
  *  - SimHash:   relational bit-vote (two partial-aggregated groupBys) →
  *               pigeonhole byte-band join (Hamming ≤ 3 over 4 bytes ⇒ at
  *               least one byte equal) → bit_count verify.
  *  - n-gram Jaccard (ground truth): explode distinct shingles → equi-join
  *               on shingle → pair intersection counts. Shuffles on the
  *               shingle key; hot shingles are the skew risk at scale —
  *               mitigate by dropping shingles with document frequency
  *               above a cap (a standard trick; exposed as `maxShingleDf`).
  *
  * Hash family: [[Hashing.md5Long]] (cross-engine verifiable). For
  * production-scale runs swap `xxhash64` in via the same call sites.
  */
object Dedup {
  import Hashing._

  /** doc → (doc_id, tokens) with the engine tokenizer. */
  def tokenized(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), expr(tokensSql).as("tokens"))

  /** Distinct word n-gram shingles per doc (drops docs shorter than n). */
  def shingled(docs: DataFrame, n: Int): DataFrame = {
    Hashing.ensureRegistered(docs)
    tokenized(docs)
      .filter(size(col("tokens")) >= n)
      .select(col("doc_id"),
        array_distinct(expr(s"graft_ngrams(tokens, $n)")).as("shingles"))
  }

  /** Benchmark CONTAMINATION hits — training-data hygiene: for each
    * training document, how many of its distinct n-token shingles occur
    * anywhere in an evaluation/benchmark set. Docs with hits carry eval
    * content and must not be trained on (test-set leakage).
    *
    * Scale shape: shingle both sides, distinct the (small) benchmark
    * shingle set, meet in a shingle-key equi-join with the benchmark
    * side explicitly BROADCAST — eval sets are tiny next to a 100 TB
    * corpus, and the explicit hint keeps the training-side shingle
    * stream unshuffled without depending on AQE's size estimate of a
    * post-explode subtree — then one count aggregate per doc. No O(n²),
    * nothing on the driver. Docs shorter than n tokens have no shingles
    * and report no hits.
    *
    * SIZE BOUND on the broadcast: distinct benchmark shingles must fit
    * in executor + driver memory (~16 B/hash + overhead: up to low
    * hundreds of millions of shingles ≈ a few GB — far beyond any eval
    * suite; a full MMLU+GSM8K-class union is < 10⁷ shingles). If the
    * "benchmark" side is genuinely corpus-scale, pass
    * `broadcastBenchmark = false` to degrade to a plain shuffle
    * equi-join instead of OOMing the driver.
    */
  def contaminationHits(docs: DataFrame, benchmark: DataFrame,
      n: Int = 8, broadcastBenchmark: Boolean = true): DataFrame = {
    val ds = shingled(docs, n)
      .select(col("doc_id"), explode(col("shingles")).as("shg"))
    val bs = shingled(benchmark, n)
      .select(explode(col("shingles")).as("shg")).distinct()
    ds.join(if (broadcastBenchmark) broadcast(bs) else bs, Seq("shg"))
      .groupBy("doc_id").agg(count(lit(1)).as("n_hits"))
  }

  /** Benchmark DECONTAMINATION: the training corpus minus every document
    * sharing at least one n-token shingle with the benchmark set (all
    * input columns pass through). The complement report is
    * [[contaminationHits]]; the anti-join keys on doc_id, so the wide
    * document payload never shuffles through the shingle join.
    */
  def decontaminate(docs: DataFrame, benchmark: DataFrame,
      n: Int = 8): DataFrame =
    docs.join(contaminationHits(docs, benchmark, n).select("doc_id"),
      Seq("doc_id"), "left_anti")

  /** THRESHOLDED contamination report — the PaLM/GPT-4 refinement of
    * the any-hit rule: for every training document, the FRACTION of
    * its distinct n-token shingles that appear anywhere in the
    * benchmark set. Any-hit decontamination ([[decontaminate]]) drops
    * a 10 000-shingle document over one incidental collision; the
    * production recipe keeps documents below a contamination-fraction
    * threshold and drops only substantial overlaps — this operator
    * emits the per-doc evidence (doc_id, n_shingles, n_hits, frac)
    * and leaves the cut to the caller.
    *
    * SCALE SHAPE: the benchmark shingle set broadcasts (eval sets are
    * tiny next to a 100 TB corpus); training shingles LEFT-join the
    * broadcast so misses count too, then ONE doc_id-keyed aggregate.
    * The wide document payload never enters the shingle join.
    */
  def contaminationFraction(docs: DataFrame, benchmark: DataFrame,
      n: Int = 8): DataFrame = {
    // shingles are array_distinct per doc, so counts are over the
    // distinct-shingle universe of each document
    val ds = shingled(docs, n)
      .select(col("doc_id"), explode(col("shingles")).as("shg"))
    val bs = shingled(benchmark, n)
      .select(explode(col("shingles")).as("shg")).distinct()
      .withColumn("__hit", lit(1L))
    ds.join(broadcast(bs), Seq("shg"), "left")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_shingles"),
        coalesce(sum(col("__hit")), lit(0L)).as("n_hits"))
      .withColumn("frac", round(col("n_hits").cast("double") /
        col("n_shingles").cast("double"), 6))
  }

  /** SEMANTIC deduplication (the SemDeDup recipe, Abbas et al. 2023):
    * cluster the embedding space with the deterministic spherical
    * k-means of [[Similarity.kmeansCells]], then compare vectors ONLY
    * within their cluster — a vector is a semantic duplicate when some
    * SMALLER-vec_id cluster-mate sits at cosine ≥ `threshold`. The
    * cluster step is what makes the quadratic pairwise comparison
    * tractable: the pair space is Σ|cellᵢ|² instead of |corpus|², and
    * each cell's self-join is an equi-join on the cell key.
    *
    * Keep rule: one pass, keep-smallest-id — v is dropped iff ∃ u < v
    * in the same cell with round(cos(u,v),6) ≥ threshold (the witness
    * need not itself be kept; the one-pass variant of SemDeDup's
    * greedy, chosen because it is order-free and oracle-replayable).
    * Returns every vector: (vec_id, cell, dup_of = min witness or
    * NULL, kept 1/0). Cosines compare at round-6 so both engines cut
    * at the identical grid.
    *
    * SCALE SHAPE: k-means is per-round one broadcast join + one (cell,
    * dim) aggregate; the dedup step shuffles once on `cell` and
    * aggregates once on `vec_id`. Cluster count k is the knob that
    * bounds per-cell pair cost — production corpora run k ≈ √n.
    */
  def semanticDedup(corpus: DataFrame, k: Int, iters: Int,
      threshold: Double): DataFrame = {
    val clustered = Similarity.kmeansCells(corpus, k, iters)
      .pin(true) // both sides of the self-join read it
    val a = clustered.select(col("cell"), col("vec_id").as("u"),
      col("embedding").as("ue"))
    val b = clustered.select(col("cell"), col("vec_id").as("v"),
      col("embedding").as("ve"))
    val witnesses = a.join(b, Seq("cell"))
      .filter(col("u") < col("v"))
      .filter(round(expr(Similarity.cosineSql("ue", "ve")), 6)
        >= threshold)
      .groupBy(col("v").as("vec_id")).agg(min(col("u")).as("dup_of"))
    clustered.select("vec_id", "cell")
      .join(witnesses, Seq("vec_id"), "left")
      .withColumn("kept", when(col("dup_of").isNull, 1L).otherwise(0L))
  }

  /** [[decontaminate]] in its 100 TB shape: the benchmark side
    * compresses to ONE broadcast m-bit Bloom row
    * ([[graft.functions.BloomSketch]], OR-merge) and each training
    * shingle tests membership in a codegen'd bit probe — no equi-join
    * against the benchmark shingle set, which at 10⁹ benchmark
    * shingles is the difference between broadcasting a few MB of bits
    * and shuffling the set. A Bloom filter has NO false negatives, so
    * a contaminated document can never survive; the deterministic
    * false positives (bits are a pure function of the md5 family —
    * oracle-replayable) can only drop extra clean docs, at a rate set
    * by m and k against the benchmark shingle count.
    */
  def bloomDecontaminate(docs: DataFrame, benchmark: DataFrame,
      n: Int = 8, m: Int = 1 << 20, k: Int = 4): DataFrame = {
    Hashing.ensureRegistered(docs)
    val bloom = shingled(benchmark, n)
      .select(explode(col("shingles")).as("sh"))
      .select(expr(md5LongSql("sh")).as("h"))
      .agg(expr(s"graft_bloom(h, $m, $k)").as("__bloom"))
    val flagged = shingled(docs, n)
      .select(col("doc_id"), explode(col("shingles")).as("sh"))
      .select(col("doc_id"), expr(md5LongSql("sh")).as("h"))
      .crossJoin(broadcast(bloom))
      .filter(expr(graft.functions.BloomSketch
        .mightContainSql("__bloom", "h", m, k)))
      .select("doc_id").distinct()
    docs.join(flagged, Seq("doc_id"), "left_anti")
  }

  /** Exact dedup: 128-bit fingerprint of the token-normalized content;
    * group representatives = min doc_id. One hash aggregate, no joins.
    */
  def exact(docs: DataFrame): DataFrame =
    tokenized(docs)
      .select(col("doc_id"), md5(concat_ws(" ", col("tokens"))).as("fp"))
      .groupBy("fp")
      .agg(min("doc_id").as("keep_doc"), count(lit(1)).as("n_dups"))

  /** CANONICAL-representative dedup: like [[exact]], but the kept copy
    * per duplicate group is the BEST one under a caller-supplied
    * quality ordering, not the arbitrary min-id — the production
    * dedup policy (duplicates differ in upstream cleaning; keep the
    * longest / highest-scoring). The argmax is a single max(struct)
    * aggregate — (quality, −doc_id) packed so ties break on the
    * SMALLER doc_id deterministically — so the shape stays ONE hash
    * aggregate with no window and no self-join. `quality` must be a
    * non-negative long (struct max compares fields in order).
    */
  def canonical(docs: DataFrame, quality: Column): DataFrame =
    docs
      .select(col("doc_id"), quality.cast("long").as("__q"),
        md5(concat_ws(" ", expr(tokensSql))).as("fp"))
      .groupBy("fp")
      .agg(max(struct(col("__q"), (-col("doc_id")).as("__nid")))
        .as("__best"), count(lit(1)).as("n_dups"))
      .select(col("fp"), (-col("__best.__nid")).as("keep_doc"),
        col("__best.__q").as("quality"), col("n_dups"))

  /** MinHash signatures: sig[i] = min over shingles of h_i(shingle), with
    * h_i(s) = hashFn(i ‖ ':' ‖ s). Pure per-row expression — embarrassingly
    * parallel, no shuffle.
    *
    * `hashFn` defaults to the cross-engine md5 verification family; at
    * production scale pass `s => s"xxhash64($s)"` — Spark's codegen'd
    * 64-bit hash, ~10× cheaper per call, same uniformity (the signature
    * semantics only need a uniform hash family). `DedupHashFamilySpec`
    * exercises the swap.
    */
  def minhashSignatures(sh: DataFrame, k: Int,
      hashFn: String => String = md5LongSql): DataFrame = {
    Hashing.ensureRegistered(sh)
    // LET-BINDING (single-element transform): the lambda variable `shs`
    // pins the shingle array, so CollapseProject cannot inline a
    // computed `shingles` column (and the tokenizer regex under it)
    // into the per-signature-row lambda, where it would be re-built once
    // per row (measured 6-13x on the decontamination gates when the
    // shingle lambda itself was unbound). Same trick everywhere a lambda
    // body references a COMPUTED array column.
    sh.select(col("doc_id"), expr(
      s"element_at(transform(array(shingles), shs -> " +
        s"transform(sequence(0, ${k - 1}), i -> " +
        s"aggregate(shs, 9223372036854775807L, (acc, s) -> " +
        s"least(acc, ${hashFn("concat(cast(i as string), ':', s)")})))), 1)")
      .as("sig"))
  }

  /** (doc_id, band, bkey) — one row per signature band, bkey = md5 of
    * the band's `rows` signature slots. Per-row expression (explode of a
    * computed array), no shuffle; the shared banding step of the batch
    * LSH join AND the streaming near-dup dedup
    * ([[graft.streaming.Events.neardupDedupBuckets]]).
    */
  def bandKeys(sigs: DataFrame, bands: Int, rows: Int): DataFrame =
    // let-bound (see minhashSignatures): `sig` is a computed column —
    // unbound, the whole signature pipeline would be inlined and re-run
    // per band
    sigs.select(col("doc_id"), explode(expr(
      s"element_at(transform(array(sig), sg -> " +
        s"transform(sequence(0, ${bands - 1}), b -> struct(b as band, " +
        s"md5(array_join(transform(slice(sg, b * $rows + 1, $rows), " +
        s"x -> cast(x as string)), ',')) as bkey))), 1)")).as("bb"))
      .select(col("doc_id"), col("bb.band"), col("bb.bkey"))

  /** CROSS-CORPUS DUPLICATED-LINE REMOVAL (the C4 "discard more than
    * once" / RefinedWeb line-dedup stage): any non-blank line whose
    * TRIMMED form occurs in more than `maxDocs` distinct documents is
    * boilerplate (nav bars, cookie banners, license footers) and is
    * struck from EVERY document; each document is then reassembled
    * with its surviving lines in original order. The one dedup class
    * document-local ops can never catch — the duplication is only
    * visible corpus-wide.
    *
    * Returns (doc_id, n_lines, n_kept, n_dropped, clean_text) — one
    * row per input document, including documents whose every line was
    * struck (n_kept 0, empty clean_text).
    *
    * DETERMINISM: the hot-line set is a pure count threshold; kept
    * lines reassemble by the explicit line ordinal (array_sort over
    * (line_no, line) structs — exact), so output is
    * partitioning-invariant. SCALE SHAPE: one explode → hash
    * aggregate on the line key (uniform), one anti-join keyed on the
    * same, one per-doc regroup — the [[exact]] dedup shape applied at
    * line grain; nothing global, no window. At 100 TB the hot-line
    * table is the ONLY cross-partition state and it is count-bounded;
    * swap the trimmed-line key for its xxhash64 to shrink shuffle
    * bytes (md5 kept here for the DuckDB twin).
    */
  def lineDedup(docs: DataFrame, maxDocs: Int): DataFrame = {
    require(maxDocs >= 1, "maxDocs must be >= 1")
    val lines = docs
      .select(col("doc_id"), posexplode(expr("split(text, '\n')"))
        .as(Seq("line_no", "line")))
      .withColumn("lkey", trim(col("line")))
    val totals = docs.select(col("doc_id"),
      expr("size(split(text, '\n'))").cast("long").as("n_lines"))
    val hot = lines.filter(length(col("lkey")) > 0)
      .groupBy("lkey").agg(countDistinct(col("doc_id")).as("__nd"))
      .filter(col("__nd") > maxDocs)
      .select("lkey")
    val kept = lines.join(hot, Seq("lkey"), "left_anti")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_kept"),
        expr("array_join(transform(array_sort(collect_list(" +
          "struct(line_no, line))), s -> s.line), '\n')")
          .as("clean_text"))
    totals.join(kept, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_lines"),
        coalesce(col("n_kept"), lit(0L)).as("n_kept"),
        (col("n_lines") - coalesce(col("n_kept"), lit(0L)))
          .as("n_dropped"),
        coalesce(col("clean_text"), lit("")).as("clean_text"))
  }

  /** CROSS-RUN INCREMENTAL NEAR-DUP CHECK — the shape a 100 TB corpus
    * actually dedups in: crawls arrive as monthly INCREMENTS and each
    * new batch must be checked against the accumulated prior corpus
    * WITHOUT re-banding it (the reference processes crawl increments
    * as separate runs; reference README:52-53). The prior corpus is
    * represented by its MinHash band-key INDEX (band, bkey,
    * prior_doc) — persisted to parquet and RELOADED when `indexPath`
    * is given (the gate's mode: the joined state is the file a prior
    * run left behind, not a live plan), in production bucketed on
    * (band, bkey) and appended per run, so the increment join is
    * zero-exchange on the (huge) index side and only the (small)
    * increment shuffles. The increment's
    * band keys come from the SAME expressions ([[shingled]] →
    * [[minhashSignatures]] → [[bandKeys]]), so index rows written by
    * any previous run collide correctly with this run's keys.
    *
    * Returns one row per shingle-able increment doc: (doc_id, is_dup
    * — any band collision with the prior corpus — first_prior_match =
    * the smallest colliding prior doc, n_prior_matches = distinct
    * colliding prior docs). Collisions are LSH candidates (Jaccard ≳
    * the band threshold with LSH probability); chain
    * [[exactJaccard]]-style verification downstream when the policy
    * needs exact containment, exactly as [[minhashLsh]] does intra-run.
    *
    * DETERMINISM: is_dup is a max over {0,1}; first/count are
    * min/COUNT DISTINCT — all order-free. SCALE SHAPE: one equi-join
    * keyed on the uniform (band, bkey) hash + one per-doc aggregate;
    * the prior corpus is touched only through its index.
    */
  def incrementalNearDup(prior: DataFrame, incr: DataFrame,
      shingleN: Int = 3, k: Int = 8, bands: Int = 4, rows: Int = 2,
      indexPath: Option[String] = None): DataFrame = {
    val built = bandIndexRows(prior, shingleN, k, bands, rows)
    // `indexPath` makes the cross-RUN claim literal: the prior
    // corpus's band index is WRITTEN to parquet and the increment
    // joins against the RELOADED file — the state that run N+1 reads
    // is exactly what run N persisted (and what successive runs
    // APPEND to — [[appendBandIndex]]), not a live plan over the
    // prior frame. Production layout: partition/bucket the index
    // files by (band, bkey) so the increment join is zero-exchange
    // on the (huge) index side.
    val idx = indexPath.fold(built) { p =>
      built.write.mode("overwrite").parquet(p)
      writeLshParams(built, p, shingleN, k, bands, rows)
      built.sparkSession.read.parquet(p)
    }
    nearDupAgainstIndex(incr, idx, shingleN, k, bands, rows)
  }

  /** One batch's rows of the cross-run band-key index:
    * (band, bkey, prior_doc) via the SAME [[shingled]] →
    * [[minhashSignatures]] → [[bandKeys]] expressions every run uses,
    * so rows written by any run collide correctly with any later
    * run's keys.
    */
  private def bandIndexRows(batch: DataFrame, shingleN: Int, k: Int,
      bands: Int, rows: Int): DataFrame =
    bandKeys(minhashSignatures(shingled(batch, shingleN), k),
      bands, rows)
      .select(col("band"), col("bkey"), col("doc_id").as("prior_doc"))

  /** The LSH-parameter sidecar guarding the persistent cross-run index
    * (r13 advice item 2): (shingleN, k, bands, rows) determine every
    * band key, so an append or query with different values would
    * silently produce wrong dup verdicts — incompatible keys never
    * collide, they just never match. The writer persists
    * `_graft_lsh_params` next to the parquet files (underscore prefix:
    * invisible to parquet directory scans, the `_SUCCESS` convention);
    * appends and path-addressed queries validate against it and FAIL
    * FAST on mismatch.
    */
  private def lshParams(shingleN: Int, k: Int, bands: Int,
      rows: Int): String =
    s"shingle_n=$shingleN\nk=$k\nbands=$bands\nrows=$rows\n"

  private def paramsSidecar(df: DataFrame, indexPath: String) =
    ParamsSidecar(df.sparkSession, indexPath, "_graft_lsh_params")

  /** SIBLING of the index directory (so a `mode("overwrite")` parquet
    * write — which deletes the directory, sidecar included — cannot
    * touch it): the crash-recovery copy of the parameters, written
    * BEFORE the overwrite and deleted after the in-directory sidecar
    * is re-stamped (r14 advice: a crash between the parquet write and
    * the re-stamp used to leave a sidecar-less index the next append
    * silently adopted, defeating the fail-fast guard).
    */
  private def pendingSidecar(df: DataFrame, indexPath: String) = {
    val dir = new org.apache.hadoop.fs.Path(indexPath)
    ParamsSidecar(df.sparkSession, new org.apache.hadoop.fs.Path(
      Option(dir.getParent).getOrElse(dir),
      "." + dir.getName + "._graft_lsh_params.pending"))
  }

  private def writeLshParams(df: DataFrame, indexPath: String,
      shingleN: Int, k: Int, bands: Int, rows: Int): Unit =
    paramsSidecar(df, indexPath).write(lshParams(shingleN, k, bands, rows))

  /** Validate `indexPath`'s sidecar against this call's parameters.
    * `adopt`: a legacy index without a sidecar gets one stamped with
    * the caller's values (appends adopt — the parameters are
    * unverifiable either way, and stamping makes every SUBSEQUENT
    * mismatch fail fast); read-only queries never write (adopt=false).
    */
  private def requireLshParams(df: DataFrame, indexPath: String,
      shingleN: Int, k: Int, bands: Int, rows: Int,
      adopt: Boolean): Unit = {
    val side = paramsSidecar(df, indexPath)
    val want = lshParams(shingleN, k, bands, rows)
    def mismatch(src: String)(got: String, want: String): String =
      s"LSH band index at $indexPath was built with [$got] ($src) but " +
        s"this call passed [$want]: mixed parameters never collide " +
        "correctly — rebuild the index or match its parameters"
    if (!side.exists) {
      // a crash-interrupted overwrite leaves the parameters in the
      // sibling pending file — recover them instead of adopting
      val pending = pendingSidecar(df, indexPath)
      if (pending.exists) {
        pending.requireSame(want)(mismatch("recovered from pending file"))
        if (adopt) {
          side.write(want)
          pending.delete()
        }
      } else if (adopt) {
        // true legacy index: parameters unverifiable — adopt (so every
        // SUBSEQUENT mismatch fails fast), but never silently
        System.err.println(s"[graft] WARN: band index at $indexPath " +
          "has no _graft_lsh_params sidecar; adopting this call's " +
          s"parameters [${want.trim.replace('\n', ' ')}] unverified")
        side.write(want)
      }
    } else side.requireSame(want)(mismatch("sidecar"))
  }

  /** APPEND one run's band keys to the persistent cross-run index —
    * the per-run producer half of [[incrementalNearDup]]'s claim:
    * run N appends its batch's (band, bkey, prior_doc) rows to
    * `indexPath` (first run passes overwrite = true), run N+1 checks
    * its increment against the reloaded union of every prior run via
    * [[nearDupAgainstIndex]]. Parquet append is file-level — no
    * rewrite of prior runs' files, the only write pattern that holds
    * when the accumulated index is itself 100 TB-scale. Production
    * layout: write bucketed on (band, bkey) so the increment join
    * needs no exchange on the index side.
    *
    * The LSH parameters are persisted in a `_graft_lsh_params` sidecar
    * on the first (overwrite) run; every append validates against it
    * and throws on mismatch (r13 advice: mixed parameters would
    * silently yield wrong verdicts, never an error).
    */
  def appendBandIndex(batch: DataFrame, indexPath: String,
      overwrite: Boolean = false, shingleN: Int = 3, k: Int = 8,
      bands: Int = 4, rows: Int = 2): Unit = {
    if (!overwrite)
      requireLshParams(batch, indexPath, shingleN, k, bands, rows,
        adopt = true)
    else {
      // overwrite deletes the directory (sidecar included) — park the
      // parameters in the sibling pending file FIRST so a crash
      // before the re-stamp below is recoverable, not silently
      // adoptable (r14 advice)
      pendingSidecar(batch, indexPath)
        .write(lshParams(shingleN, k, bands, rows))
    }
    bandIndexRows(batch, shingleN, k, bands, rows).write
      .mode(if (overwrite) "overwrite" else "append").parquet(indexPath)
    if (overwrite) {
      writeLshParams(batch, indexPath, shingleN, k, bands, rows)
      pendingSidecar(batch, indexPath).delete()
    }
  }

  /** The consumer half of the cross-run contract: band the increment
    * and LEFT-join it against a prior-corpus index frame (typically
    * `spark.read.parquet(indexPath)` over everything
    * [[appendBandIndex]] accumulated). Same readout and determinism
    * as [[incrementalNearDup]] (which delegates here).
    */
  def nearDupAgainstIndex(incr: DataFrame, idx: DataFrame,
      shingleN: Int = 3, k: Int = 8, bands: Int = 4, rows: Int = 2)
      : DataFrame = {
    val newKeys = bandKeys(minhashSignatures(shingled(incr, shingleN), k),
      bands, rows)
    newKeys.join(idx, Seq("band", "bkey"), "left")
      .groupBy("doc_id")
      .agg(max(when(col("prior_doc").isNotNull, 1L).otherwise(0L))
          .as("is_dup"),
        min(col("prior_doc")).as("first_prior_match"),
        countDistinct(col("prior_doc")).as("n_prior_matches"))
  }

  /** Path-addressed [[nearDupAgainstIndex]]: loads the accumulated
    * index from `indexPath` AND validates this call's LSH parameters
    * against the index's `_graft_lsh_params` sidecar first (read-only:
    * a legacy sidecar-less index is tolerated, never stamped) — the
    * production entry point for run N+1's increment check.
    */
  def nearDupAgainstIndexPath(incr: DataFrame, indexPath: String,
      shingleN: Int = 3, k: Int = 8, bands: Int = 4, rows: Int = 2)
      : DataFrame = {
    requireLshParams(incr, indexPath, shingleN, k, bands, rows,
      adopt = false)
    nearDupAgainstIndex(incr,
      incr.sparkSession.read.parquet(indexPath), shingleN, k, bands, rows)
  }

  /** LSH candidate pairs: band the signature (`bands` × `rows` = k), hash
    * each band, self-join on (band, bandKey). Output (doc_a < doc_b),
    * distinct. The only shuffle key is the band hash — uniform on a
    * HEALTHY corpus; a degenerate one (mass boilerplate: thousands of
    * docs whose shingle sets are dominated by the same template text)
    * concentrates one bucket into a quadratic hot spot. `maxBucket`
    * is the same defense as [[Similarity.cosineNearDupPairsLshPlan]]:
    * each bucket keeps its `maxBucket` smallest doc_ids
    * (deterministic), bounding any bucket's pair contribution at
    * maxBucket²/2; drops are counted and logged — no silent caps. The
    * default is UNCAPPED (gate corpora are orders of magnitude under
    * any sane cap, so oracle SQL needs no cap clause); production runs
    * on uncurated corpora should set it (and run exact dedup first).
    *
    * The capped path materializes eagerly (same contract as
    * [[Similarity.cosineNearDupPairsLsh]]) so its persisted band table
    * can be dropped before returning — no cache residue on long-lived
    * sessions; audit the lazy plan via [[lshCandidatesPlan]].
    */
  def lshCandidates(sigs: DataFrame, bands: Int, rows: Int,
      maxBucket: Int = Int.MaxValue): DataFrame =
    if (maxBucket == Int.MaxValue) lshCandidatesPlan(sigs, bands, rows)._1
    else {
      val (result, cleanup) = lshCandidatesPlan(sigs, bands, rows,
        maxBucket)
      // truncate lineage so the persisted band table can be unpersisted
      // HERE instead of lingering until session end / LRU eviction
      val out = result.pin(true)
      cleanup()
      out
    }

  /** The LAZY plan behind [[lshCandidates]], exposed for plan audits.
    * Returns (result, cleanup): in the capped path the caller must invoke
    * `cleanup()` once the result has materialized — it counts and logs
    * any bucket-cap drops (one tiny aggregate over the then-cached band
    * table) and unpersists it. In the uncapped path cleanup is a no-op
    * and nothing is persisted.
    */
  def lshCandidatesPlan(sigs: DataFrame, bands: Int, rows: Int,
      maxBucket: Int = Int.MaxValue): (DataFrame, () => Unit) = {
    val banded0 = bandKeys(sigs, bands, rows)
    val (banded, cleanup) = if (maxBucket == Int.MaxValue)
      (banded0, () => ()) else {
      val bb = banded0.persist(
        org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val bw = org.apache.spark.sql.expressions.Window
        .partitionBy("band", "bkey").orderBy(asc("doc_id"))
      val capped = bb.withColumn("__bn", row_number().over(bw))
        .filter(col("__bn") <= maxBucket)
        .select("doc_id", "band", "bkey")
      val cl = () => {
        val dropped = bb.groupBy("band", "bkey")
          .agg(count(lit(1)).as("cnt"))
          .agg(coalesce(sum(greatest(col("cnt") - maxBucket, lit(0L))),
            lit(0L))).head().getLong(0)
        if (dropped > 0)
          System.err.println(s"[dedup] LSH bucket cap $maxBucket dropped " +
            s"$dropped band memberships from candidate generation " +
            s"(boilerplate-dominated buckets — run exact dedup upstream, " +
            s"or raise maxBucket)")
        bb.unpersist()
        ()
      }
      (capped, cl)
    }
    val a = banded.as("a")
    val b = banded.as("b")
    val result = a.join(b, col("a.band") === col("b.band") &&
        col("a.bkey") === col("b.bkey") &&
        col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .distinct()
    (result, cleanup)
  }

  /** Exact Jaccard for given pairs (|A∪B| = |A|+|B|−|A∩B|). `sh` as
    * produced by [[shingled]].
    *
    * r15 optimization (guide §2.3 — shuffle fewer bytes / rows): the
    * previous form exploded BOTH sides' shingle sets through a
    * three-way equi-join and a (doc_a, doc_b) groupBy — the pair list
    * expanded to |pairs| × |shingles/doc| rows before the count. The
    * shingle sets are per-doc ARRAYS already, so |A∩B| is a ROW-LOCAL
    * `array_intersect` after two hash joins that attach each side's
    * array to the (output-bound) pair list: no explode, no count
    * shuffle. Identical output: [[shingled]] arrays are distinct, so
    * size(array_intersect) is exactly the old join-count, and pairs
    * sharing NO shingle drop here exactly as the old inner join
    * dropped them.
    */
  def verifyJaccard(pairs: DataFrame, sh: DataFrame): DataFrame =
    pairs
      .join(sh.select(col("doc_id").as("doc_a"),
        col("shingles").as("__sha")), Seq("doc_a"))
      .join(sh.select(col("doc_id").as("doc_b"),
        col("shingles").as("__shb")), Seq("doc_b"))
      .withColumn("__i", size(array_intersect(col("__sha"), col("__shb"))))
      .filter(col("__i") >= 1)
      .select(col("doc_a"), col("doc_b"),
        (col("__i").cast("double") /
          (size(col("__sha")) + size(col("__shb")) - col("__i")))
          .as("jaccard"))

  /** Full MinHash-LSH near-dup pipeline: shingle → sign → band → bucket
    * join → exact verify at `threshold`. LAZY — the persisted shingle
    * table stays cached for the session (fine for a single-shot gate
    * query; a long-lived session issuing many near-dup jobs should use
    * [[minhashLshPlan]] and invoke its cleanup once results have
    * materialized, or cache residue accumulates).
    */
  def minhashLsh(docs: DataFrame, shingleN: Int, k: Int, bands: Int,
      threshold: Double, maxBucket: Int = Int.MaxValue): DataFrame =
    if (maxBucket == Int.MaxValue)
      minhashLshPlan(docs, shingleN, k, bands, threshold)._1
    else {
      // capped: materialize eagerly so the cap drops are counted and
      // LOGGED (no silent caps) and the persisted intermediates freed
      val (r, cleanup) = minhashLshPlan(docs, shingleN, k, bands,
        threshold, maxBucket)
      val out = r.pin(true)
      cleanup()
      out
    }

  /** [[minhashLsh]] with explicit cache lifecycle: returns (result,
    * cleanup). The caller invokes `cleanup()` once the result has
    * materialized — it unpersists the shingle table (and, in the capped
    * path, runs the band-table cleanup of [[lshCandidatesPlan]]).
    */
  def minhashLshPlan(docs: DataFrame, shingleN: Int, k: Int, bands: Int,
      threshold: Double, maxBucket: Int = Int.MaxValue)
      : (DataFrame, () => Unit) = {
    require(k % bands == 0, "k must divide into bands")
    // the shingle table feeds signatures AND both sides of the verify
    // join — persist it so the tokenize+shingle+hash subtree runs once,
    // not three times (MEMORY_AND_DISK: spills rather than OOMs at scale)
    val sh = shingled(docs, shingleN)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val (cands, candCleanup) = lshCandidatesPlan(
      minhashSignatures(sh, k), bands, k / bands, maxBucket)
    val result = verifyJaccard(cands, sh)
      .filter(col("jaccard") >= threshold)
    (result, () => { candCleanup(); sh.unpersist(); () })
  }

  /** All-pairs n-gram Jaccard ≥ threshold. Relational: never builds the n²
    * pair space — only pairs sharing ≥1 shingle survive the equi-join.
    * `maxShingleDf` drops ubiquitous shingles (skew control: a shingle
    * shared by f docs contributes f² join rows, so an uncapped hot shingle
    * makes the self-join quadratic at scale — hence a finite default).
    * Jaccard is computed over the *filtered* shingle universe — both the
    * intersection and the union count only shingles with df ≤ cap, so
    * numerator and denominator are consistent (true near-dups whose shared
    * shingles happen to be hot are not biased low).
    */
  def jaccardAllPairs(docs: DataFrame, shingleN: Int, threshold: Double,
      maxShingleDf: Long = 10000L,
      bDocs: Option[DataFrame] = None): DataFrame = {
    val sh = shingled(docs, shingleN)
    val ex = sh.select(col("doc_id"), explode(col("shingles")).as("sh"))
    val kept = {
      if (maxShingleDf == Long.MaxValue) ex
      else {
        val hot = ex.groupBy("sh").agg(count(lit(1)).as("df"))
          .filter(col("df") > maxShingleDf).select("sh")
        ex.join(broadcast(hot), Seq("sh"), "left_anti")
      }
      // consumed by both self-join sides and the size table: persist so
      // the exploded shingle set is computed once, not three times
    }.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val sizes = kept.groupBy("doc_id").agg(count(lit(1)).as("n"))
    // r16 (guide §2.3 — filter before the exchange): when the caller
    // only consumes pairs whose doc_b lies in a known id set (the
    // incremental-refresh shape: "which ADDED docs near-dup anything"),
    // restricting the b side BEFORE the shingle self-join is
    // output-identical to filtering afterwards — doc_a stays
    // unrestricted, df cap and set sizes stay corpus-wide — while the
    // join's right side shrinks from |corpus| to |bDocs| documents.
    val rhs = bDocs.fold(kept)(b => kept.join(
      b.select(col("doc_id")).distinct(), Seq("doc_id"), "left_semi"))
    val inter = kept.as("a")
      .join(rhs.as("b"), col("a.sh") === col("b.sh") &&
        col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .agg(count(lit(1)).as("inter"))
    inter
      .join(sizes.as("sa"), col("doc_a") === col("sa.doc_id"))
      .join(sizes.as("sb"), col("doc_b") === col("sb.doc_id"))
      .select(col("doc_a"), col("doc_b"),
        (col("inter").cast("double") /
          (col("sa.n") + col("sb.n") - col("inter"))).as("jaccard"))
      .filter(col("jaccard") >= threshold)
  }

  /** All-pairs n-gram Jaccard ≥ threshold with EXACT recall and NO df
    * cap — prefix filtering (Chaudhuri et al. SSJoin 2006 / Bayardo et
    * al. AllPairs WWW'07), the published alternative to
    * [[jaccardAllPairs]]'s skew cap. Under a GLOBAL canonical shingle
    * order (ascending document frequency, ties by shingle text), two
    * sets with |A∩B| ≥ ⌈τ·|A|⌉ must share a shingle within A's first
    * |A| − ⌈τ·|A|⌉ + 1 shingles (else the intersection fits entirely in
    * the ⌈τ·|A|⌉ − 1 slots after the prefix — too few). So the
    * candidate join runs only on each doc's PREFIX shingles — and
    * because the canonical order puts the RAREST shingles first, the
    * hot shingles that make the uncapped inverted-index join quadratic
    * sit in suffixes and never generate candidates. Pruning power
    * grows with τ and with df skew — exactly where the cap variant
    * loses recall.
    *
    * ⌈τ·|x|⌉ is computed in DECIMAL (τ widened to DECIMAL(20,10) times
    * an exact integer) — an IEEE product like fl(0.5·6) = 3.0000…01
    * would ceil to 4, shorten the prefix by one, and silently break
    * the exact-recall theorem.
    *
    * Scale shape: one df aggregate, one per-doc window (partitioned by
    * doc — no global sort), the prefix self-join, then
    * [[verifyJaccard]] on surviving candidates only.
    *
    * Returns (result, cleanup), as [[minhashLshPlan]] does: the result
    * is LAZY and reads a persisted shingle table, which the caller
    * releases with `cleanup()` once the result has materialized.
    */
  def jaccardPrefixPairs(docs: DataFrame, shingleN: Int,
      threshold: Double): (DataFrame, () => Unit) = {
    require(threshold > 0.0 && threshold <= 1.0,
      s"threshold must lie in (0, 1], got $threshold")
    val sh = shingled(docs, shingleN)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // set size rides along from the array — one window pass (position
    // under the canonical order), not a second count-over-partition
    val ex = sh.select(col("doc_id"), size(col("shingles")).as("__n"),
      explode(col("shingles")).as("sh"))
    val dfs = ex.groupBy("sh").agg(count(lit(1)).as("__df"))
    // (r16 note: a collect_list + row-local array_sort + slice form of
    // this prefix cut — removing the window's full sort — was tried
    // and measured 2× SLOWER (4.2 → 8.0 s isolated at sf0.1): with
    // thousands of doc groups per partition the ObjectHashAggregate
    // falls back to SORT-based aggregation past
    // objectHashAggregate.sortBased.fallbackThreshold, paying the same
    // sort plus per-group array allocation. The window stays.)
    val pre = ex.join(dfs, "sh")
      .withColumn("__pos", row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy("doc_id")
          .orderBy(col("__df"), col("sh"))))
      .where(col("__pos") <= col("__n") + 1 -
        ceil(lit(threshold)
          .cast(org.apache.spark.sql.types.DecimalType(20, 10)) *
          col("__n")))
      .select("doc_id", "__n", "sh")
    // LENGTH filter (Arasu et al. 2006): J ≥ τ forces the set sizes
    // within a τ factor (|A∩B| ≥ τ·|A∪B| ≥ τ·max ⟹ min ≥ τ·max), so
    // size-discordant prefix collisions never reach the verify join.
    // Bounds in exact DECIMAL like the prefix length — an IEEE τ·|x|
    // rounded a hair high would prune a true boundary pair.
    val tauDec = lit(threshold)
      .cast(org.apache.spark.sql.types.DecimalType(20, 10))
    val cands = pre.as("a")
      .join(pre.as("b"), col("a.sh") === col("b.sh") &&
        col("a.doc_id") < col("b.doc_id") &&
        tauDec * col("a.__n") <= col("b.__n") &&
        tauDec * col("b.__n") <= col("a.__n"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .distinct()
    // the shingle table feeds the df aggregate, the prefix window and
    // the verify — unpersisting here would drop the cache before any
    // action runs, so the caller does it
    (verifyJaccard(cands, sh).filter(col("jaccard") >= threshold),
      () => { sh.unpersist(); () })
  }

  /** Asymmetric shingle CONTAINMENT pairs, C(A→B) = |A ∩ B| / |A|
    * (Broder 1997's containment, beside his resemblance = Jaccard):
    * the measure that catches a SHORT document embedded inside a long
    * one — symmetric Jaccard dilutes that pair below any threshold as
    * the container grows (|A∩B|/|A∪B| ≤ |A|/|B|), containment holds
    * at 1.0. Output is DIRECTED (doc_a contained-in doc_b ≠ the
    * reverse); both directions of a pair emit when both clear
    * `threshold`.
    *
    * Same scale shape and df-cap skew defense as [[jaccardAllPairs]]
    * (one shingle equi-self-join, hot shingles dropped from blocking,
    * exploded set persisted once); the ground-truth twin of the
    * scalable `substringDupStats` window-hash operator.
    */
  def containmentPairs(docs: DataFrame, shingleN: Int, threshold: Double,
      maxShingleDf: Long = 10000L): DataFrame = {
    val sh = shingled(docs, shingleN)
    val ex = sh.select(col("doc_id"), explode(col("shingles")).as("sh"))
    val kept = {
      if (maxShingleDf == Long.MaxValue) ex
      else {
        val hot = ex.groupBy("sh").agg(count(lit(1)).as("df"))
          .filter(col("df") > maxShingleDf).select("sh")
        ex.join(broadcast(hot), Seq("sh"), "left_anti")
      }
    }.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val sizes = kept.groupBy("doc_id").agg(count(lit(1)).as("n"))
    val inter = kept.as("a")
      .join(kept.as("b"), col("a.sh") === col("b.sh") &&
        col("a.doc_id") =!= col("b.doc_id"))
      .groupBy(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .agg(count(lit(1)).as("inter"))
    inter
      .join(sizes.as("sa"), col("doc_a") === col("sa.doc_id"))
      .select(col("doc_a"), col("doc_b"),
        (col("inter").cast("double") / col("sa.n")).as("containment"))
      .filter(col("containment") >= threshold)
  }

  /** 32-bit SimHash per doc, relationally: explode tokens → per-(doc,token)
    * counts → explode bit positions → signed votes → reassemble. Both
    * groupBys partial-aggregate map-side; the doc_id shuffle key is
    * uniform.
    */
  def simhash(docs: DataFrame): DataFrame = {
    Hashing.ensureRegistered(docs)
    val tokCnt = tokenized(docs)
      .select(col("doc_id"), explode(col("tokens")).as("tok"))
      .groupBy("doc_id", "tok").agg(count(lit(1)).as("cnt"))
      .withColumn("h", md5Long(col("tok")))
    tokCnt
      .select(col("doc_id"),
        explode(expr("sequence(0, 31)")).as("b"),
        col("h"), col("cnt"))
      .withColumn("vote",
        (expr("shiftright(h, b) % 2") * 2 - 1) * col("cnt"))
      .groupBy("doc_id", "b").agg(sum("vote").as("votes"))
      .groupBy("doc_id")
      .agg(sum(when(col("votes") > 0,
        expr("shiftleft(cast(1 as bigint), b)")).otherwise(0L))
        .as("simhash"))
  }

  /** SimHash near-dup pairs with Hamming distance ≤ maxHamming: pigeonhole
    * on the 4 bytes of the 32-bit hash — distance ≤ 3 ⟹ at least one byte
    * equal (4 bands guarantee recall only up to 3 differing bits) — then
    * verify with bit_count(xor). For larger Hamming radii use a 64-bit
    * SimHash with maxHamming+1 bands so the pigeonhole bound holds.
    */
  def simhashPairs(docs: DataFrame, maxHamming: Int): DataFrame = {
    require(maxHamming <= 3,
      s"4-byte pigeonhole guarantees recall only for Hamming <= 3 " +
        s"(got $maxHamming); use more/wider bands for larger radii")
    val sh = simhash(docs)
    val byByte = sh.select(col("doc_id"), col("simhash"),
      explode(expr("sequence(0, 3)")).as("p"))
      .withColumn("byte", expr("shiftright(simhash, p * 8) % 256"))
    byByte.as("a")
      .join(byByte.as("b"), col("a.p") === col("b.p") &&
        col("a.byte") === col("b.byte") &&
        col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"),
        expr("bit_count(a.simhash ^ b.simhash)").as("hamming"))
      .distinct()
      .filter(col("hamming") <= maxHamming)
  }

  /** Undirected edge list (both directions) from a near-dup pair list,
    * pinned once — it is referenced in every propagation round, and
    * without the checkpoint the upstream pair pipeline (LSH join +
    * verify) would re-execute per round.
    */
  private def pinnedEdges(pairs: DataFrame): DataFrame =
    pairs.select(col("doc_a").as("src"), col("doc_b").as("dst"))
      .unionByName(
        pairs.select(col("doc_b").as("src"), col("doc_a").as("dst")))
      .pin(true)

  /** One materialization job per round: the stepped label frame carries a
    * `chg` flag and is LAZILY local-checkpointed, so the `sum(chg)`
    * aggregate both materializes the checkpoint (truncating lineage for
    * the next round) and reports how many labels moved — the convergence
    * count rides the propagation job instead of costing a second
    * join+count job per round.
    */
  private def stepAndCount(stepped: DataFrame): (DataFrame, Long) = {
    val next = stepped
      .withColumn("chg", when(col("cluster") =!= col("old"), 1L)
        .otherwise(0L))
      .select("doc_id", "cluster", "chg")
      .pin(false)
    // coalesce: sum over an empty label table (no pairs at all) is null
    val changed = next.agg(coalesce(sum("chg"), lit(0L))).head().getLong(0)
    (next.select("doc_id", "cluster"), changed)
  }

  /** Min-label HOP over the pair graph: every node takes the smallest
    * label among itself and its neighbors; the previous label rides along
    * as `old` (via the self rows — min ignores the neighbor rows' nulls)
    * so the caller can count changes without a join back.
    */
  private def minLabelHop(edges: DataFrame, labels: DataFrame): DataFrame = {
    val viaNeighbor = edges
      .join(labels.withColumnRenamed("doc_id", "dst"), Seq("dst"))
      .select(col("src").as("doc_id"), col("cluster"),
        lit(null).cast(labels.schema("cluster").dataType).as("old"))
    labels.select(col("doc_id"), col("cluster"), col("cluster").as("old"))
      .unionByName(viaNeighbor)
      .groupBy("doc_id")
      .agg(min("cluster").as("cluster"), min("old").as("old"))
  }

  /** Near-duplicate CLUSTERS from a pair list — the production shape of
    * dedup output (a pair list alone doesn't say which copy to keep):
    * POINTER-DOUBLING min-label propagation over the undirected pair
    * graph, run to detected convergence. Returns (cluster, doc_id) with
    * cluster = the smallest member id — the canonical representative each
    * member dedupes to.
    *
    * Each round is (1) a min-label hop (neighbor equi-join + min
    * aggregate) and (2) a SHORTCUT — label ← label(label), the label
    * table joined to itself on the label key — which halves the remaining
    * distance to the component minimum, so a component of diameter d
    * converges in O(log d) rounds instead of O(d). A 100 TB corpus WILL
    * contain boilerplate families whose duplicate-graph diameter defeats
    * any fixed hop count; this is the production path for them (the
    * fixed-hop form survives as [[clustersFixedHop]], the
    * oracle-replayable twin). All joins/aggregates key on uniform doc
    * ids; per round the only actions are one materialization job whose
    * aggregate doubles as the convergence count ([[stepAndCount]]).
    *
    * `maxRounds` is a bug guard, not a tuning knob: 64 rounds cover any
    * component addressable by a 64-bit id space (diameter ≤ 2⁶⁴ needs
    * ≤ log₂ + 1 rounds); hitting it means the iteration is broken, so the
    * guard fails loudly rather than returning a split component.
    */
  def clusters(pairs: DataFrame, maxRounds: Int = 64): DataFrame =
    clustersWithRounds(pairs, maxRounds)._1

  /** [[clusters]] plus the number of rounds the propagation took to
    * detect convergence — the observable the scale soak asserts against
    * (a diameter-d family must close in ~log₂ d + 2 rounds, not d).
    */
  def clustersWithRounds(pairs: DataFrame,
      maxRounds: Int = 64): (DataFrame, Int) = {
    val edges = pinnedEdges(pairs)
    var labels = edges.select(col("src").as("doc_id")).distinct()
      .withColumn("cluster", col("doc_id"))
      .pin(true)
    var changed = -1L
    var round = 0
    while (changed != 0L && round < maxRounds) {
      // lazy checkpoint: the shortcut self-join below consumes the hop
      // frame TWICE — without this the hop join+aggregate runs twice per
      // round (exchange reuse covers the shuffle, not the aggregation)
      val hop = minLabelHop(edges, labels).pin(false)
      // shortcut: follow the (fresher) hop labels one more step — the
      // mapping side is the hop result keyed by ITS doc_id, so a node
      // whose label points at node m adopts m's own new label. Left
      // join: a label is always some member's id, but the min-aggregate
      // ordering makes that membership row live in the same frame being
      // joined — coalesce keeps the hop label if the mapping row is
      // (transiently) absent rather than nulling the cluster.
      val shortcut = hop
        .join(hop.select(col("doc_id").as("cluster"),
          col("cluster").as("cc")), Seq("cluster"), "left")
        .select(col("doc_id"),
          least(col("cluster"), coalesce(col("cc"), col("cluster")))
            .as("cluster"),
          col("old"))
      val (next, c) = stepAndCount(shortcut)
      labels = next
      changed = c
      round += 1
    }
    require(changed == 0L,
      s"pointer-doubling label propagation did not converge within " +
        s"$maxRounds rounds ($changed labels still changing) — this " +
        s"indicates a defect in the iteration, not a data property")
    (labels.select(col("cluster"), col("doc_id")), round)
  }

  /** Fixed-hop min-label propagation — the ORACLE TWIN of [[clusters]]:
    * `hops` plain propagation rounds (no shortcut), exactly the form a
    * SQL oracle unrolls as CTEs, covering components of diameter ≤
    * `hops`. Production callers use [[clusters]]; this form exists for
    * cross-engine replay and for corpora whose components are known
    * tiny.
    *
    * Convergence is DETECTED, not assumed: the loop allows `hops`
    * label-changing rounds plus one zero-change detection round; if
    * labels still move after that, a component has diameter ≥ `hops` and
    * the call fails rather than silently returning a split component.
    */
  def clustersFixedHop(pairs: DataFrame, hops: Int = 4): DataFrame = {
    val edges = pinnedEdges(pairs)
    var labels = edges.select(col("src").as("doc_id")).distinct()
      .withColumn("cluster", col("doc_id"))
      .pin(true)
    var changed = -1L
    var round = 0
    while (changed != 0L && round < hops + 1) {
      val (next, c) = stepAndCount(minLabelHop(edges, labels))
      labels = next
      changed = c
      round += 1
    }
    require(changed == 0L,
      s"min-label propagation did not converge within $hops rounds " +
        s"($changed labels still changing — a component has diameter >= " +
        s"$hops); use clusters() (pointer-doubling) or raise hops")
    labels.select(col("cluster"), col("doc_id"))
  }

  // ------------------- exact substring duplication ---------------------

  /** Every w-token sliding window of every document, as (doc_id, pos,
    * wh) with `pos` the 1-based token offset and `wh` the window-content
    * hash. Per-row expression work only (the windows come from the
    * codegen'd `graft_ngrams` kernel, each hashed by one lambda); docs
    * shorter than w tokens have no windows.
    */
  def windowHashes(docs: DataFrame, w: Int,
      hashFn: String => String = md5LongSql): DataFrame = {
    Hashing.ensureRegistered(docs)
    tokenized(docs)
      .filter(size(col("tokens")) >= w)
      .select(col("doc_id"), expr(
        s"transform(graft_ngrams(tokens, $w), g -> ${hashFn("g")})")
        .as("whs"))
      .select(col("doc_id"), posexplode(col("whs")))
      .select(col("doc_id"), (col("pos") + 1).as("pos"), col("col").as("wh"))
  }

  /** Exact SUBSTRING-level duplication (Lee et al. 2022, "Deduplicating
    * Training Data Makes Language Models Better"): document-level dedup
    * misses the boilerplate/citation/template text repeated INSIDE
    * otherwise-distinct documents, so memorization-prone spans survive.
    * This finds every w-token window whose exact content occurs more
    * than once in the corpus and reports, per document, the duplicated
    * window count and the number of tokens covered by at least one
    * duplicated window (overlapping windows merged by a per-doc
    * interval sweep).
    *
    * Scale shape: window hashing is per-row expression work; the only
    * shuffles key on the 16-byte window hash — one count aggregate
    * (map-side combined; a hot boilerplate window is ONE group row, so
    * corpus-wide boilerplate cannot skew a join) and one semi-join of
    * windows against the aggregated duplicate-hash set. The coverage
    * sweep windows over (doc_id, pos) — per-document state only, never
    * a global sort. This is the suffix-array substring dedup recast as
    * three key-equality passes: windows replace suffixes, so "duplicate
    * ≥ w-token substring" is detected exactly (a shared substring of
    * length L ≥ w duplicates L−w+1 consecutive windows).
    */
  /** Exact substring-duplication REMOVAL — the transform half of
    * [[substringDupStats]] (Lee et al. 2022 §4.2 "ExactSubstr" applied
    * as keep-first): every w-token window whose content occurs more
    * than once corpus-wide keeps only its (doc_id, pos)-smallest
    * occurrence; every other occurrence's token span is excised and
    * the document re-assembled from the surviving tokens. Overlapping
    * excised spans coalesce through [[Intervals.mergeIntervals]]
    * before the cut, so removal is a clean per-doc interval set.
    *
    * Returns (doc_id, n_tokens, n_removed, clean_hash) with
    * `clean_hash` = md5 of the space-joined surviving tokens — the
    * compact oracle-comparable witness of the rewritten text (callers
    * wanting the text itself use the same expression without the
    * hash).
    *
    * Scale shape: the only shuffles key on the window hash (count +
    * keeper aggregate, then one equi-join back), on doc_id (the
    * per-doc interval sweep + the cuts-array aggregate), and one
    * equi-join of cuts onto the corpus; the rebuild is per-row lambda
    * work bounded by tokens × cut-intervals per doc. Keep-first is the
    * corpus-global deterministic tie-break, independent of
    * partitioning.
    */
  def substringRemove(docs: DataFrame, w: Int,
      hashFn: String => String = md5LongSql): DataFrame = {
    val win = windowHashes(docs, w, hashFn)
    val dupKeep = win.groupBy("wh")
      .agg(count(lit(1)).as("occ"),
        min(struct(col("doc_id"), col("pos"))).as("k"))
      .filter(col("occ") > 1)
      .select(col("wh"), col("k.doc_id").as("kd"), col("k.pos").as("kp"))
    val nonfirst = win.join(dupKeep, Seq("wh"))
      .filter(!(col("doc_id") === col("kd") && col("pos") === col("kp")))
      .select(col("doc_id"), col("pos").as("s"),
        (col("pos") + lit(w - 1)).as("e"))
    val cuts = Intervals.mergeIntervals(nonfirst, Seq("doc_id"), "s", "e")
      .groupBy("doc_id")
      .agg(sort_array(collect_list(struct(col("start"), col("end"))))
        .as("cuts"))
    tokenized(docs).join(cuts, Seq("doc_id"), "left")
      .withColumn("kept", expr(
        "case when cuts is null then tokens " +
          "else filter(tokens, (t, i) -> not exists(cuts, " +
          "c -> i + 1 >= c.start and i + 1 <= c.end)) end"))
      .select(col("doc_id"),
        size(col("tokens")).cast("long").as("n_tokens"),
        (size(col("tokens")) - size(col("kept"))).cast("long")
          .as("n_removed"),
        md5(concat_ws(" ", col("kept"))).as("clean_hash"))
  }

  def substringDupStats(docs: DataFrame, w: Int,
      hashFn: String => String = md5LongSql): DataFrame = {
    val win = windowHashes(docs, w, hashFn)
    val dup = win.groupBy("wh").agg(count(lit(1)).as("occ"))
      .filter(col("occ") > 1)
    val dupWin = win.join(dup.select("wh"), Seq("wh"), "left_semi")
    val byDoc = org.apache.spark.sql.expressions.Window
      .partitionBy("doc_id").orderBy("pos")
    dupWin
      .withColumn("prev", lag(col("pos"), 1).over(byDoc))
      .withColumn("cover", when(col("prev").isNull, lit(w))
        .otherwise(least(lit(w), col("pos") - col("prev"))))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_dup_windows"),
        sum(col("cover")).cast("long").as("dup_tokens"))
  }
}
