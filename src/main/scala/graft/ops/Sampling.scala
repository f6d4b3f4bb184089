package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.ops.Pins.PinSyntax

/** Deterministic sampling/splitting for training-data pipelines. RNG
  * sampling (`df.sample`, `stat.sampleBy`) is seed- and partitioning-
  * dependent — useless for reproducible corpus construction and
  * impossible to oracle-check. These operators decide membership from a
  * salted content hash instead: the same row lands in the same
  * sample/split on every engine, at every partitioning, forever.
  * Pure per-row codegen'd expressions — scan-speed, no shuffle.
  */
object Sampling {

  /** Salted per-row hash bucket in [0, buckets). */
  def hashBucket(key: Column, salt: String, buckets: Int): Column =
    pmod(Hashing.md5Long(concat(lit(salt), key.cast("string"))),
      lit(buckets.toLong))

  /** Stratified downsampling: keep a row iff its hash bucket (out of
    * 100) falls under its stratum's percentage. `rates` maps stratum
    * value → keep-percentage; strata not listed keep `defaultRate`.
    * The per-stratum CASE stays a codegen'd expression — no join, no
    * driver lookup. (The RNG analogue is `stat.sampleBy`.)
    */
  def stratifiedSample(df: DataFrame, keyCol: String, stratumCol: String,
      rates: Seq[(String, Int)], defaultRate: Int,
      salt: String = "sample:"): DataFrame = {
    Hashing.ensureRegistered(df)
    val rate = rates.foldLeft(when(lit(false), lit(0))) {
      case (acc, (v, r)) => acc.when(col(stratumCol) === v, lit(r))
    }.otherwise(lit(defaultRate))
    df.filter(hashBucket(col(keyCol), salt, 100) < rate)
  }

  /** Training-corpus sequence sharding: assign each document to a shard
    * of ~`tokensPerShard` cumulative tokens under the total order
    * `orderCol` — the corpus-construction step that turns a document
    * table into bounded training chunks. shard = ⌊(running_sum − n) /
    * budget⌋, i.e. a document lands in the shard its FIRST token falls
    * into (documents may straddle a boundary; packing that splits them
    * is a tokenizer-side concern). The running sum is the two-phase
    * [[Rank.globalRunningSum]] — no single-task window.
    */
  def tokenShards(df: DataFrame, orderCol: String, nTokensCol: String,
      tokensPerShard: Long): DataFrame =
    Rank.globalRunningSum(df, Seq(col(orderCol).asc), nTokensCol, "__cum")
      .withColumn("shard",
        floor((col("__cum") - col(nTokensCol)) / tokensPerShard)
          .cast("long"))
      .drop("__cum")

  /** Deterministic train/validation/test split: bucket < trainPct →
    * 'train', < trainPct+validPct → 'valid', else 'test'. Independent
    * of any sampling decision through its own salt.
    */
  def hashSplit(df: DataFrame, keyCol: String, trainPct: Int,
      validPct: Int, salt: String = "split:"): DataFrame = {
    Hashing.ensureRegistered(df)
    val b = hashBucket(col(keyCol), salt, 100)
    df.withColumn("split",
      when(b < trainPct, "train")
        .when(b < trainPct + validPct, "valid")
        .otherwise("test"))
  }

  /** Quality-WEIGHTED sampling: keep each row with probability
    * proportional to `rate` (a per-row Column in [0, 1] — e.g. a quality
    * score), decided by the row's salted hash, not an RNG: keep ⇔
    * hash-bucket(key) out of 10⁶ < ⌊rate·10⁶⌋. The standard corpus-
    * construction move "sample high-quality documents preferentially"
    * as a pure per-row codegen'd predicate — reproducible, partition-
    * independent, oracle-replayable; at 100 TB it is scan-speed with
    * zero shuffle.
    */
  def weightedSample(df: DataFrame, keyCol: String, rate: Column,
      salt: String = "wsample:"): DataFrame = {
    Hashing.ensureRegistered(df)
    df.filter(hashBucket(col(keyCol), salt, 1000000) <
      floor(rate * lit(1000000)).cast("long"))
  }

  /** CLASS-BALANCED resampling toward a per-class target count (the
    * data-mixing step: cap every language/domain/source at ~targetPerClass
    * rows without touching under-represented classes). Per-class keep
    * rate = min(1, target / count(class)) from one tiny aggregate
    * (broadcast back — never a wide shuffle), membership decided by the
    * salted row hash. Expected kept ≈ target per class; the decision
    * stays per-row deterministic.
    */
  def balancedSample(df: DataFrame, keyCol: String, classCol: String,
      targetPerClass: Long, salt: String = "bsample:"): DataFrame = {
    Hashing.ensureRegistered(df)
    val rates = df.groupBy(classCol)
      .agg(count(lit(1)).as("__cnt"))
      .select(col(classCol),
        least(lit(1.0), lit(targetPerClass.toDouble) / col("__cnt"))
          .as("__rate"))
    df.join(broadcast(rates), Seq(classCol))
      .filter(hashBucket(col(keyCol), salt, 1000000) <
        floor(col("__rate") * lit(1000000)).cast("long"))
      .drop("__rate")
  }

  /** TEMPERATURE-based class rebalancing — the multilingual-corpus
    * mixture (mT5/XLM-R style): class l is sampled with weight
    * ∝ n_l^α, α < 1 upweighting low-resource classes relative to their
    * raw frequency. α is fixed at 0.5 (i.e. sqrt) so every weight op
    * is IEEE-correctly-rounded on any engine — sqrt is exact-rounded
    * where pow(x, 0.5) need not be, which is what lets a SQL oracle
    * replay the keep decisions bit-for-bit. Rates target ~targetRows
    * kept in expectation, capped at 1 (keep-only — no upsampling);
    * per-row membership by salted hash. Scale shape: one tiny
    * aggregate (one row per class) + a deterministic sorted fold for
    * the denominator, both broadcast; the data sees one hash compare.
    *
    * NULL-class rows are DROPPED (the rate re-attach is an inner
    * equi-join on `classCol`, which never matches NULL — standard SQL
    * join semantics, replayed identically by any SQL oracle). Callers
    * that want NULL treated as a class of its own must coalesce
    * `classCol` to a sentinel value before calling.
    */
  def temperatureSampleSqrt(df: DataFrame, keyCol: String,
      classCol: String, targetRows: Long,
      salt: String = "tsample:"): DataFrame = {
    Hashing.ensureRegistered(df)
    val counts = df.groupBy(classCol).agg(count(lit(1)).as("__cnt"))
    // denominator Σ sqrt(n_l): summed in sorted class order so the
    // double fold is deterministic and oracle-replayable
    val denom = counts.agg(expr(
      s"aggregate(array_sort(collect_list(struct($classCol as cls, " +
        "sqrt(cast(__cnt as double)) as s))), cast(0.0 as double), " +
        "(acc, x) -> acc + x.s)").as("__denom"))
    val rates = counts.crossJoin(broadcast(denom))
      .select(col(classCol),
        least(lit(1.0),
          lit(targetRows.toDouble) *
            (sqrt(col("__cnt").cast("double")) / col("__denom")) /
            col("__cnt").cast("double")).as("__rate"))
    df.join(broadcast(rates), Seq(classCol))
      .filter(hashBucket(col(keyCol), salt, 1000000) <
        floor(col("__rate") * lit(1000000)).cast("long"))
      .drop("__rate")
  }

  /** TWO-PASS heavy hitters — every key covering ≥ `perMille`/1000 of
    * all rows, with EXACT counts. The 100 TB frequent-items shape:
    * a full `groupBy(key)` materializes the entire key universe
    * (billions of group states for token/URL/qgram keys); instead,
    * pass 1 counts keys only within a deterministic 1/`sampleBuckets`
    * row sample and keeps candidates with sampled count ≥ `candMin` —
    * a tiny aggregate over ~N/sampleBuckets rows. Pass 2 broadcast-
    * semi-joins the candidate set into the full scan, so the exact
    * count shuffle carries ONLY candidate keys. Threshold compare is
    * integer (cnt·1000 ≥ perMille·N) — no float boundary.
    *
    * Recall: a true `perMille` hitter is missed only if its sample
    * count undershoots `candMin`; with E[sampled] = perMille·N /
    * (1000·sampleBuckets) ≫ candMin the Chernoff tail is negligible —
    * callers size candMin ≤ half that expectation (spec-tested on a
    * planted distribution). Determinism: membership is the salted
    * row-hash, both aggregates are exact — an oracle replays the
    * result bit-for-bit.
    */
  def heavyHitters(df: DataFrame, keyCol: String, occKey: Column,
      perMille: Int, sampleBuckets: Int, candMin: Long,
      salt: String = "hh:"): DataFrame = {
    require(perMille > 0 && perMille <= 1000, s"perMille: $perMille")
    Hashing.ensureRegistered(df)
    val cands = df
      .filter(hashBucket(occKey, salt, sampleBuckets) === 0L)
      .groupBy(keyCol).agg(count(lit(1)).as("__sc"))
      .filter(col("__sc") >= candMin)
      .select(col(keyCol))
    val n = df.agg(count(lit(1)).as("__n"))
    df.join(broadcast(cands), Seq(keyCol))
      .groupBy(keyCol).agg(count(lit(1)).as("cnt"))
      .crossJoin(broadcast(n))
      .filter(col("cnt") * lit(1000L) >= lit(perMille.toLong) * col("__n"))
      .select(col(keyCol), col("cnt"))
  }

  /** Deterministic EPOCH SHUFFLE — the training-data-loader primitive:
    * each epoch e reads the corpus in a DIFFERENT pseudo-random order,
    * and that order must be reproducible (restart mid-epoch, resume at
    * position p) without any RNG state. Position of a row in epoch e =
    * its rank by md5("epoch:e:key") — a hash-rank sort, the standard
    * distributed shuffle that needs no coordinated seed.
    *
    * Returns (key, epoch, pos): per epoch, `pos` is an exact 0..N−1
    * permutation; different epochs permute independently (distinct
    * hash salts). The rank runs as ONE two-phase global ordinal over
    * the composite (epoch, hash, key) total order — epoch is the
    * leading sort key, so per-epoch positions fall out of the global
    * ordinal as `ord − e·N` with no per-epoch window (a
    * Window.partitionBy(epoch) would funnel each epoch through ONE
    * task — the unpartitioned-NTILE anti-pattern this repo bans).
    *
    * SCALE SHAPE: the epochs× explode rides the scan; the ordinal is
    * a ranged exchange on (epoch, hash) — uniformly distributed by
    * construction — plus the bounded triangular offset join. Nothing
    * is per-epoch single-task; the 1-row N frame broadcasts.
    */
  def epochShuffle(df: DataFrame, keyCol: String, epochs: Int,
      salt: String = "epoch:"): DataFrame = {
    require(epochs >= 1, s"epochs must be >= 1, got $epochs")
    Hashing.ensureRegistered(df)
    val expanded = df.select(col(keyCol))
      .withColumn("epoch", explode(expr(s"sequence(0, ${epochs - 1})")))
      .withColumn("epoch", col("epoch").cast("long"))
      .withColumn("__h", Hashing.md5Long(concat(lit(salt),
        col("epoch").cast("string"), lit(":"),
        col(keyCol).cast("string"))))
    val n = df.select(col(keyCol)).agg(count(lit(1)).as("__n"))
    Rank.globalOrdinal(expanded,
        Seq(col("epoch"), col("__h"), col(keyCol)), "__ord")
      .crossJoin(broadcast(n))
      .select(col(keyCol), col("epoch"),
        (col("__ord") - col("epoch") * col("__n")).as("pos"))
  }

  /** PROPORTIONAL SOURCE INTERLEAVE — the training-order layout that
    * spreads every source evenly through one epoch instead of
    * concatenating them (a model fed source-by-source drifts toward
    * whatever came last): document o of n_s from a source lands at
    * fractional position (2o − 1)/(2n_s) ∈ (0, 1), the midpoint rule,
    * so each source's documents sit at its own uniform grid and the
    * global (pos, source, id) order interleaves all sources
    * proportionally — a 10%-of-corpus source appears ~every 10th
    * document, deterministically.
    *
    * DETERMINISM: o and n_s are exact integers from the two-phase
    * ordinal; pos rounds(,9) once and ties (only across sources)
    * break on (source, id). SCALE SHAPE: a training corpus has FEW
    * sources (4 here, maybe dozens at 100 TB), so a
    * Window.partitionBy(source) row_number would sort each source's
    * entire row set in ONE task — effectively a global sort per
    * source. Instead the per-source ordinal derives from one
    * range-partitioned [[Rank.globalOrdinal]] over (source, id)
    * minus each source's broadcast start offset (a triangular join
    * over the tiny per-source count table): every operator stays
    * range-parallel regardless of source cardinality; the global
    * interleave ORDER is the consumer's sort (training writers sort
    * within shards anyway). Returns (pos, source, id) — one row per
    * document.
    */
  def sourceInterleave(df: DataFrame, idCol: String, srcCol: String)
      : DataFrame = {
    val rows = df.select(col(srcCol).as("source"), col(idCol).as("id"))
    val ord = Rank.globalOrdinal(rows,
      Seq(col("source"), col("id")), "__g")
    val bySrc = rows.groupBy("source").agg(count(lit(1)).as("ns"))
    val offs = bySrc.as("a")
      .join(bySrc.select(col("source").as("__s2"), col("ns").as("__n2"))
        .as("b"), col("__s2") < col("source"), "left_outer")
      .groupBy(col("source"), col("ns"))
      .agg(coalesce(sum("__n2"), lit(0L)).as("__off"))
    // per-source 1-based o = global ordinal − rows in earlier sources
    // + 1 (the (source, id) range order groups each source's rows
    // contiguously by construction)
    ord.join(broadcast(offs), "source")
      .select(round(expr("cast(2 * (__g - __off + 1) - 1 as double) / " +
        "cast(2 * ns as double)"), 9).as("pos"),
        col("source"), col("id"))
  }

  /** CURRICULUM ORDERING — the easy-to-hard training manifest
    * (Bengio et al. 2009): documents are cut into `buckets` difficulty
    * tiers at the EXACT difficulty quantiles, then laid out tier by
    * tier with a deterministic md5 shuffle WITHIN each tier — the
    * model sees all easy documents (shuffled) before any harder one,
    * without the sorted-by-length pathology of a raw difficulty sort
    * (adjacent batches stay decorrelated inside a tier). The
    * complement of [[epochShuffle]] (pure shuffle) and
    * [[Pack.sourceInterleave]] (source-proportional): here the ORDER
    * carries the curriculum.
    *
    * DETERMINISM: tier cuts are [[Rank.exactQuantiles]] rank
    * statistics of (difficulty, key); assignment is value comparison
    * (ties land together); pos is the two-phase
    * [[Rank.globalOrdinal]] over (bucket, md5('curr:' ‖ key), key).
    * SCALE SHAPE: the score pass, one ordinal, a broadcast
    * ≤ buckets-row cut frame — no per-tier single-task window.
    * Returns (key, difficulty, bucket, pos) — pos is the global
    * training position, 0-based.
    */
  def curriculumOrder(df: DataFrame, keyCol: String,
      difficultyCol: String, buckets: Int = 4): DataFrame = {
    require(buckets >= 2, s"need >= 2 buckets, got $buckets")
    Hashing.ensureRegistered(df)
    val rows = df.filter(col(difficultyCol).isNotNull)
      .select(col(keyCol).as("key"),
        col(difficultyCol).cast("double").as("difficulty"))
      .pin(false) // feeds the cuts AND the ordinal
    val cuts = Rank.exactQuantiles(rows, "difficulty", Seq(col("key")),
        (1 until buckets).map(_.toDouble / buckets))
      .groupBy().agg(sort_array(collect_list(
        struct(col("q"), col("difficulty")))).as("__cuts"))
    val binned = rows.crossJoin(broadcast(cuts))
      .withColumn("bucket", expr(
        "size(filter(__cuts, c -> c.difficulty < difficulty))")
        .cast("long"))
    Rank.globalOrdinal(
        binned.withColumn("__h", Hashing.md5Long(
          concat(lit("curr:"), col("key").cast("string")))),
        Seq(col("bucket"), col("__h"), col("key")), "pos")
      .select(col("key"), col("difficulty"), col("bucket"), col("pos"))
  }
}

/** Column-level data profiling — the data-quality pass an ingest runs
  * before anything else touches 100 TB: per column, row/null counts,
  * distinct cardinality (EXACT here for oracle-exactness; swap the
  * [[graft.functions.KmvSketch]]/[[graft.functions.HllSketch]]
  * aggregates in at scale — same plan shape, bounded state), and
  * min/max rendered as strings. One pass over the data: every metric
  * is a partial-aggregatable expression in a single wide aggregate, so
  * profiling N columns costs one scan + one bounded-row combine, never
  * N scans.
  */
object Profile {
  import org.apache.spark.sql.functions._

  def profile(df: DataFrame, cols: Seq[String]): DataFrame = {
    val metrics = cols.flatMap { c =>
      Seq(count(lit(1)).as(s"__n_$c"),
        sum(when(col(c).isNull, 1L).otherwise(0L)).as(s"__null_$c"),
        countDistinct(col(c)).as(s"__nd_$c"),
        min(col(c)).cast("string").as(s"__min_$c"),
        max(col(c)).cast("string").as(s"__max_$c"))
    }
    val wide = df.agg(metrics.head, metrics.tail: _*)
    // unpivot the single wide row into one row per column
    val stacked = cols.map { c =>
      s"struct('$c' as column, __n_$c as n_rows, __null_$c as n_null, " +
        s"__nd_$c as n_distinct, __min_$c as min_s, __max_$c as max_s)"
    }.mkString("array(", ", ", ")")
    wide.select(explode(expr(stacked)).as("p")).select("p.*")
  }

  /** The 100 TB profile: [[profile]] with the exact `countDistinct`
    * (which Catalyst plans as an N-distinct-columns Expand — N× the
    * input rows reshuffled on distinct values) swapped for the bounded
    * [[graft.functions.KmvSketch]] aggregate. Same single-scan,
    * single-wide-aggregate shape, but per-column distinct state is a
    * k-row buffer that partial-aggregates map-side and merges
    * associatively — the plan has NO Expand and shuffles exactly one
    * bounded row per partition. `nd_est` is the KMV estimator
    * (k−1)·2⁶⁰/kth-min (exact value count when under k), deterministic
    * and order-independent, so a SQL oracle can replay it bit-for-bit.
    */
  def profileSketch(df: DataFrame, cols: Seq[String],
      k: Int = 256): DataFrame = {
    Hashing.ensureRegistered(df)
    val metrics = cols.flatMap { c =>
      Seq(count(lit(1)).as(s"__n_$c"),
        sum(when(col(c).isNull, 1L).otherwise(0L)).as(s"__null_$c"),
        expr(s"graft_kmv(${Hashing.md5LongSql(s"cast($c as string)")}, $k)")
          .as(s"__ks_$c"),
        min(col(c)).cast("string").as(s"__min_$c"),
        max(col(c)).cast("string").as(s"__max_$c"))
    }
    val wide = df.agg(metrics.head, metrics.tail: _*)
    val stacked = cols.map { c =>
      s"struct('$c' as column, __n_$c as n_rows, __null_$c as n_null, " +
        s"(${graft.functions.KmvSketch.estimateSql(s"__ks_$c", k)}) " +
        "as nd_est, " +
        s"__min_$c as min_s, __max_$c as max_s)"
    }.mkString("array(", ", ", ")")
    wide.select(explode(expr(stacked)).as("p")).select("p.*")
  }
}