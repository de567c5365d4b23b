package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/**
 * Deterministic, reproducible sampling for training pipelines. Random
 * sampling (df.sample) is seed-and-partitioning dependent; hashing the
 * record KEY makes membership a pure function of the data — stable
 * across reruns, engines, cluster sizes, and late-arriving shards,
 * which is what train/val splits must be.
 */
object Sampling {

  /** Engine-portable bucket in [0, buckets) from a key column's md5
    * (identical value in the DuckDB oracle). For pure-Spark speed
    * paths use xxhash64 instead. */
  def hashBucket(key: Column, buckets: Int = 100): Column =
    pmod(conv(substring(md5(key.cast("string").cast("binary")), 1, 15), 16, 10)
      .cast("long"), lit(buckets))

  /** Add a split column: "train" / "val" / "test" by hash-bucket
    * thresholds (e.g. 90/5/5). */
  def withSplit(df: DataFrame, keyCol: String,
                trainPct: Int = 90, valPct: Int = 5): DataFrame = {
    val b = hashBucket(col(keyCol))
    df.withColumn("split",
      when(b < trainPct, "train")
        .when(b < trainPct + valPct, "val")
        .otherwise("test"))
  }

  /** Keep a deterministic `pct`% sample by key hash. */
  def deterministicSample(df: DataFrame, keyCol: String, pct: Int): DataFrame =
    df.filter(hashBucket(col(keyCol)) < pct)

  /**
   * Leakage-safe train/val/test split: near-duplicate documents must
   * land in the SAME split, or the eval set leaks training data —
   * memorized near-copies score as generalization. Near-dup PAIRS
   * (from any blocker: MinHash/SimHash/cosine) resolve to connected
   * components, and every doc hashes on its GROUP id (the component's
   * min member id; unpaired docs group as themselves), so membership
   * stays a pure function of the data like every sampler here —
   * stable across reruns, engines, and cluster sizes.
   *
   * Scale shape: component resolution is the bounded
   * [[Clusters.connectedComponents]] machinery (driver union-find
   * under the edge limit, lineage-cut star contraction above); the
   * group map joins back on the doc id — near-dup pair volume is
   * band-bounded and typically ≪ corpus volume, so AQE broadcasts it
   * — and the bucket/split assignment is a row-local pure map.
   */
  def groupAwareSplit(docs: DataFrame, idCol: String, pairs: DataFrame,
                      trainPct: Int = 90, valPct: Int = 5): DataFrame = {
    val comp = Clusters.connectedComponents(pairs, "id_a", "id_b")
      .select(col("id").as("_gs_id"), col("component").as("_gs_comp"))
    val b = hashBucket(col("group_id"))
    docs.join(comp, docs(idCol) === comp("_gs_id"), "left")
      .withColumn("group_id", coalesce(col("_gs_comp"), col(idCol).cast("long")))
      .drop("_gs_id", "_gs_comp")
      .withColumn("split",
        when(b < trainPct, "train")
          .when(b < trainPct + valPct, "val")
          .otherwise("test"))
  }

  /**
   * Deterministic weighted sampling WITHOUT replacement (Efraimidis &
   * Spirakis, IPL 2006, algorithm A-ES): each row draws u in (0,1]
   * from the md5 of its key — a pure function of the data, so the
   * sample is reproducible across engines, reruns and cluster sizes
   * like every sampler here — takes exponential arrival key
   * -ln(u)/weight, and the k SMALLEST keys form the sample
   * (inclusion probability proportional to weight, no replacement).
   *
   * Scale shape: row-local map + global top-k, which Spark executes
   * as TakeOrderedAndProject (per-partition heaps — no global sort).
   * The arrival key quantizes to integer micros for engine-portable
   * ordering; ties break on the key column. Non-positive weights are
   * excluded (no mass to sample).
   */
  def weightedSample(df: DataFrame, keyCol: String, weightCol: String,
                     k: Int): DataFrame = {
    val h = conv(substring(md5(col(keyCol).cast("string").cast("binary")), 1, 12),
      16, 10).cast("long")
    val u = (h.cast("double") + lit(1.0)) / lit(math.pow(2.0, 48))
    val key = floor(-log(u) / col(weightCol).cast("double") * lit(1e6) + lit(0.5))
      .cast("long")
    df.filter(col(weightCol) > 0)
      .withColumn("key_micro", key)
      .orderBy(col("key_micro"), col(keyCol))
      .limit(k)
  }

  /**
   * Quantile bucketing at scale (e.g. quality deciles before pruning
   * the bottom bucket): thresholds come from ONE approx_percentile
   * aggregate (a GK sketch — map-side combining, tiny merge), then
   * bucket assignment is a ROW-LOCAL comparison against the collected
   * threshold literals. The naive `ntile(n) OVER (ORDER BY v)` is a
   * GLOBAL SORT into a single partition — exactly the shape that dies
   * at 100 TB. Buckets are 1..nBuckets, ascending in `valueCol`;
   * boundaries are approximate within the sketch's accuracy (exact
   * when accuracy >= distinct values, as in tests).
   */
  def quantileBuckets(df: DataFrame, valueCol: String, nBuckets: Int,
                      accuracy: Int = 10000,
                      bucketCol: String = "bucket"): DataFrame = {
    require(nBuckets >= 2, "need at least two buckets")
    val probs = (1 until nBuckets).map(_.toDouble / nBuckets)
    val thresholds = df
      .agg(expr(s"percentile_approx($valueCol, array(${probs.mkString(",")}), $accuracy)"))
      .head().getSeq[Number](0).map(_.doubleValue())
    val b = thresholds.map(th => when(col(valueCol) > th, 1).otherwise(0))
      .reduce(_ + _) + lit(1)
    df.withColumn(bucketCol, b)
  }

  /**
   * Cap each group (domain/source/site) at `maxPerGroup` rows — the
   * anti-monoculture guard of web-scale corpora. Kept rows are chosen
   * by KEY-HASH rank (unbiased — ingest order would favor early
   * shards), id as tiebreak, so the cap is a pure function of the
   * data: stable across reruns and cluster sizes. One shuffle on the
   * group column; WindowGroupLimit pushes the top-k below it.
   */
  def capPerGroup(df: DataFrame, groupCol: String, keyCol: String,
                  maxPerGroup: Int): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col(groupCol))
      .orderBy(hashBucket(col(keyCol), 1000000), col(keyCol))
    df.withColumn("_cap_rank", row_number().over(w))
      .filter(col("_cap_rank") <= maxPerGroup)
      .drop("_cap_rank")
  }

  /**
   * Training-mixture RESAMPLING: weight each stratum (source/domain)
   * by a real factor — the per-source epoch multipliers of an LLM data
   * mixture. Weight 2.5 emits every row twice plus a deterministic 50%
   * once more; weight 0.3 keeps a 30% sample; 0 drops the stratum.
   * Emitted copies carry an `epoch` column (1..n) so downstream
   * shuffles/packing see distinguishable rows. Purely row-local
   * (hash + explode, no shuffle), deterministic in the key — rerunning
   * on late-arriving shards reproduces the same membership, which is
   * what makes the mixture auditable.
   */
  def mixtureResample(df: DataFrame, keyCol: String, stratumCol: String,
                      weights: Map[String, Double],
                      defaultWeight: Double = 1.0): DataFrame = {
    // Threshold computed DRIVER-SIDE with round-to-nearest so the engine
    // and the DuckDB oracle (CAST((wt-floor(wt))*1e6 AS BIGINT), which
    // rounds) share one integer: float truncation of e.g. 0.29*1e6 =
    // 289999.999… would differ from the oracle by 1 bucket.
    def intPart(v: Double): Int = math.floor(v).toInt
    def fracThr(v: Double): Long = math.round((v - math.floor(v)) * 1e6)
    val base = weights.foldLeft(lit(intPart(defaultWeight))) { case (acc, (k, v)) =>
      when(col(stratumCol) === k, lit(intPart(v))).otherwise(acc)
    }
    val thr = weights.foldLeft(lit(fracThr(defaultWeight))) { case (acc, (k, v)) =>
      when(col(stratumCol) === k, lit(fracThr(v))).otherwise(acc)
    }
    val copies = (base +
      when(hashBucket(col(keyCol), 1000000) < thr, 1).otherwise(0)).as("_copies")
    df.withColumn("_copies", copies)
      .filter(col("_copies") > 0)
      .withColumn("epoch", explode(sequence(lit(1), col("_copies"))))
      .drop("_copies")
  }

  /**
   * Stratified deterministic sampling: per stratum value, keep a
   * different percentage (e.g. downsample a dominant language).
   * Unlisted strata keep `defaultPct`.
   */
  def stratifiedSample(df: DataFrame, keyCol: String, stratumCol: String,
                       pctByStratum: Map[String, Int],
                       defaultPct: Int = 100): DataFrame = {
    val pctExpr = pctByStratum.foldLeft(lit(defaultPct)) { case (acc, (s, p)) =>
      when(col(stratumCol) === s, lit(p)).otherwise(acc)
    }
    df.filter(hashBucket(col(keyCol)) < pctExpr)
  }

  /**
   * Per-source token budget report: doc count, token sum, and each
   * source's share of the total token budget in integer micros
   * (INTEGRAL division — no FP in the shares, exact in any engine).
   * One map-side-combining shuffle keyed by source; the share window
   * runs over the tiny per-source relation (constant-key partition on
   * a column-dependent expression so it can't be folded to the
   * warning-prone empty spec).
   */
  def sourceBudget(df: DataFrame, sourceCol: String, textCol: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val per = df.groupBy(col(sourceCol))
      .agg(count(lit(1)).as("n_docs"),
        sum(size(split(lower(trim(col(textCol))), "\\s+")).cast("long")).as("n_tokens"))
    per.withColumn("_total",
        sum(col("n_tokens")).over(Window.partitionBy(pmod(col("n_tokens"), lit(1)))))
      // DECIMAL(38,0) intermediate: a plain Int64 multiply wraps
      // silently past ~9.2e12 tokens per source (a real corpus size at
      // 100 TB) while the DuckDB oracle's HUGEINT sum doesn't —
      // decimal keeps the two engines exact to ~1e31 tokens.
      .withColumn("share_micro",
        expr("CAST(CAST(n_tokens AS DECIMAL(38,0)) * 1000000 div _total AS BIGINT)"))
      .drop("_total")
  }

  /**
   * Temperature-resampled mixing weights (the XLM-R / mT5 α-exponent
   * scheme): source sampling weight ∝ n_tokens^α with α < 1 flattening
   * the head so low-resource sources are not drowned by the crawl
   * giants. α = 0.5 — the common default — computes as sqrt, which is
   * IEEE-correctly-rounded (unlike pow), so the weights stay
   * bit-identical cross-engine. Each source's sqrt quantizes to
   * integer micros ROW-LOCALLY before the cross-row total
   * (order-independent integer sum), and shares close with INTEGRAL
   * division on a DECIMAL(38,0) intermediate like [[sourceBudget]].
   *
   * Scale shape: one corpus-volume agg (per-source token counts —
   * sources are few), then a constant-key window over the tiny
   * per-source frame.
   */
  def temperatureWeights(df: DataFrame, sourceCol: String, textCol: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    df.groupBy(col(sourceCol))
      .agg(count(lit(1)).as("n_docs"),
        sum(size(split(lower(trim(col(textCol))), "\\s+")).cast("long")).as("n_tokens"))
      .withColumn("w_micro",
        floor(sqrt(col("n_tokens").cast("double")) * lit(1e6) + lit(0.5)).cast("long"))
      .withColumn("_total",
        sum(col("w_micro")).over(Window.partitionBy(pmod(col("n_tokens"), lit(1)))))
      .withColumn("share_micro",
        expr("CAST(CAST(w_micro AS DECIMAL(38,0)) * 1000000 div _total AS BIGINT)"))
      .drop("_total")
  }

  /**
   * EXACT-count stratified sampling by largest-remainder (Hamilton)
   * apportionment: selects exactly T = N·p div 10⁶ rows overall,
   * with per-stratum quotas base_s = N_s·p div 10⁶ plus +1 for the
   * (T − Σ base) strata of largest remainder (N_s·p mod 10⁶;
   * stratum-asc tie-break) — the textbook apportionment, all integral.
   * Rows within a stratum are taken by md5-hash rank (hash asc, key
   * asc — the split/cap operators' rerun-deterministic ordering), so
   * the sample is stable under repartitioning and reruns.
   *
   * Where [[stratifiedSample]]'s hash THRESHOLD gives each row an
   * independent ~p chance (sample size varies run to run with the
   * data), this pays one per-stratum rank window for an exactly-sized,
   * exactly-apportioned sample — eval-set construction, fixed-budget
   * extracts. Scale shape: stratum-count apportionment runs on the
   * tiny count relation (windows over strata, not rows); the quota
   * join broadcasts; the one data-volume cost is the per-stratum rank
   * window. A stratum bigger than one executor's window partition is
   * the quantileBuckets-style cue to sub-salt; quotas stay exact.
   */
  def exactProportionSample(df: DataFrame, keyCol: String, stratumCol: String,
                            pMicro: Long): DataFrame = {
    require(pMicro >= 0 && pMicro <= 1000000L, "pMicro must be in [0, 1e6]")
    import org.apache.spark.sql.expressions.Window
    val one = Window.partitionBy(pmod(col("n_s"), lit(1)))
    val counts = df.groupBy(col(stratumCol).as("_st")).agg(count(lit(1)).as("n_s"))
      .withColumn("_n", sum(col("n_s")).over(one))
      .withColumn("_base", expr(s"n_s * ${pMicro}L div 1000000"))
      .withColumn("_rem", expr(s"n_s * ${pMicro}L % 1000000"))
      .withColumn("_t", expr(s"_n * ${pMicro}L div 1000000"))
      .withColumn("_leftover", col("_t") - sum(col("_base")).over(one))
      .withColumn("_rr", row_number().over(
        Window.partitionBy(pmod(col("n_s"), lit(1)))
          .orderBy(col("_rem").desc, col("_st").asc)))
      .withColumn("_quota",
        col("_base") + when(col("_rr") <= col("_leftover"), 1L).otherwise(0L))
      .select(col("_st"), col("_quota"))
    val hv = conv(substring(md5(col(keyCol).cast("string").cast("binary")), 1, 15), 16, 10)
      .cast("long")
    val w = Window.partitionBy(col(stratumCol)).orderBy(hv.asc, col(keyCol).asc)
    df.withColumn("_rnk", row_number().over(w))
      .join(broadcast(counts), col(stratumCol) === col("_st"))
      .filter(col("_rnk") <= col("_quota"))
      .drop("_rnk", "_st", "_quota")
  }
}
