package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/**
 * Count-Min sketch as RELATIONAL algebra (Cormode & Muthukrishnan
 * 2005): `d` hash rows × `w` buckets; each item increments bucket
 * h_j(x) mod w in every row j; the estimate for a key is the MIN of
 * its d bucket counts — always ≥ the true count, and within εN
 * (ε = e/w) with probability 1 − e^−d.
 *
 * Expressing the sketch as a GROUP BY means the build is one
 * map-side-combined shuffle of (row, bucket) pairs — d rows per item
 * — and the finished sketch is d·w rows TOTAL regardless of corpus
 * size: the classic "ship the sketch, not the data" mergeable
 * summary (sketches of two corpora add elementwise — here a UNION
 * ALL + re-aggregate). Because the hashes are seeded and
 * deterministic, the WHOLE sketch is exactly oracle-able, not just
 * its error bound: `portableHashing=true` uses the repo's md5
 * arithmetic (DuckDB-restatable), the default uses xxhash64.
 */
object Sketches {

  private def bucketOf(j: Int, key: org.apache.spark.sql.Column, w: Int,
                       portable: Boolean): org.apache.spark.sql.Column =
    if (portable)
      pmod(conv(substring(md5(concat(lit(s"$j|"), key).cast("binary")), 1, 15), 16, 10)
        .cast("long"), lit(w))
    else pmod(xxhash64(lit(j), key), lit(w))

  /** The sketch itself: (row, bucket, cnt), d·w rows max. */
  def countMinTable(df: DataFrame, keyCol: String, d: Int = 3, w: Int = 256,
                    portableHashing: Boolean = false): DataFrame = {
    require(d >= 1 && d <= 8 && w >= 2, "need 1 <= d <= 8 and w >= 2")
    val key = col(keyCol).cast("string")
    df.filter(col(keyCol).isNotNull)
      .select(posexplode(array((0 until d).map(j => bucketOf(j, key, w, portableHashing)): _*))
        .as(Seq("row", "bucket")))
      .groupBy(col("row"), col("bucket")).agg(count(lit(1)).as("cnt"))
  }

  /**
   * Point estimates for every distinct key: est = min over the d
   * bucket counts. The d·w-row sketch joins the key list by
   * BROADCAST — the data-volume work happened once, in the build.
   */
  def countMinEstimates(df: DataFrame, keyCol: String, d: Int = 3, w: Int = 256,
                        portableHashing: Boolean = false): DataFrame = {
    val sketch = countMinTable(df, keyCol, d, w, portableHashing)
    val keys = df.filter(col(keyCol).isNotNull)
      .select(col(keyCol).as("key")).distinct()
      .select(col("key"),
        posexplode(array((0 until d).map(j =>
          bucketOf(j, col("key").cast("string"), w, portableHashing)): _*))
          .as(Seq("row", "bucket")))
    keys.join(broadcast(sketch), Seq("row", "bucket"))
      .groupBy(col("key")).agg(min(col("cnt")).as("est"))
  }

  /**
   * Mergeable HLL distinct-count partials (Apache DataSketches HLL
   * via Spark's native `hll_sketch_agg`) — THE 100 TB cardinality
   * pattern: scan the fact table ONCE at the finest key, materialize
   * a sketch table of (keys…, hll_sketch) rows, and answer every
   * coarser rollup — region, month, global, any subset — by unioning
   * sketches ([[hllRollup]]) without ever rescanning the data. A
   * sketch row is ≤ ~2^lgK bytes regardless of cardinality, so the
   * partial table is key-cardinality sized and broadcastable; the
   * standard error is ~1.04/sqrt(2^lgK) (~1.6% at the default 12).
   */
  def hllPartials(df: DataFrame, keys: Seq[String], valueCol: String,
                  lgK: Int = 12): DataFrame =
    df.groupBy(keys.map(col): _*)
      .agg(hll_sketch_agg(col(valueCol), lit(lgK)).as("hll_sketch"))

  /** Roll partials up to coarser `keys` by sketch union — no rescan;
    * input and output are both sketch tables, so rollups chain
    * (nation → region → global). */
  def hllRollup(partials: DataFrame, keys: Seq[String]): DataFrame = {
    val agg = hll_union_agg(col("hll_sketch")).as("hll_sketch")
    if (keys.isEmpty) partials.groupBy().agg(agg)
    else partials.groupBy(keys.map(col): _*).agg(agg)
  }

  /** Estimated distinct count of a sketch column (long). */
  def hllEstimate(sketch: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    hll_sketch_estimate(sketch)

  // ---------------------------------------------------------------
  // Mergeable equi-width histograms — the quantile member of the
  // mergeable-summary family (HLL = distinct, KMV = overlap, this =
  // distribution): scan the fact table ONCE at the finest key into
  // (keys…, bucket, cnt) partials, roll up to ANY coarser key by
  // summing bucket counts, and read off any quantile from the rolled
  // histogram — exact to bucket width, with no rescan and integer
  // arithmetic throughout (fully DuckDB-oracle-able). The domain
  // [lo, hi) is a caller contract (out-of-range values clamp to the
  // edge buckets — visible as mass in bucket 0 / nBuckets-1).
  // ---------------------------------------------------------------

  /** (keys…, bucket, cnt): one map-side-combined aggregate;
    * keys×nBuckets rows max regardless of data volume. */
  def histogramPartials(df: DataFrame, keys: Seq[String], valueCol: String,
                        lo: Double, hi: Double, nBuckets: Int): DataFrame = {
    require(nBuckets >= 1 && hi > lo)
    val v = col(valueCol).cast("double")
    val bucket = greatest(lit(0L), least(lit(nBuckets - 1L),
      floor((v - lo) * nBuckets / (hi - lo))))
    df.filter(v.isNotNull && !isnan(v))
      .groupBy((keys.map(col) :+ bucket.as("bucket")): _*)
      .agg(count(lit(1)).as("cnt"))
  }

  /** Roll partials to coarser `keys` by summing bucket counts —
    * input and output are both histogram tables, so rollups chain. */
  def histogramRollup(partials: DataFrame, keys: Seq[String]): DataFrame =
    partials.groupBy((keys.map(col) :+ col("bucket")): _*)
      .agg(sum(col("cnt")).as("cnt"))

  /**
   * Quantile read-off: for each key and q, the bucket holding the
   * ceil(q·n)-th smallest value, with its [bucket_lo, bucket_hi)
   * edges — the estimate is exact to bucket width. One per-key
   * cumulative window over ≤ nBuckets rows.
   */
  def histogramQuantiles(hist: DataFrame, keys: Seq[String], qs: Seq[Double],
                         lo: Double, hi: Double, nBuckets: Int): DataFrame = {
    require(qs.nonEmpty && qs.forall(q => q > 0 && q <= 1))
    // empty keys would make the cumulative window partition-less; the
    // relation is provably ≤ nBuckets rows, stated via the repo's
    // pmod-constant idiom (non-foldable, single-valued) so the plan
    // carries a partition spec and the hygiene sweep holds
    val pCols = if (keys.nonEmpty) keys.map(col)
                else Seq(pmod(col("bucket"), lit(1)))
    val kCols = keys.map(col)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(pCols: _*).orderBy(col("bucket"))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
        org.apache.spark.sql.expressions.Window.currentRow)
    val wAll = org.apache.spark.sql.expressions.Window.partitionBy(pCols: _*)
    val width = (hi - lo) / nBuckets
    hist
      .withColumn("_cum", sum(col("cnt")).over(w))
      .withColumn("_n", sum(col("cnt")).over(wAll))
      .withColumn("q_micro", explode(array(qs.map(q =>
        lit(math.round(q * 1000000).toLong)): _*)))
      .filter(col("_cum") >= ceil(col("q_micro").cast("double") * col("_n") / 1000000.0))
      .groupBy((kCols :+ col("q_micro")): _*)
      .agg(min(col("bucket")).as("bucket"), max(col("_n")).as("n"))
      .select(kCols ++ Seq(col("q_micro"), col("n"), col("bucket"),
        (lit(lo) + col("bucket") * width).as("bucket_lo"),
        (lit(lo) + (col("bucket") + 1) * width).as("bucket_hi")): _*)
  }

  // ---------------------------------------------------------------
  // K-Minimum-Values sketches — the mergeable summary HLL can't be:
  // KMV supports set INTERSECTION (audience overlap), because the k
  // smallest hashes of A ∪ B are a uniform sample of the union on
  // which A- and B-membership can be tested exactly (Beyer et al.
  // 2007). est(|A∪B|) = (k-1)/U_(k); Jaccard = |common among the
  // union's k minima|/k; est(|A∩B|) = Jaccard · est(|A∪B|). With
  // fewer than k distinct hashes the sketch IS the set and every
  // estimate is exact — which also makes the whole operator
  // DuckDB-oracle-able at test scale with integer-exact arithmetic.
  // ---------------------------------------------------------------

  /** Uniform 16-char lowercase hex hash: lexicographic order == the
    * unsigned numeric order the estimator needs. `portable` = md5
    * (DuckDB-restatable), default = xxhash64 (the scale path). */
  private def kmvHash(v: org.apache.spark.sql.Column, portable: Boolean) =
    if (portable) md5(v.cast("string").cast("binary"))
    else lower(lpad(hex(xxhash64(v.cast("string"))), 16, "0"))

  /**
   * KMV sketch table: ≤ `k` rows per group — the k smallest distinct
   * value hashes, rank included. One map-side-combined distinct plus a
   * per-group top-k (WindowGroupLimit: no full sort); the sketch is
   * k·groups rows total regardless of data volume, broadcastable, and
   * mergeable by union + re-rank.
   */
  def kmvSketch(df: DataFrame, groupCol: String, valueCol: String, k: Int,
                portableHashing: Boolean = false): DataFrame = {
    require(k >= 2)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("g")).orderBy(col("h"))
    df.filter(col(valueCol).isNotNull)
      .select(col(groupCol).as("g"), kmvHash(col(valueCol), portableHashing).as("h"))
      .distinct()
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= k)
  }

  /** 52-bit integer value of a hex hash's first 13 chars — exact in
    * BIGINT and in an IEEE double, so (k-1)·2^52/v divides identically
    * in every engine. */
  private def hex13(h: org.apache.spark.sql.Column) =
    conv(substring(h, 1, 13), 16, 10).cast("long")

  /** Per-group distinct-count estimates from a [[kmvSketch]]:
    * (g, n_sketch, est) — exact when the group had < k distinct. */
  def kmvEstimate(sketch: DataFrame, k: Int): DataFrame =
    sketch.groupBy(col("g"))
      .agg(count(lit(1)).as("n_sketch"), max(col("h")).as("_kth"))
      .select(col("g"), col("n_sketch"),
        when(col("n_sketch") < k, col("n_sketch"))
          .otherwise(floor(lit((k - 1).toDouble * 4503599627370496.0)
            / greatest(hex13(col("_kth")), lit(1L))))
          .cast("long").as("est"))

  /**
   * Pairwise overlap of every group pair (g1 < g2) from ONE sketch
   * table: merge the two sketches, keep the union's k minima with
   * exact A/B membership, and read off Jaccard and intersection
   * estimates — integer-exact arithmetic end to end (micros for the
   * ratio), so the portable-hash path hash-matches its oracle. The
   * pair fan-out is sketch-sized (k rows per group), never data-sized:
   * overlap of two 10-billion-row audiences costs 2k rows.
   */
  def kmvOverlap(sketch: DataFrame, k: Int): DataFrame = {
    val groups = sketch.select(col("g")).distinct()
    val pairs = groups.select(col("g").as("g1"))
      .join(broadcast(groups.select(col("g").as("g2"))), col("g1") < col("g2"))
    val a = pairs.join(sketch.select(col("g").as("g1"), col("h")), Seq("g1"))
      .select(col("g1"), col("g2"), col("h"), lit(1).as("in_a"), lit(0).as("in_b"))
    val b = pairs.join(sketch.select(col("g").as("g2"), col("h")), Seq("g2"))
      .select(col("g1"), col("g2"), col("h"), lit(0).as("in_a"), lit(1).as("in_b"))
    val merged = a.unionByName(b)
      .groupBy(col("g1"), col("g2"), col("h"))
      .agg(max(col("in_a")).as("in_a"), max(col("in_b")).as("in_b"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("g1"), col("g2")).orderBy(col("h"))
    val kept = merged.withColumn("rk", row_number().over(w)).filter(col("rk") <= k)
    kept.groupBy(col("g1"), col("g2"))
      .agg(count(lit(1)).as("n_union_sketch"),
        sum(when(col("in_a") === 1 && col("in_b") === 1, 1L).otherwise(0L))
          .as("common_k"),
        max(col("h")).as("_kth"))
      .select(col("g1"), col("g2"), col("n_union_sketch"), col("common_k"),
        when(col("n_union_sketch") < k, col("n_union_sketch"))
          .otherwise(floor(lit((k - 1).toDouble * 4503599627370496.0)
            / greatest(hex13(col("_kth")), lit(1L))))
          .cast("long").as("est_union"))
      // floor(), never a bare cast: Spark's double→long cast truncates
      // while DuckDB's CAST rounds — the classic cross-engine hash killer
      .withColumn("jaccard_micro",
        floor(col("common_k") * 1000000.0
          / least(lit(k.toLong), col("n_union_sketch"))).cast("long"))
      .withColumn("est_intersection",
        floor(col("jaccard_micro") * col("est_union") / lit(1000000.0)).cast("long"))
  }
}
