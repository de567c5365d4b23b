package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/**
 * DSIR — Data Selection via Importance Resampling (Xie et al. 2023,
 * arXiv:2302.03169): score every raw document by how target-like its
 * hashed n-gram distribution is. The per-doc log importance weight is
 *
 *   log w(d) = Σ_{g ∈ grams(d)} [ log p_target(bucket(g))
 *                               − log p_raw(bucket(g)) ]
 *
 * with Laplace-smoothed bucket probabilities p(b) = (c_b + 1)/(C + B)
 * over B hash buckets. High-weight docs are the ones importance
 * resampling keeps when retargeting a raw crawl at a curated corpus.
 *
 * Scale shape: the only corpus-volume work is the gram explode feeding
 * two map-side-combined bucket-count aggregates (output ≤ B rows each)
 * and one doc-keyed sum. The B-row log-ratio table is BROADCAST onto
 * the gram stream — no shuffle joins against corpus-volume relations.
 * At 100 TB with B = 1e6 the broadcast is ~16 MB; the bucket counts
 * never exceed B rows regardless of corpus size.
 *
 * Determinism (the DuckDB-oracle contract): `ln` runs once per BUCKET
 * row (never accumulated in floating point across rows), is scaled to
 * integer micros, and per-doc totals are exact Long sums — the same
 * integer-micro pattern as unigram/bigram NLL. Grams are word 1-grams
 * ++ 2-grams from the native `word_grams` tokenizer (lowercase,
 * whitespace-split — matches the oracles' string_split_regex).
 */
object Dsir {

  private def bucketOf(gram: Column, buckets: Int, portable: Boolean): Column =
    if (portable)
      pmod(conv(substring(md5(gram.cast("binary")), 1, 15), 16, 10).cast("long"),
        lit(buckets.toLong))
    else pmod(xxhash64(gram), lit(buckets.toLong))

  /** Shared featurization with [[QualityClassifier]]: one row per gram
    * occurrence, bucketed. */
  private[ops] def gramBuckets(df: DataFrame, idCol: String, textCol: String,
                               buckets: Int, portable: Boolean): DataFrame = {
    graft.functions.Registry.ensure(org.apache.spark.sql.SparkSession.active)
    df.filter(col(textCol).isNotNull)
      .select(col(idCol).as("id"),
        explode(concat(
          call_function("word_grams", col(textCol), lit(1), lit(1)),
          call_function("word_grams", col(textCol), lit(2), lit(1)))).as("gram"))
      .select(col("id"), bucketOf(col("gram"), buckets, portable).as("b"))
  }

  /** (b, lr_micro) Laplace log-ratio table over the bucketed gram
    * distributions of `raw` vs `target` — at most `buckets` rows. */
  private def logRatioCore(rawG: DataFrame, tgtG: DataFrame,
                           buckets: Int): DataFrame = {
    val rawB = rawG.groupBy(col("b")).agg(count(lit(1)).as("cr"))
    val tgtB = tgtG.groupBy(col("b")).agg(count(lit(1)).as("ct"))
    // totals ride one-row broadcasts; B is a literal
    val totals = rawB.agg(sum(col("cr")).as("totr"))
      .crossJoin(tgtB.agg(sum(col("ct")).as("tott")))
    rawB.join(tgtB, Seq("b"), "full_outer")
      .na.fill(0L, Seq("cr", "ct"))
      .crossJoin(broadcast(totals))
      .select(col("b"),
        floor((log(col("ct") + lit(1.0)) - log(col("tott") + lit(buckets.toDouble))
             - log(col("cr") + lit(1.0)) + log(col("totr") + lit(buckets.toDouble)))
          * lit(1e6) + lit(0.5)).cast("long").as("lr_micro"))
  }

  /** Per-raw-doc DSIR log importance weight. Output: (id, n_grams,
    * logw_micro, logw) — `logw_micro` is the exact integer the oracle
    * reproduces; `logw` is its single final cast to double. */
  def importanceWeights(raw: DataFrame, target: DataFrame,
                        idCol: String, textCol: String,
                        buckets: Int = 8192,
                        portableHashing: Boolean = false): DataFrame = {
    require(buckets > 0, "buckets must be positive")
    val rawG = gramBuckets(raw, idCol, textCol, buckets, portableHashing)
    val tgtG = gramBuckets(target, idCol, textCol, buckets, portableHashing)
    val lr = logRatioCore(rawG, tgtG, buckets)
    rawG.join(broadcast(lr), Seq("b"))
      .groupBy(col("id"))
      .agg(count(lit(1)).as("n_grams"), sum(col("lr_micro")).as("logw_micro"))
      .select(col("id"), col("n_grams"), col("logw_micro"),
        (col("logw_micro").cast("double") / lit(1e6)).as("logw"))
  }
}
