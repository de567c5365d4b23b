package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/**
 * Time-series regularization: resample an irregular per-key event
 * stream onto a fixed grid (one row per `stepSeconds` bucket between
 * each key's first and last observation), with gaps filled by
 * forward-fill and by linear interpolation — the feature-engineering
 * staple for sensor/metric/activity series feeding models that
 * expect evenly spaced inputs.
 *
 * Shape at 100 TB: the observation aggregate is ONE map-side-combined
 * shuffle on (key, bucket); the grid is generated row-locally from a
 * per-key (min,max) aggregate via `sequence` + explode, so grid size
 * is keys × span/step and never touches the raw data volume; the fill
 * windows partition BY KEY (never partition-less). Size `stepSeconds`
 * so span/step per key is bounded (thousands, not millions) — a
 * pathological key fails loudly in `sequence`, it does not OOM
 * silently.
 *
 * Portability contract (DuckDB-oracled): bucket = epoch-seconds
 * integer-division, per-bucket value = CAST(SUM(DECIMAL) AS
 * DOUBLE)/COUNT, and the interpolation arithmetic is the literal
 * IEEE sequence `prev + (next-prev) * (b-pb)/(nb-pb)`.
 */
object Resample {

  /**
   * Output: keys…, `bucket_start` (epoch seconds, step-aligned),
   * `n_obs` (0 in gaps), `v_avg` (per-bucket mean, null in gaps),
   * `v_ffill` (last observed mean at or before the bucket), `v_interp`
   * (linear interpolation between the surrounding observed buckets;
   * forward/backward fill at the edges).
   */
  /** Output/internal names are reserved: a config-facing op must fail
    * loudly on a clash, not throw AMBIGUOUS_REFERENCE mid-plan. */
  private def checkNames(keys: Seq[String], reserved: Seq[String], op: String): Unit = {
    val clash = keys.toSet.intersect(reserved.toSet)
    require(clash.isEmpty,
      s"$op: key column(s) ${clash.mkString(", ")} collide with the operator's " +
        s"output/internal columns (${reserved.mkString(", ")}) — rename them first")
  }

  def gapFillResample(df: DataFrame, keys: Seq[String], tsCol: String,
                      valueCol: String, stepSeconds: Long): DataFrame = {
    require(keys.nonEmpty && stepSeconds > 0)
    checkNames(keys, Seq("_rs_b", "bucket_start", "n_obs", "v_avg", "v_ffill",
      "v_interp", "_v", "_pv", "_pb", "_nv", "_nb", "_mnb", "_mxb"),
      "gapFillResample")
    val kCols = keys.map(col)
    val b = expr(s"unix_timestamp($tsCol) div $stepSeconds").as("_rs_b")
    val obs = df.select(kCols :+ b :+ col(valueCol).as("_v"): _*)
      .groupBy(kCols :+ col("_rs_b"): _*)
      .agg(count(lit(1)).as("n_obs"),
        (sum(col("_v").cast("decimal(18,4)")).cast("double") / count(lit(1)))
          .as("v_avg"))
    val span = obs.groupBy(kCols: _*)
      .agg(min(col("_rs_b")).as("_mnb"), max(col("_rs_b")).as("_mxb"))
    val grid = span.select(kCols :+
      explode(sequence(col("_mnb"), col("_mxb"))).as("_rs_b"): _*)
    val joined = grid.join(obs, keys :+ "_rs_b", "left")
    val wUp = Window.partitionBy(kCols: _*).orderBy(col("_rs_b"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wDown = Window.partitionBy(kCols: _*).orderBy(col("_rs_b"))
      .rowsBetween(Window.currentRow, Window.unboundedFollowing)
    val obsB = when(col("v_avg").isNotNull, col("_rs_b"))
    val filled = joined
      .withColumn("_pv", last(col("v_avg"), ignoreNulls = true).over(wUp))
      .withColumn("_pb", last(obsB, ignoreNulls = true).over(wUp))
      .withColumn("_nv", first(col("v_avg"), ignoreNulls = true).over(wDown))
      .withColumn("_nb", first(obsB, ignoreNulls = true).over(wDown))
    val interp = when(col("v_avg").isNotNull, col("v_avg"))
      .when(col("_pv").isNotNull && col("_nv").isNotNull,
        col("_pv") + (col("_nv") - col("_pv")) *
          (col("_rs_b") - col("_pb")).cast("double") /
          (col("_nb") - col("_pb")).cast("double"))
      .otherwise(coalesce(col("_pv"), col("_nv")))
    filled.select(kCols ++ Seq(
      (col("_rs_b") * stepSeconds).as("bucket_start"),
      coalesce(col("n_obs"), lit(0L)).as("n_obs"),
      col("v_avg"),
      col("_pv").as("v_ffill"),
      interp.as("v_interp")): _*)
  }

  /** Gap report companion: per key, the observed span, bucket counts,
    * and the longest run of empty buckets — the data-quality signal
    * that decides whether interpolation is even defensible. Rides the
    * same grid; the longest-gap scan is a per-key window over
    * bucket-cardinality rows. */
  def gapReport(df: DataFrame, keys: Seq[String], tsCol: String,
                stepSeconds: Long): DataFrame = {
    require(keys.nonEmpty && stepSeconds > 0)
    checkNames(keys, Seq("_rs_b", "_gap", "first_bucket", "last_bucket",
      "n_observed_buckets", "n_empty_buckets", "longest_gap_buckets"), "gapReport")
    val kCols = keys.map(col)
    val b = expr(s"unix_timestamp($tsCol) div $stepSeconds").as("_rs_b")
    val obs = df.select(kCols :+ b: _*).distinct()
    val w = Window.partitionBy(kCols: _*).orderBy(col("_rs_b"))
    obs.withColumn("_gap", col("_rs_b") - lag(col("_rs_b"), 1).over(w) - 1)
      .groupBy(kCols: _*)
      .agg(min(col("_rs_b")).as("first_bucket"), max(col("_rs_b")).as("last_bucket"),
        count(lit(1)).as("n_observed_buckets"),
        (max(col("_rs_b")) - min(col("_rs_b")) + 1 - count(lit(1))).as("n_empty_buckets"),
        coalesce(max(col("_gap")), lit(0L)).as("longest_gap_buckets"))
  }
}
