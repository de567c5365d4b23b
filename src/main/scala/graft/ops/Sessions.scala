package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/**
 * Gap-based sessionization over an event table: a new session starts
 * when the gap to the previous event of the same key exceeds
 * `gapSeconds`. One shuffle on the key; session ids are running sums
 * of new-session flags.
 * `tiebreak` columns make the within-key order total (equal
 * timestamps would otherwise make lag() nondeterministic).
 */
object Sessions {

  def sessionize(df: DataFrame, keyCol: String, tsCol: String,
                 gapSeconds: Long, tiebreak: Seq[String] = Seq.empty): DataFrame = {
    val order: Seq[Column] = col(tsCol) +: tiebreak.map(col)
    val w = Window.partitionBy(col(keyCol)).orderBy(order: _*)
    val prev = lag(col(tsCol), 1).over(w)
    val newSession = when(prev.isNull, 1L)
      .when(unix_timestamp(col(tsCol)) - unix_timestamp(prev) > gapSeconds, 1L)
      .otherwise(0L)
    df.withColumn("session_idx",
      sum(newSession).over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
  }

  /** Per-session aggregates (count, span, decimal-exact value sum). */
  def sessionStats(df: DataFrame, keyCol: String, tsCol: String,
                   valueCol: String, gapSeconds: Long,
                   tiebreak: Seq[String] = Seq.empty): DataFrame =
    sessionize(df, keyCol, tsCol, gapSeconds, tiebreak)
      .groupBy(col(keyCol), col("session_idx"))
      .agg(count(lit(1)).as("n_events"),
        (unix_timestamp(max(col(tsCol))) - unix_timestamp(min(col(tsCol)))).as("span_secs"),
        sum(col(valueCol).cast("decimal(18,4)")).cast("double").as("total_value"))

  /**
   * Entry-type bounce report: per session entry event type, how many
   * sessions started there and what fraction ended immediately
   * (single-event sessions), in integral basis points. The entry
   * event is the (ts, tiebreak, type)-minimum — deterministic under
   * timestamp ties. Shares sessionize's ONE key shuffle (the
   * per-session aggregate reuses the window partitioning); the
   * closing per-entry-type aggregate is |types| rows.
   */
  def bounceReport(df: DataFrame, keyCol: String, tsCol: String,
                   typeCol: String, gapSeconds: Long,
                   tiebreak: Seq[String] = Seq.empty): DataFrame = {
    val orderKey = struct((col(tsCol) +: tiebreak.map(col) :+ col(typeCol)): _*)
    sessionize(df, keyCol, tsCol, gapSeconds, tiebreak)
      .groupBy(col(keyCol), col("session_idx"))
      .agg(min(struct(orderKey.as("o"), col(typeCol).as("t"))).as("_first"),
        count(lit(1)).as("_n"))
      .groupBy(col("_first").getField("t").as("entry_type"))
      .agg(count(lit(1)).as("n_sessions"),
        sum(when(col("_n") === 1, 1L).otherwise(0L)).as("n_bounces"))
      .withColumn("bounce_bp",
        expr("n_bounces * CAST(10000 AS BIGINT) div n_sessions"))
  }

  /**
   * Top-K session paths (behavioral flow mining): each session's first
   * `maxSteps` event types joined "a>b>c", counted corpus-wide, top-K
   * by (count desc, path asc) with a deterministic rank.
   *
   * Scale shape: the session window and the per-session collect share
   * ONE key-partitioned shuffle (the agg reuses the window's
   * partitioning); the collect is order-pinned row-locally
   * (sort_array over (ts, tiebreak, type) structs — never the
   * nondeterministic collect_list order) and HARD-BOUNDED by
   * `maxCollectPerSession` pre-cap on the same partitioning (the
   * funnel maxEventsPerKey stance: earliest events win, exact
   * whenever a session is under the cap — and a path only ever uses
   * the first `maxSteps` anyway, but the cap keeps a robot session
   * from OOMing the collect). Path counting is map-side combined;
   * top-K is a TakeOrderedAndProject.
   */
  /**
   * Recency-decayed engagement score per key: each event contributes
   * 10⁶ div 2^(whole half-lives before the corpus max) — STEP decay
   * on integral half-life periods, so the score is exact integer
   * arithmetic in any engine (a continuous 2^(−Δ/h) would ride
   * Math.pow, which is not correctly rounded and not engine-stable).
   * Events older than 20 half-lives contribute 0 (10⁶ shifted away);
   * the shift exponent clamps at 62 so the divisor never overflows.
   * One key shuffle (map-side-combined sum); corpus max broadcast —
   * rerun-deterministic like [[Rfm.rfm]].
   */
  def decayedEngagement(df: DataFrame, keyCol: String, tsCol: String,
                        halfLifeDays: Int): DataFrame = {
    require(halfLifeDays >= 1, "halfLifeDays must be >= 1")
    val epoch = floor(unix_timestamp(col(tsCol))).cast("long")
    val corpusMax = df.agg(max(epoch).as("corpus_max_epoch"))
    df.withColumn("_ep", epoch)
      .crossJoin(broadcast(corpusMax))
      .withColumn("_periods",
        least(expr(s"(corpus_max_epoch - _ep) div ${86400L * halfLifeDays}"), lit(62L))
          .cast("int"))
      .withColumn("_w", expr("1000000 div shiftleft(cast(1 as bigint), _periods)"))
      .groupBy(col(keyCol))
      .agg(count(lit(1)).as("n_events"), sum(col("_w")).as("decayed_micro"))
  }

  /**
   * Sequential pattern mining, fixed length n: per-key consecutive
   * event-type n-grams (ordered by (ts, tiebreak) — a total order, so
   * the lag chain is deterministic), counted corpus-wide with a
   * deterministic (count desc, gram asc) top-K. One key shuffle for
   * the lag windows (map-side-combined count after), and the top-K is
   * TakeOrderedAndProject — never a global sort. The n−1 lag columns
   * share one window spec, so Spark evaluates them in a single pass.
   */
  def eventNgrams(df: DataFrame, keyCol: String, tsCol: String, typeCol: String,
                  tiebreak: String, n: Int = 3, topK: Int = 20): DataFrame = {
    require(n >= 2 && n <= 8, "n must be in [2, 8]")
    val w = Window.partitionBy(col(keyCol)).orderBy(col(tsCol), col(tiebreak))
    val lagged = (n - 1 to 1 by -1).foldLeft(df.filter(col(typeCol).isNotNull)) {
      (acc, i) => acc.withColumn(s"_p$i", lag(col(typeCol), i).over(w))
    }
    val parts = (n - 1 to 1 by -1).map(i => col(s"_p$i")) :+ col(typeCol)
    lagged
      .filter(parts.map(_.isNotNull).reduce(_ && _))
      .select(concat_ws(">", parts: _*).as("gram"))
      .groupBy(col("gram")).agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("gram").asc)
      .limit(topK)
      // The rank window rides the post-limit ≤topK relation; the
      // constant pmod partition states that single-partition intent
      // explicitly (and spares the WindowExec no-partition warning).
      .withColumn("rank", row_number().over(
        Window.partitionBy(pmod(col("n"), lit(1)))
          .orderBy(col("n").desc, col("gram").asc)))
  }

  def sessionPaths(df: DataFrame, keyCol: String, tsCol: String,
                   typeCol: String, gapSeconds: Long, maxSteps: Int,
                   topK: Int, tiebreak: Seq[String] = Seq.empty,
                   maxCollectPerSession: Int = 10000): DataFrame = {
    require(maxSteps >= 1 && topK >= 1, "maxSteps and topK must be positive")
    val sess = sessionize(df, keyCol, tsCol, gapSeconds, tiebreak)
    val wcap = Window.partitionBy(col(keyCol), col("session_idx"))
      .orderBy((col(tsCol) +: tiebreak.map(col) :+ col(typeCol)): _*)
    val orderKey = struct((col(tsCol) +: tiebreak.map(col) :+ col(typeCol)): _*)
    val path = array_join(
      slice(transform(sort_array(collect_list(struct(orderKey.as("o"), col(typeCol).as("t")))),
        e => e.getField("t")), 1, maxSteps), ">")
    sess
      .withColumn("_rn", row_number().over(wcap))
      .filter(col("_rn") <= maxCollectPerSession)
      .groupBy(col(keyCol), col("session_idx"))
      .agg(path.as("path"))
      .groupBy(col("path")).agg(count(lit(1)).as("n_sessions"))
      .orderBy(col("n_sessions").desc, col("path"))
      .limit(topK)
      .withColumn("rank", row_number().over(
        Window.partitionBy(pmod(col("n_sessions"), lit(1)))
          .orderBy(col("n_sessions").desc, col("path"))))
  }
}
