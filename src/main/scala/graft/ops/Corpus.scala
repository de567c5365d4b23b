package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/**
 * The end-to-end training-corpus cleaning pipeline, composed from the
 * individual operators: quality gate -> exact dedup -> near-dup
 * cluster resolution. Each stage is one of the independently-verified
 * operators; this is the shape a 100 TB pretraining-data job takes
 * (quality filter prunes before the expensive near-dup stage sees the
 * data; exact dedup before MinHash halves the pair workload).
 */
object Corpus {

  case class CleanConfig(
      minQuality: Double = 0.3,
      langs: Set[String] = Set.empty,      // empty = keep all
      nearDupThreshold: Double = 0.7,
      shingleSize: Int = 5,
      numHashes: Int = 16,
      bands: Int = 4,
      // md5-portable minhash pairs (4-char shingles, 8 seeds) instead of
      // xxhash64 — slower, but every stage verifies against DuckDB
      portableHashing: Boolean = false)

  /** Returns the cleaned corpus (original columns; canonical doc kept
    * per near-dup cluster) plus bookkeeping columns quality + lang_pred. */
  def clean(docs: DataFrame, idCol: String, textCol: String,
            cfg: CleanConfig = CleanConfig()): DataFrame = {
    // 1. cheap row-local quality/language gates first (predicate pushdown
    //    keeps this in the scan stage)
    var kept = docs
      .withColumn("quality", TextAnalysis.qualityScore(col(textCol)))
      .withColumn("lang_pred", TextAnalysis.langId(col(textCol)))
      .filter(col("quality") >= cfg.minQuality)
    if (cfg.langs.nonEmpty)
      kept = kept.filter(col("lang_pred").isin(cfg.langs.toSeq: _*))

    // 2. exact dedup (hash shuffle on content). Materialized at a
    //    parquet stage boundary: the result feeds BOTH the near-dup
    //    pair generation and the final anti-join, and without a
    //    boundary the whole scan + gate + dedup-window DAG executes
    //    twice. It is also the production shape — a pipeline
    //    materializes the cleaned corpus here anyway.
    val exact = CachedRelations.parquetStage(
      Dedup.byIngestOrder(kept, Seq(textCol), keepFirst = true))

    // 3. near-dup clusters -> canonical representative
    val pairs =
      if (cfg.portableHashing)
        Dedup.minhashPortablePairs(exact, idCol, textCol,
          shingleSize = 4, numHashes = 8, bands = cfg.bands, threshold = cfg.nearDupThreshold)
      else
        Dedup.minhashNearDupPairs(exact, idCol, textCol,
          cfg.shingleSize, cfg.numHashes, cfg.bands, cfg.nearDupThreshold)
    Clusters.dedupByPairs(exact, idCol, pairs, "id_a", "id_b")
  }
}
