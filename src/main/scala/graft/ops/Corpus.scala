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
      // None = the hash path's own default: 5-char shingles and 16
      // seeds for xxhash64, 4 and 8 for md5-portable
      shingleSize: Option[Int] = None,
      numHashes: Option[Int] = None,
      bands: Int = 4,
      // md5-portable minhash pairs instead of xxhash64 — slower, but
      // every stage verifies against DuckDB
      portableHashing: Boolean = false)

  /** The quality and language gates: adds `quality` and `lang_pred`,
    * keeps rows at or above `minQuality` in a listed language (any
    * language when `langs` is empty). Row-local, so it runs in the
    * scan stage. Both gates read one `text_stats` pass per row
    * ([[TextAnalysis.withTextStats]]). */
  def gate(docs: DataFrame, textCol: String, cfg: CleanConfig): DataFrame = {
    val scored = TextAnalysis.withTextStats(docs, col(textCol), "quality" -> "quality", "lang_pred" -> "lang")
      .filter(col("quality") >= cfg.minQuality)
    if (cfg.langs.isEmpty) scored else scored.filter(col("lang_pred").isin(cfg.langs.toSeq: _*))
  }

  /** Returns the cleaned corpus (original columns; canonical doc kept
    * per near-dup cluster) plus bookkeeping columns quality + lang_pred. */
  def clean(docs: DataFrame, idCol: String, textCol: String,
            cfg: CleanConfig = CleanConfig()): DataFrame = {
    // 1. cheap row-local quality/language gates first
    val kept = gate(docs, textCol, cfg)

    // 2. exact dedup (hash shuffle on content). Materialized at a
    //    parquet stage boundary: the result feeds BOTH the near-dup
    //    pair generation and the final anti-join, and without a
    //    boundary the whole scan + gate + dedup-window DAG executes
    //    twice. It is also the production shape — a pipeline
    //    materializes the cleaned corpus here anyway.
    val exact = CachedRelations.parquetStage(
      Dedup.byIngestOrder(kept, Seq(textCol), keepFirst = true))

    // 3. near-dup clusters -> canonical representative
    val sh = cfg.shingleSize.getOrElse(if (cfg.portableHashing) 4 else 5)
    val nh = cfg.numHashes.getOrElse(if (cfg.portableHashing) 8 else 16)
    val pairs =
      if (cfg.portableHashing)
        Dedup.minhashPortablePairs(exact, idCol, textCol,
          shingleSize = sh, numHashes = nh, bands = cfg.bands, threshold = cfg.nearDupThreshold)
      else
        Dedup.minhashNearDupPairs(exact, idCol, textCol, sh, nh, cfg.bands, cfg.nearDupThreshold)
    Clusters.dedupByPairs(exact, idCol, pairs, "id_a", "id_b")
  }
}
