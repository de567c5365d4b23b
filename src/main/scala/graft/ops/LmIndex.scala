package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/**
 * Persisted n-gram LM artifacts — the KenLM production lifecycle for
 * [[TextAnalysis.modifiedKneserNeyLogProb]]: at 100 TB the reference
 * LM (CCNet fits it on clean Wikipedia) is trained ONCE and then
 * scores crawl snapshots for weeks, so refitting the model tables on
 * every scoring run re-reads the whole reference corpus for nothing.
 *
 * The [[StampedArtifact]] protocol, shared with the bloom side index,
 * [[AnnIndex]] and [[TokenizerIndex]] (fingerprint stamp → verified
 * read → loud STALE → rebuild heals):
 *
 *  1. [[writeMknIndex]] fits the mkn3 model tables on the train table
 *     and persists exactly three artifacts — the trigram TYPE counts,
 *     the bigram TYPE counts, and the ONE-ROW discount/(B,V) table —
 *     stamped with the train table's file-listing fingerprint
 *     ([[Layout.tableFingerprint]]). The stamp is written LAST and
 *     dropped FIRST on rebuild, so a write that dies midway never
 *     carries a valid stamp.
 *  2. [[scoreMknIndexed]] verifies the stamp against the live train
 *     table BEFORE planning, then scores through the IDENTICAL plan
 *     the in-session operator builds ([[TextAnalysis.mknScoreRows]]):
 *     counts are longs and the disc row's doubles round-trip parquet
 *     bit-exactly, so a loaded-model score equals its in-session twin
 *     row for row (equivalence-oracled by q_llm_mkn_index_check).
 *
 * The per-context stats (ctx3 / den2 / cont1) are NOT persisted: they
 * derive from the persisted type tables at type volume inside the
 * scoring plan — storing them would triple the artifact for work the
 * optimizer does in one pass over a vocabulary-bounded relation. What
 * the artifact saves is the CORPUS-volume fit (tokenize + two n-gram
 * shuffles over the reference), which is the expensive part at scale.
 */
object LmIndex {

  /** Coherence stamp beside an LM artifact. `parts` records every
    * APPENDED delta corpus as (path, fingerprint-at-append) — the
    * model counts cover base ∪ parts and [[verify]] checks all of
    * them; `version` increments per append (as in [[AnnIndex]]: a
    * lifecycle event is visible in the stamp, never a silent
    * restart). */
  case class LmIndexMeta(kind: String, textCol: String, tableFp: String,
                         version: Int = 0,
                         parts: Seq[(String, String)] = Nil)

  private val stamp = StampedArtifact.lm

  private def metaJson(meta: LmIndexMeta): String = StampJson.obj(
    "kind" -> meta.kind, "text_col" -> meta.textCol, "table_fp" -> meta.tableFp,
    "version" -> meta.version, "parts" -> meta.parts)

  private def parseMeta(text: String): Option[LmIndexMeta] = for {
    kind <- StampJson.strField(text, "kind")
    tc <- StampJson.strField(text, "text_col")
    fp <- StampJson.strField(text, "table_fp")
  } yield LmIndexMeta(kind, tc, fp,
    version = StampJson.intField(text, "version").getOrElse(0),
    parts = StampJson.pathFpList(text, "parts"))

  /** Read an artifact's stamp; None if absent (not produced by a
    * writer here, or a write that died before the stamp) OR
    * unparseable — [[verify]] distinguishes the two loudly. */
  def readMeta(spark: SparkSession, indexPath: String): Option[LmIndexMeta] =
    stamp.read(spark, indexPath).flatMap(parseMeta)

  /** Verify the artifact is coherent with the live train table BEFORE
    * any scoring plan reads it: loud failure on a missing stamp, an
    * unparseable stamp, a different kind/textCol, or a STALE
    * fingerprint of the train table or of any appended delta corpus
    * (the model describes counts that no longer exist). One
    * metadata-scale listing per table; no data read. */
  def verify(spark: SparkSession, trainPath: String, indexPath: String,
             kind: String, textCol: String): LmIndexMeta = {
    val meta = stamp.load(spark, indexPath, trainPath, "LmIndex.writeMknIndex")(parseMeta)
    if (meta.kind != kind || meta.textCol != textCol) throw new IllegalStateException(
      s"LM artifact at $indexPath is (kind '${meta.kind}', textCol '${meta.textCol}'), " +
        s"not (kind '$kind', textCol '$textCol') — wrong model for this scorer")
    stamp.checkFresh(spark, indexPath, trainPath, meta.tableFp, meta.parts,
      "LmIndex.writeMknIndex")
    meta
  }

  /**
   * Fit the mkn3 model on the table at `trainPath` and persist it as
   * a stamped artifact: `tri` (trigram type counts), `big` (bigram
   * type counts), `disc` (the one-row discount/(B,V) table). The fit
   * is the SAME corpus-volume plan the in-session operator runs.
   */
  def writeMknIndex(spark: SparkSession, trainPath: String, indexPath: String,
                    idCol: String, textCol: String): Unit = {
    stamp.drop(spark, indexPath)
    val (fp, _) = stamp.fitWindow(spark, trainPath, "fit") { _ =>
      val toks = TextAnalysis.mknTokedOf(spark.read.parquet(trainPath), idCol, textCol)
      // the writer runs its OWN actions eagerly, so it persists and
      // unpersists locally — CachedRelations is for LAZY results whose
      // caller must release after the action, and a releaseAll() here
      // would also unpersist relations a caller's pending plans track.
      // The fit is the SAME fused single-exchange plan the in-session
      // operator runs (TextAnalysis.mknFit) — identical count values.
      val m = TextAnalysis.mknFit(toks)
      try {
        m.tri.write.mode("overwrite").parquet(s"$indexPath/tri")
        m.big.write.mode("overwrite").parquet(s"$indexPath/big")
        // scoring never reads uni (V rides the disc row); it exists so
        // [[appendMknIndex]] can count-merge the vocabulary exactly
        m.uni.write.mode("overwrite").parquet(s"$indexPath/uni")
        m.disc.repartition(1).write.mode("overwrite").parquet(s"$indexPath/disc")
      } finally m.persisted.foreach(_.unpersist(blocking = false))
    }
    stamp.write(spark, indexPath, metaJson(LmIndexMeta("mkn3", textCol, fp)))
  }

  /**
   * APPEND a delta corpus to a persisted mkn3 model — the incremental
   * posture the ANN indexes and the near-dup state chain already have,
   * natural here because n-gram COUNT tables are additive: the union
   * corpus's trigram/bigram/unigram type counts are exactly the
   * per-corpus counts summed (gram extraction is row-local per doc),
   * so a count-merge plus a discount/count-of-counts re-derivation
   * from the MERGED tables (type volume — no corpus pass over the
   * base) equals a full refit on base ∪ delta EXACTLY, integer for
   * integer (q_llm_mkn_append_check pins the scored output row-exact
   * against the refit). What the append saves at 100 TB is re-reading
   * the whole base corpus — the delta pays its own one fused gram
   * exchange ([[TextAnalysis.mknGrams]]) and everything else is
   * vocabulary-bounded.
   *
   * Lifecycle rails ([[StampedArtifact]], as in the [[AnnIndex]]
   * appends): no silent v0 restart (appending to an unstamped path
   * refuses with a build hint), one append per delta (FS-qualified
   * path compare), stamp dropped FIRST and re-written LAST around the
   * table swap, delta fingerprint window, every part re-verified by
   * [[verify]] before any later scoring plan. The merged tables stage
   * beside the live ones and land through
   * [[StampedArtifact.swapStamped]] — any death window leaves a
   * loudly-unverifiable artifact whose data is intact in named
   * directories and heals by rebuild. An r14-era artifact without the
   * `uni/` table refuses with a rebuild hint (the vocabulary cannot
   * be count-merged from the scalar V).
   */
  def appendMknIndex(spark: SparkSession, deltaPath: String, indexPath: String,
                     trainPath: String, idCol: String, textCol: String): Unit = {
    import org.apache.hadoop.fs.Path
    stamp.requireForAppend(spark, indexPath, trainPath, "LmIndex.writeMknIndex")
    val meta = verify(spark, trainPath, indexPath, "mkn3", textCol)
    def canon(p: String): String = Layout.qualifiedPath(spark, p)
    val deltaC = canon(deltaPath)
    require(deltaC != canon(trainPath) && !meta.parts.exists(x => canon(x._1) == deltaC),
      s"delta corpus $deltaPath is already part of the model at $indexPath — " +
        "each append must bring a NEW table (re-appending would double-count " +
        "its n-grams)")
    val (fs, _) = StampedArtifact.fsFor(spark, indexPath)
    if (!fs.exists(new Path(s"$indexPath/uni"))) throw new IllegalStateException(
      s"LM artifact at $indexPath predates the append face (no uni/ table — " +
        "the vocabulary cannot be count-merged from the scalar V); rebuild " +
        "once with LmIndex.writeMknIndex to gain appendability.")
    val (deltaFp, _) = stamp.fitWindow(spark, deltaPath, "append") { _ =>
      val dm = TextAnalysis.mknFit(TextAnalysis.mknTokedOf(
        spark.read.parquet(deltaPath), idCol, textCol))
      try {
        // the ANN appends' empty-delta rail: an append that contributes
        // zero n-grams would still bump the version and couple the stamp
        // to the (empty) delta listing — when its real files land later,
        // verify() would declare the whole artifact STALE for nothing
        require(dm.uni.limit(1).count() > 0,
          s"delta corpus $deltaPath has no non-null documents — nothing to append")
        // count-merge each order at type volume (full outer: a type seen
        // in either corpus survives with the summed count)
        def merged(base: DataFrame, delta: DataFrame, keys: Seq[String],
                   cnt: String): DataFrame =
          base.join(delta.select(keys.map(col) :+ col(cnt).as("_dn"): _*),
              keys, "full_outer")
            .select(keys.map(col) :+
              (coalesce(col(cnt), lit(0L)) + coalesce(col("_dn"), lit(0L))).as(cnt): _*)
        merged(spark.read.parquet(s"$indexPath/tri"), dm.tri,
          Seq("u", "v", "w"), "_cuvw")
          .write.mode("overwrite").parquet(s"$indexPath/tri_appending")
        merged(spark.read.parquet(s"$indexPath/big"), dm.big,
          Seq("prev", "cur"), "_cab")
          .write.mode("overwrite").parquet(s"$indexPath/big_appending")
        merged(spark.read.parquet(s"$indexPath/uni"), dm.uni,
          Seq("w"), "_cw")
          .write.mode("overwrite").parquet(s"$indexPath/uni_appending")
        // discounts + (B, V) re-derive from the MERGED counts — the same
        // expression tree the fit runs, over identical integers to a
        // refit's, so the disc doubles are bit-identical to a refit's
        val mTri = spark.read.parquet(s"$indexPath/tri_appending")
        val mCont2 = mTri.groupBy(col("v"), col("w")).agg(count(lit(1)).as("_n2vw"))
        val mBv = spark.read.parquet(s"$indexPath/big_appending")
          .agg(count(lit(1)).as("_b"))
          .crossJoin(spark.read.parquet(s"$indexPath/uni_appending")
            .agg(count(lit(1)).as("_v")))
        TextAnalysis.mknDiscRow(mTri, mCont2, mBv)
          .repartition(1).write.mode("overwrite").parquet(s"$indexPath/disc_appending")
      } finally dm.persisted.foreach(_.unpersist(blocking = false))
    }
    // the stamp drops before the first rename, so every death window
    // leaves an artifact that fails verification (data intact in named
    // dirs), never one whose old stamp certifies half-swapped tables;
    // a failed rename restores all four tables and re-stamps the
    // pre-append meta, so a transient FS failure heals by plain retry
    stamp.swapStamped(spark, indexPath, Seq("tri", "big", "uni", "disc").map(n =>
        StampedArtifact.Swap(new Path(s"$indexPath/${n}_appending"),
          new Path(s"$indexPath/$n"), new Path(s"$indexPath/${n}_preappend"))),
      previous = metaJson(meta), retry = "LmIndex.appendMknIndex",
      rebuild = "LmIndex.writeMknIndex")
    stamp.write(spark, indexPath, metaJson(meta.copy(version = meta.version + 1,
      parts = meta.parts :+ (deltaPath, deltaFp))))
  }

  /**
   * Score `df` under the PERSISTED mkn3 model — verify the stamp,
   * read the three artifacts, derive the per-context stats at type
   * volume, run the identical scoring plan. No corpus-volume work
   * touches the reference corpus. Output: (idCol, n_tokens,
   * sum_nll_micro, avg_nll_micro), row-identical to
   * modifiedKneserNeyLogProb(df, …, train = <the fitted corpus>).
   */
  def scoreMknIndexed(spark: SparkSession, df: DataFrame, idCol: String,
                      textCol: String, trainPath: String,
                      indexPath: String): DataFrame = {
    verify(spark, trainPath, indexPath, "mkn3", textCol)
    val toked = TextAnalysis.mknTokedOf(df, idCol, textCol)
    val units = TextAnalysis.mknScoreUnits(toked)
    val tri = CachedRelations.track(
      spark.read.parquet(s"$indexPath/tri").persist())
    // cont1 (derived from big) feeds the scoring fallthrough — persist
    // like the in-session twin or the big parquet re-aggregates per
    // consumer
    val big = CachedRelations.track(
      spark.read.parquet(s"$indexPath/big").persist())
    val cont2 = CachedRelations.track(
      tri.groupBy(col("v"), col("w")).agg(count(lit(1)).as("_n2vw")).persist())
    val disc = spark.read.parquet(s"$indexPath/disc")
    TextAnalysis.mknScoreRows(idCol, units, tri, big, cont2, disc)
  }
}
