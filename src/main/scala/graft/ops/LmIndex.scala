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
 * Same stamped-coherence lifecycle as the bloom side-index and
 * [[AnnIndex]] (fingerprint stamp → verified read → loud STALE →
 * rebuild heals):
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
    * them; `version` increments per append (the [[AnnIndex]]
    * lifecycle discipline: a lifecycle event is visible in the stamp,
    * never a silent restart). */
  case class LmIndexMeta(kind: String, textCol: String, tableFp: String,
                         version: Int = 0,
                         parts: Seq[(String, String)] = Nil)

  private val metaName = "_graft_lm_meta.json"

  private def fsFor(spark: SparkSession, path: String) = {
    val p = new org.apache.hadoop.fs.Path(path)
    (p.getFileSystem(spark.sparkContext.hadoopConfiguration), p)
  }

  private def writeMeta(spark: SparkSession, indexPath: String,
                        meta: LmIndexMeta): Unit = {
    val (fs, p) = fsFor(spark, indexPath)
    val partsJson = meta.parts.map { case (pth, f) =>
      s"""{"path":"${StampJson.esc(pth)}","fp":"${StampJson.esc(f)}"}"""
    }.mkString("[", ",", "]")
    val json = s"""{"kind":"${StampJson.esc(meta.kind)}",""" +
      s""""text_col":"${StampJson.esc(meta.textCol)}",""" +
      s""""table_fp":"${StampJson.esc(meta.tableFp)}",""" +
      s""""version":${meta.version},"parts":$partsJson}"""
    val out = fs.create(new org.apache.hadoop.fs.Path(p, metaName), true)
    try out.write(json.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    finally out.close()
  }

  /** Raw stamp text; None if the stamp FILE is absent (distinct from
    * present-but-unparseable, which [[verify]] reports separately). */
  private def stampText(spark: SparkSession, indexPath: String): Option[String] = {
    val (fs, p) = fsFor(spark, indexPath)
    val mp = new org.apache.hadoop.fs.Path(p, metaName)
    if (!fs.exists(mp)) return None
    val in = fs.open(mp)
    Some(try scala.io.Source.fromInputStream(in, "UTF-8").mkString
      finally in.close())
  }

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
    stampText(spark, indexPath).flatMap(parseMeta)

  /** Verify the artifact is coherent with the live train table BEFORE
    * any scoring plan reads it: loud failure on a missing stamp, an
    * unparseable stamp, a different kind/textCol, or a STALE
    * fingerprint (the reference corpus changed since the fit — the
    * model describes counts that no longer exist). One metadata-scale
    * listing; no data read. */
  def verify(spark: SparkSession, trainPath: String, indexPath: String,
             kind: String, textCol: String): LmIndexMeta = {
    val text = stampText(spark, indexPath).getOrElse(throw new IllegalStateException(
      s"LM artifact at $indexPath has no $metaName coherence stamp — rebuild it " +
        s"with LmIndex.writeMknIndex($trainPath, $indexPath, ...)"))
    val meta = parseMeta(text).getOrElse(throw new IllegalStateException(
      s"LM artifact at $indexPath has a $metaName stamp that does not parse " +
        s"(truncated write or a foreign writer) — rebuild it with " +
        s"LmIndex.writeMknIndex($trainPath, $indexPath, ...)"))
    if (meta.kind != kind || meta.textCol != textCol) throw new IllegalStateException(
      s"LM artifact at $indexPath is (kind '${meta.kind}', textCol '${meta.textCol}'), " +
        s"not (kind '$kind', textCol '$textCol') — wrong model for this scorer")
    val live = Layout.tableFingerprint(spark, trainPath)
    if (live != meta.tableFp) throw new IllegalStateException(
      s"LM artifact at $indexPath is STALE: the data files of $trainPath changed " +
        s"since the model was fitted (listing fingerprint ${meta.tableFp.take(12)}… " +
        s"at fit vs ${live.take(12)}… now). The persisted n-gram counts describe a " +
        "corpus that no longer exists — rebuild with LmIndex.writeMknIndex.")
    // every appended delta corpus must ALSO still be the files it was
    // when appended — the model's counts cover base ∪ parts
    meta.parts.foreach { case (partPath, partFp) =>
      val pLive = Layout.tableFingerprint(spark, partPath)
      if (pLive != partFp) throw new IllegalStateException(
        s"LM artifact at $indexPath is STALE: appended delta corpus $partPath " +
          s"changed since it was appended (listing fingerprint ${partFp.take(12)}… " +
          s"at append vs ${pLive.take(12)}… now) — rebuild with " +
          "LmIndex.writeMknIndex, or re-append from a fresh delta.")
    }
    meta
  }

  private def dropStamp(spark: SparkSession, indexPath: String): Unit = {
    val (fs, p) = fsFor(spark, indexPath)
    val mp = new org.apache.hadoop.fs.Path(p, metaName)
    if (fs.exists(mp) && !fs.delete(mp, false)) throw new java.io.IOException(
      s"could not remove the existing LM artifact stamp $mp before rebuild")
  }

  /**
   * Fit the mkn3 model on the table at `trainPath` and persist it as
   * a stamped artifact: `tri` (trigram type counts), `big` (bigram
   * type counts), `disc` (the one-row discount/(B,V) table). The fit
   * is the SAME corpus-volume plan the in-session operator runs.
   */
  def writeMknIndex(spark: SparkSession, trainPath: String, indexPath: String,
                    idCol: String, textCol: String): Unit = {
    dropStamp(spark, indexPath)
    // fingerprint BEFORE the fit reads a byte: stamping a listing taken
    // AFTER the fit actions would certify the artifact against files
    // the fit never saw if the table changed mid-build (r13 advisory) —
    // the re-check before the stamp closes the other half of that race
    val fpAtStart = Layout.tableFingerprint(spark, trainPath)
    val train = spark.read.parquet(trainPath)
    val toks = TextAnalysis.mknTokedOf(train, idCol, textCol)
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
    val fpAtEnd = Layout.tableFingerprint(spark, trainPath)
    if (fpAtEnd != fpAtStart) throw new IllegalStateException(
      s"train table $trainPath changed WHILE the LM fit was running (listing " +
        s"fingerprint ${fpAtStart.take(12)}… at start vs ${fpAtEnd.take(12)}… " +
        "now) — the persisted counts describe a corpus that no longer exists, " +
        "so no stamp was written; re-run LmIndex.writeMknIndex on a quiet table.")
    writeMeta(spark, indexPath, LmIndexMeta("mkn3", textCol, fpAtStart))
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
   * Lifecycle rails (the [[AnnIndex]] append discipline): no silent
   * v0 restart (appending to an unstamped path refuses with a build
   * hint), one append per delta (FS-qualified path compare), stamp
   * dropped FIRST and re-written LAST around the table swap, delta
   * fingerprint window, every part re-verified by [[verify]] before
   * any later scoring plan. The merged tables stage beside the live
   * ones and swap via move-aside renames — any death window leaves a
   * loudly-unverifiable artifact whose data is intact in named
   * directories and heals by rebuild. An r14-era artifact without the
   * `uni/` table refuses with a rebuild hint (the vocabulary cannot
   * be count-merged from the scalar V).
   */
  def appendMknIndex(spark: SparkSession, deltaPath: String, indexPath: String,
                     trainPath: String, idCol: String, textCol: String): Unit = {
    import org.apache.hadoop.fs.Path
    val (fs, _) = fsFor(spark, indexPath)
    if (stampText(spark, indexPath).isEmpty) throw new IllegalStateException(
      s"LM artifact at $indexPath has no $metaName coherence stamp — an append " +
        "needs an existing verified model (no silent v0 restart); build one " +
        s"first with LmIndex.writeMknIndex($trainPath, $indexPath, ...)")
    val meta = verify(spark, trainPath, indexPath, "mkn3", textCol)
    def canon(p: String): String = Layout.qualifiedPath(spark, p)
    val deltaC = canon(deltaPath)
    require(deltaC != canon(trainPath) && !meta.parts.exists(x => canon(x._1) == deltaC),
      s"delta corpus $deltaPath is already part of the model at $indexPath — " +
        "each append must bring a NEW table (re-appending would double-count " +
        "its n-grams)")
    if (!fs.exists(new Path(s"$indexPath/uni"))) throw new IllegalStateException(
      s"LM artifact at $indexPath predates the append face (no uni/ table — " +
        "the vocabulary cannot be count-merged from the scalar V); rebuild " +
        "once with LmIndex.writeMknIndex to gain appendability.")
    val deltaFpAtStart = Layout.tableFingerprint(spark, deltaPath)
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
    val deltaFpAtEnd = Layout.tableFingerprint(spark, deltaPath)
    if (deltaFpAtEnd != deltaFpAtStart) throw new IllegalStateException(
      s"delta corpus $deltaPath changed WHILE the append was running — nothing " +
        "was swapped; the live model is untouched and still verified; re-run " +
        "LmIndex.appendMknIndex from a quiet delta.")
    // stamp drops FIRST: every death window below leaves an artifact
    // that fails verification (data intact in named dirs), never one
    // whose old stamp certifies half-swapped tables
    dropStamp(spark, indexPath)
    // TWO-PASS swap (the compactCodesSwap discipline): pass 1 renames
    // every table in while KEEPING each _preappend backup, so a rename
    // failure at table N can restore tables 0..N-1 from their intact
    // backups and re-stamp the ORIGINAL meta — a transient FS failure
    // heals by plain retry instead of forcing a full rebuild (r15
    // advisory: the old per-table delete-then-swap loop had already
    // destroyed earlier backups by the time a later rename failed).
    // Backups are deleted only in pass 2, after ALL four renames landed.
    val tables = Seq("tri", "big", "uni", "disc")
    def live(n: String) = new Path(s"$indexPath/$n")
    def prev(n: String) = new Path(s"$indexPath/${n}_preappend")
    def staged(n: String) = new Path(s"$indexPath/${n}_appending")
    tables.foreach(n => fs.delete(prev(n), true))
    val swapped = scala.collection.mutable.ArrayBuffer.empty[String]
    tables.foreach { n =>
      if (!fs.rename(live(n), prev(n)) || !fs.rename(staged(n), live(n))) {
        // restore everything swapped so far (and this table's own
        // half-state) from the still-present backups, then re-stamp
        // the pre-append meta so the caller can simply retry
        val restoredThis = !fs.exists(live(n)) && fs.rename(prev(n), live(n))
        val restoredRest = swapped.reverse.forall { m =>
          fs.delete(live(m), true); fs.rename(prev(m), live(m))
        }
        if ((restoredThis || fs.exists(live(n))) && restoredRest) {
          writeMeta(spark, indexPath, meta) // restored — re-certify for retry
          throw new java.io.IOException(
            s"append could not swap ${staged(n)} into place — all tables " +
              s"restored to their pre-append state and the artifact was " +
              s"re-stamped; re-run LmIndex.appendMknIndex (the merge " +
              s"recomputes; leftover <t>_appending/ staging is overwritten).")
        }
        throw new java.io.IOException(
          s"append could not swap ${staged(n)} into place AND could not " +
            s"restore the pre-append originals — artifact UNSTAMPED; " +
            s"already-swapped tables [${swapped.mkString(", ")}] hold merged " +
            s"data with originals in <t>_preappend/, remaining tables are " +
            s"pre-append with merges staged in <t>_appending/; restore one " +
            s"consistent set manually, or rebuild with LmIndex.writeMknIndex.")
      }
      swapped += n
    }
    tables.foreach(n => fs.delete(prev(n), true))
    writeMeta(spark, indexPath, meta.copy(version = meta.version + 1,
      parts = meta.parts :+ (deltaPath, deltaFpAtStart)))
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
