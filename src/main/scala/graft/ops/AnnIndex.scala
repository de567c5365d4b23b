package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/**
 * Persisted ANN indexes — the "fit once, probe for weeks" production
 * lifecycle the in-session [[Similarity]] paths lack. Every
 * `Similarity.ivf*`/`binaryTopK` call re-fits its quantizer from the
 * corpus; at 100 TB the fit (a corpus scan + a k-means job) costs
 * hours while a probe batch costs seconds, so the index must be a
 * durable artifact: built once, stamped against the exact data files
 * it indexed, verified coherent before every probe, rebuilt loudly
 * when the table changes. This is the [[StampedArtifact]] protocol
 * (fingerprint stamp → verified read → loud STALE → rebuild heals)
 * applied to the ANN family.
 *
 * Index layout under `indexPath`:
 *  - the `ann` stamp ([[StampedArtifact]]) — kind + fit params + the
 *    table's file-listing fingerprint ([[Layout.tableFingerprint]]).
 *    Written LAST (and deleted FIRST on rebuild), so a half-written
 *    index never carries a valid stamp.
 *  - `centroids/` (ivf, pq) — (ci, cv): the coarse-quantizer cells,
 *    nlist rows. Probes collect these (bounded) and inline them as
 *    plan literals, exactly like the in-session fit.
 *  - `codebooks/` (pq) — (j, c, cv): the m×ksub product-quantization
 *    codebooks.
 *  - `codes/` — the per-row index payload, PARTITIONED BY CELL for
 *    ivf/pq so a probe's `nprobe`-cell join prunes whole directories
 *    at scan time (Spark's dynamic partition pruning on the cell
 *    join; at 100 TB a 16-of-256-cell probe reads 1/16 of the index).
 *    ivf stores (id, v, nrm, cell) — the faiss IVFFlat layout, full
 *    vectors grouped by cell, so probing touches NOTHING but the
 *    index. pq stores (id, codes, rn, cell) — m small ints per row;
 *    the exact re-rank fetches float vectors from the stamped table
 *    for the survivor set only. binary stores (id, bits) — sign-
 *    packed words, 32× smaller than the vectors; unpartitioned
 *    because a Hamming coarse pass scans all codes by design.
 *
 * Determinism/equivalence contract: the write-time fit is the SAME
 * seeded fit the in-session operators run ([[Similarity.ivfFit]],
 * [[Similarity.lloyd]], [[Similarity.signPack]]), centroids/codebooks
 * round-trip through parquet doubles bit-exactly, and assignments/
 * codes are persisted rather than recomputed — so a loaded-index
 * probe returns EXACTLY the rows of its in-session twin
 * (equivalence-oracled by q_llm_ann_persist_check /
 * q_llm_ann_pq_persist_check / q_llm_ann_bin_persist_check, and
 * recall-gated as the `ivf_loaded` RecallCheck path).
 */
object AnnIndex {

  /** The self-describing coherence stamp beside an ANN index: enough
    * to VERIFY against the live table and to know the fit geometry
    * without external parameters. `parts` records every APPENDED delta
    * table as (path, fingerprint-at-append) — the index covers
    * base ∪ parts, and [[verify]] checks all of them; `version`
    * increments per append/compact (the near-dup state-chain
    * discipline: a lifecycle event is visible in the stamp, never a
    * silent restart). */
  case class AnnIndexMeta(kind: String, idCol: String, vecCol: String,
                          dims: Int, nlist: Int, m: Int, ksub: Int,
                          tableFp: String,
                          version: Int = 0,
                          parts: Seq[(String, String)] = Nil,
                          planes: Int = 0, tables: Int = 0,
                          fit: Int = 1)

  /** Coarse-quantizer fit revision stamped into ivf/pq indexes. r16
    * moved [[Similarity.ivfFit]] from the MLlib KMeans to the bounded-
    * sample in-memory Lloyd fit: same algorithm family, DIFFERENT
    * centroids — an index built by the old fit would no longer be
    * row-equal to its in-session twin, so [[verify]] refuses it
    * (exactly like a stale table fingerprint) and the ensure-faces
    * rebuild once. binary/lsh fits are untouched (fit = 1). */
  private[ops] val quantizerFitVersion = 2

  private val stamp = StampedArtifact.ann

  private def writeMeta(spark: SparkSession, indexPath: String,
                        meta: AnnIndexMeta): Unit =
    stamp.write(spark, indexPath, metaJson(meta))

  private def metaJson(meta: AnnIndexMeta): String = StampJson.obj(
    "kind" -> meta.kind, "id_col" -> meta.idCol, "vec_col" -> meta.vecCol,
    "dims" -> meta.dims, "nlist" -> meta.nlist, "m" -> meta.m, "ksub" -> meta.ksub,
    "planes" -> meta.planes, "tables" -> meta.tables, "table_fp" -> meta.tableFp,
    "fit" -> meta.fit, "version" -> meta.version, "parts" -> meta.parts)

  private def parseMeta(text: String): Option[AnnIndexMeta] = for {
    kind <- StampJson.strField(text, "kind")
    id <- StampJson.strField(text, "id_col")
    vc <- StampJson.strField(text, "vec_col")
    d <- StampJson.intField(text, "dims")
    nl <- StampJson.intField(text, "nlist")
    mm <- StampJson.intField(text, "m")
    ks <- StampJson.intField(text, "ksub")
    fp <- StampJson.strField(text, "table_fp")
  } yield AnnIndexMeta(kind, id, vc, d, nl, mm, ks, fp,
    version = StampJson.intField(text, "version").getOrElse(0),
    parts = StampJson.pathFpList(text, "parts"),
    planes = StampJson.intField(text, "planes").getOrElse(0),
    tables = StampJson.intField(text, "tables").getOrElse(0),
    fit = StampJson.intField(text, "fit").getOrElse(1))

  /** Read an index's coherence stamp; None if absent (not produced by
    * a writer here, or a write that died before the stamp) or
    * unparseable. */
  def readMeta(spark: SparkSession, indexPath: String): Option[AnnIndexMeta] =
    stamp.read(spark, indexPath).flatMap(parseMeta)

  private def builder(kind: String) = s"AnnIndex.write${kind.capitalize}Index"

  /**
   * Verify the index at `indexPath` is coherent with the live table
   * BEFORE any probe is planned through it. Throws
   * IllegalStateException with a precise reason when the index (a)
   * has no stamp, (b) is a different kind or coarse-quantizer fit
   * revision than the probe asks for, or (c) is STALE — the table's
   * (or an appended part's) data files changed since the build, so
   * persisted cell assignments and codes describe rows that moved,
   * vanished, or never got indexed. One metadata-scale listing per
   * table; no data read.
   */
  def verify(spark: SparkSession, tablePath: String, indexPath: String,
             kind: String): AnnIndexMeta = {
    val meta = stamp.load(spark, indexPath, tablePath, builder(kind))(parseMeta)
    if (meta.kind != kind) throw new IllegalStateException(
      s"ANN index at $indexPath is kind '${meta.kind}', not '$kind' — wrong index " +
        "for this probe")
    // quantizer fit revision: a loaded ivf/pq probe must be row-equal
    // to its in-session twin, which holds only when the index was
    // built by the CURRENT coarse-quantizer fit (binary/lsh fits have
    // never changed — their expected revision stays 1)
    val expectFit = if (kind == "ivf" || kind == "pq") quantizerFitVersion else 1
    if (meta.fit != expectFit) throw new IllegalStateException(
      s"ANN index at $indexPath was built by coarse-quantizer fit " +
        s"v${meta.fit}; this engine probes fit v$expectFit — cell assignments " +
        s"no longer match the in-session quantizer. Rebuild with " +
        s"${builder(kind)}($tablePath, $indexPath, ...).")
    stamp.checkFresh(spark, indexPath, tablePath, meta.tableFp, meta.parts, builder(kind))
    meta
  }

  private def prepped(table: DataFrame, idCol: String, vecCol: String): DataFrame = {
    table.filter(col(vecCol).isNotNull)
      .select(col(idCol).as("id"), col(vecCol).cast("array<double>").as("v"))
  }

  private def writeCentroids(spark: SparkSession, indexPath: String,
                             cents: Array[Array[Double]]): Unit = {
    import spark.implicits._
    cents.zipWithIndex.map { case (c, i) => (i, c.toSeq) }.toSeq
      .toDF("ci", "cv").repartition(1)
      .write.mode("overwrite").parquet(s"$indexPath/centroids")
  }

  private[graft] def loadCentroids(spark: SparkSession, indexPath: String): Array[Array[Double]] =
    spark.read.parquet(s"$indexPath/centroids")
      .orderBy("ci").collect()
      .map(_.getSeq[Double](1).toArray)

  /**
   * Build and stamp an IVF-FLAT index for the table at `tablePath`:
   * the seeded [[Similarity.ivfFit]] coarse quantizer, full vectors +
   * norms persisted partitioned by cell. `table` is the caller's
   * already-adapted view of exactly the files at `tablePath` (the
   * schema-adapter layer may normalize types; fitting on the adapted
   * frame keeps the loaded probe bit-equal to its in-session twin).
   */
  def writeIvfIndex(spark: SparkSession, table: DataFrame, tablePath: String,
                    indexPath: String, idCol: String, vecCol: String,
                    dims: Int, nlist: Int = 16,
                    maxFitVectors: Long = 100000L): Unit = {
    stamp.drop(spark, indexPath)
    val (fp, _) = stamp.fitWindow(spark, tablePath, "build") { _ =>
      val v = prepped(table, idCol, vecCol)
      val (assigned, cents) = Similarity.ivfFit(v, dims, nlist, maxFitVectors)
      assigned.select(col("id"), col("v"), Similarity.norm(col("v")).as("nrm"), col("cell"))
        .write.mode("overwrite").partitionBy("cell").parquet(s"$indexPath/codes")
      writeCentroids(spark, indexPath, cents)
    }
    writeMeta(spark, indexPath, AnnIndexMeta("ivf", idCol, vecCol, dims, nlist,
      m = 0, ksub = 0, tableFp = fp, fit = quantizerFitVersion))
  }

  /**
   * Probe a stamped IVF-FLAT index: verify coherence, inline the
   * persisted centroids as literals, rank each query's `nprobe`
   * nearest cells ([[Similarity.probeCells]] — the identical
   * Euclidean probe metric), join candidates within cells, exact
   * cosine re-rank. NOTHING is fit and the corpus table is never
   * read — the cell join touches only the index, and because `codes/`
   * is partitioned by cell, partition pruning keeps the scan at
   * nprobe/nlist of the index volume.
   *
   * With `excludeSelf = false` this is row-exact [[Similarity.ivfLookup]]
   * against the full table; with `excludeSelf = true` and
   * queries == table it is row-exact [[Similarity.ivfTopK]].
   */
  def ivfLookupIndexed(spark: SparkSession, queries: DataFrame,
                       tablePath: String, indexPath: String,
                       k: Int, nprobe: Int = 2,
                       excludeSelf: Boolean = false): DataFrame = {
    val meta = verify(spark, tablePath, indexPath, "ivf")
    val cents = loadCentroids(spark, indexPath)
    val index = spark.read.parquet(s"$indexPath/codes")
      .select(col("id").as("nid"), col("v").as("nv"), col("nrm").as("nn"), col("cell"))
    val q = Similarity.probeCells(
      queries.filter(col(meta.vecCol).isNotNull)
        .select(col(meta.idCol).as("qid"),
          col(meta.vecCol).cast("array<double>").as("qv"))
        .withColumn("qn", Similarity.norm(col("qv"))),
      cents, nprobe)
    val joined = q.join(index, "cell")
    val scored = (if (excludeSelf) joined.filter(col("qid") =!= col("nid")) else joined)
      .select(col("qid"), col("nid"),
        (Similarity.dot(col("qv"), col("nv")) / (col("qn") * col("nn"))).as("cos"))
    val w = Window.partitionBy(col("qid")).orderBy(col("cos").desc, col("nid"))
    scored.withColumn("rank", row_number().over(w)).filter(col("rank") <= k)
  }

  /**
   * APPEND a delta table to a stamped IVF-FLAT index — the lifecycle a
   * 100 TB corpus actually has (it appends; it does not hold still for
   * a rebuild): new vectors are assigned to the EXISTING cells with
   * the identical Euclidean probe metric the quantizer used, their
   * codes land as new files under the same cell partitions, and the
   * stamp gains a (deltaPath, fingerprint) part — [[verify]] then
   * checks base AND every part, so a probe through an appended index
   * is as coherence-guarded as through a fresh build. Mirrors the
   * near-dup state chain: versioned deltas, stamp discipline
   * (dropped FIRST, written LAST — a death mid-append leaves a
   * stampless index that fails verification loudly and heals by
   * rebuild), and NO silent v0 restart — appending to an unstamped
   * path refuses with a build hint instead of quietly creating a
   * fresh index.
   *
   * Re-fit only on DRIFT: the coarse quantizer stays frozen (that is
   * what makes append cheap), which is sound while the delta looks
   * like the data the cells were fitted on. The guard is measured,
   * not assumed: the delta's mean squared distance to its nearest
   * centroid is compared against the same statistic over a bounded
   * deterministic sample of the EXISTING codes, and a delta more than
   * `driftFactor`× worse refuses loudly with a rebuild hint — frozen
   * cells over drifted data is the fixed-nlist config error measured
   * at 19.8× in SCALE_PROBE (BASELINE.md recipe).
   *
   * Equivalence contract: at nprobe = nlist a probe scans every cell,
   * so cell assignment cannot affect results — an appended index
   * returns EXACTLY the rows of a full rebuild (q_llm_ann_append_check
   * pins this against the DuckDB-oracled row count).
   */
  def appendIvfIndex(spark: SparkSession, delta: DataFrame, deltaPath: String,
                     indexPath: String, tablePath: String,
                     driftFactor: Double = 4.0,
                     maxDriftSample: Long = 20000L): Unit = {
    appended(spark, indexPath, tablePath, deltaPath, "ivf") { meta =>
      val cents = loadCentroids(spark, indexPath)
      val centDf = spark.createDataFrame(
        cents.zipWithIndex.map { case (c, i) =>
          (i, c.toSeq, c.map(x => x * x).sum) }.toSeq)
        .toDF("cell", "cv", "cn2")
      val v = delta.filter(col(meta.vecCol).isNotNull)
        .select(col(meta.idCol).as("id"),
          col(meta.vecCol).cast("array<double>").as("v"))
      // nearest existing cell through the ONE shared metric
      // ([[Similarity.cellRank]] — the same ranking every probe uses):
      // entirely row-local, so duplicate delta ids each keep their own
      // row (writeIvfIndex indexes every row, and the appended==rebuilt
      // equivalence needs append to do the same — a per-id window here
      // silently collapsed them, r14 review finding). The true squared
      // distance |v|² + cdist feeds the drift statistic.
      val best = element_at(Similarity.cellRank(col("v"), cents), 1)
      val assigned = v
        .select(col("id"), col("v"), best.getField("ci").as("cell"),
          (Similarity.dot(col("v"), col("v")) + best.getField("cdist")).as("_sqdist"))
        .persist()
      try {
        val deltaStats = assigned.agg(count(lit(1)).as("n"),
          avg(col("_sqdist")).as("d")).collect().head
        require(deltaStats.getLong(0) > 0,
          s"delta table $deltaPath has no non-null vectors — nothing to append")
        // baseline: distance of the stored codes to their OWN cell (the
        // definition of quantization distortion — |v-c|² expanded, same
        // algebra as cellRank's metric)
        val codes = spark.read.parquet(s"$indexPath/codes")
        driftCheck(deltaPath, deltaStats.getDouble(1), driftFactor,
          baseline = codes.join(centDf, "cell"),
          distCol = Similarity.dot(col("v"), col("v")) + col("cn2") -
            lit(2.0) * Similarity.dot(col("v"), col("cv")),
          dims = meta.dims, maxDriftSample = maxDriftSample,
          noRowsMsg = s"ANN index at $indexPath has no code rows — rebuild with " +
            "AnnIndex.writeIvfIndex before appending",
          rebuildHint = "rebuild with AnnIndex.writeIvfIndex (scaled nlist)")
        // stamp drops FIRST: a death between here and the new stamp
        // leaves an index that fails verification, never one whose old
        // stamp certifies half-appended codes
        stamp.drop(spark, indexPath)
        assigned.select(col("id"), col("v"),
            Similarity.norm(col("v")).as("nrm"), col("cell"))
          .write.mode("append").partitionBy("cell").parquet(s"$indexPath/codes")
      } finally assigned.unpersist(blocking = false)
    }
  }

  /** Shared drift refusal for the append family: the delta's mean
    * squared quantization distortion against the same statistic over a
    * bounded deterministic sample of `baseline` (rows must carry `id`;
    * `distCol` evaluates the distortion on them). The hash-mod sample
    * can come up EMPTY when plan statistics overestimate the row count
    * (tiny relation, fixed overhead ≫ 8·dims/row) — avg over zero rows
    * is a null aggregate, so it falls back to the full baseline rather
    * than NPE (r14 review). */
  private def driftCheck(deltaPath: String, deltaDist: Double,
                         driftFactor: Double, baseline: DataFrame,
                         distCol: Column, dims: Int, maxDriftSample: Long,
                         noRowsMsg: String, rebuildHint: String): Unit = {
    val estBytes = baseline.queryExecution.optimizedPlan.stats.sizeInBytes
    val estRows = (estBytes / BigInt(math.max(8L * dims, 64L))).toLong.max(1L)
    val sample = if (estRows <= maxDriftSample) baseline
      else baseline.filter(pmod(xxhash64(col("id")), lit(estRows / maxDriftSample + 1)) === 0)
    def distOver(df: DataFrame): Option[Double] = {
      val r = df.agg(avg(distCol)).collect().head
      if (r.isNullAt(0)) None else Some(r.getDouble(0))
    }
    val baseDist = distOver(sample).orElse(distOver(baseline))
      .getOrElse(throw new IllegalStateException(noRowsMsg))
    if (deltaDist > driftFactor * math.max(baseDist, 1e-12))
      throw new IllegalStateException(
        f"DRIFT: delta table $deltaPath sits $deltaDist%.4g mean-squared from " +
          f"the frozen cells vs $baseDist%.4g for the fitted corpus " +
          f"(> ${driftFactor}%.1f×) — the quantizer no longer describes the " +
          s"data; $rebuildHint instead of appending.")
  }

  /** The append lifecycle shared by the four kinds: an append needs an
    * EXISTING verified index of the right kind (no silent v0 restart),
    * and each delta may be appended once — paths compare FS-QUALIFIED
    * (trailing slashes, `file:` prefixes, relative forms all
    * normalize), so an alias of the base table or of an
    * already-appended delta cannot slip duplicate codes past the guard
    * into an index that still verifies. `body` runs inside the delta's
    * fingerprint window and drops the stamp before its first code
    * lands, so every death window leaves a loudly-unverifiable index
    * that a rebuild heals; the new part is stamped last. */
  private def appended(spark: SparkSession, indexPath: String,
                       tablePath: String, deltaPath: String, kind: String)
                      (body: AnnIndexMeta => Unit): Unit = {
    stamp.requireForAppend(spark, indexPath, tablePath, builder(kind))
    val meta = verify(spark, tablePath, indexPath, kind)
    def canon(p: String): String = Layout.qualifiedPath(spark, p)
    val deltaC = canon(deltaPath)
    require(deltaC != canon(tablePath) && !meta.parts.exists(x => canon(x._1) == deltaC),
      s"delta table $deltaPath is already part of the index at $indexPath — " +
        "each append must bring a NEW table (re-appending would duplicate codes)")
    val (deltaFp, _) = stamp.fitWindow(spark, deltaPath, "append")(_ => body(meta))
    writeMeta(spark, indexPath, meta.copy(version = meta.version + 1,
      parts = meta.parts :+ (deltaPath, deltaFp)))
  }

  /**
   * Compact a stamped IVF-FLAT index's codes: appends accumulate one
   * file set per delta under each cell partition, and at 100 TB the
   * probe-side scan cost is file-count-shaped — so, like the near-dup
   * state chain's compaction, the lifecycle periodically rewrites the
   * codes into one file per cell (a hash exchange on the cell id) with
   * rows, stamp parts, and probe results unchanged. The rewrite stages
   * beside the live codes and lands through
   * [[StampedArtifact.swapStamped]]: the data is never in only a
   * half-written state, and any death window leaves a
   * loudly-unverifiable index whose data is intact in a named
   * directory.
   */
  def compactIvfIndex(spark: SparkSession, indexPath: String,
                      tablePath: String): Unit = {
    compacted(spark, indexPath, tablePath, "ivf")(cellStaging(spark, indexPath))
  }

  /**
   * Compact a stamped IVF-PQ index's codes — [[compactIvfIndex]] for
   * the pq kind: appended delta files under each cell partition
   * rewrite to one file per cell; rows, centroids, codebooks, stamp
   * parts, and probe results are unchanged. Same swap discipline.
   */
  def compactPqIndex(spark: SparkSession, indexPath: String,
                     tablePath: String): Unit = {
    compacted(spark, indexPath, tablePath, "pq")(cellStaging(spark, indexPath))
  }

  /**
   * Compact a stamped binary index's codes: the store is unpartitioned
   * (a Hamming coarse pass scans all codes by design), so compaction
   * coalesces the per-append file accumulation to a file count sized
   * by the codes' actual bytes (~128 MB per file, minimum one) — no
   * shuffle, just a read-coalesce-write. Same swap discipline and
   * stamp rails as [[compactIvfIndex]].
   */
  def compactBinaryIndex(spark: SparkSession, indexPath: String,
                         tablePath: String): Unit = {
    compacted(spark, indexPath, tablePath, "binary")(coalescedStaging(spark, indexPath))
  }

  /**
   * Compact a stamped LSH index's codes — same unpartitioned
   * coalesce shape as [[compactBinaryIndex]] (the bucket join reads
   * every code row; only the file count is lifecycle-shaped).
   */
  def compactLshIndex(spark: SparkSession, indexPath: String,
                      tablePath: String): Unit = {
    compacted(spark, indexPath, tablePath, "lsh")(coalescedStaging(spark, indexPath))
  }

  /** Staging rewrite for the CELL-partitioned kinds (ivf, pq): one
    * hash exchange on the cell id → one file per cell partition. */
  private def cellStaging(spark: SparkSession, indexPath: String)
                         (staging: String): Unit =
    spark.read.parquet(s"$indexPath/codes")
      .repartition(col("cell"))
      .write.mode("overwrite").partitionBy("cell").parquet(staging)

  /** Staging rewrite for the UNPARTITIONED kinds (binary, lsh): a
    * bytes-sized coalesce (~128 MB per file, minimum one) — no
    * shuffle, just a read-coalesce-write. */
  private def coalescedStaging(spark: SparkSession, indexPath: String)
                              (staging: String): Unit = {
    val codes = spark.read.parquet(s"$indexPath/codes")
    val estBytes = codes.queryExecution.optimizedPlan.stats.sizeInBytes
    val nFiles = (estBytes / BigInt(128L << 20)).toLong.toInt.max(1)
    codes.coalesce(nFiles).write.mode("overwrite").parquet(staging)
  }

  /** The shared compaction: verify, stage the rewritten codes in
    * `codes_compacting`, then [[StampedArtifact.swapStamped]] them in
    * with `codes_precompact` as the backup — a failed rename restores
    * and re-stamps the original codes, so a plain retry heals. Stamps
    * version+1 on success. */
  private def compacted(spark: SparkSession, indexPath: String, tablePath: String,
                        kind: String)(writeStaging: String => Unit): Unit = {
    import org.apache.hadoop.fs.Path
    val meta = verify(spark, tablePath, indexPath, kind)
    val staging = new Path(s"$indexPath/codes_compacting")
    writeStaging(staging.toString)
    stamp.swapStamped(spark, indexPath,
      Seq(StampedArtifact.Swap(staging, new Path(s"$indexPath/codes"),
        new Path(s"$indexPath/codes_precompact"))),
      previous = metaJson(meta), retry = s"AnnIndex.compact${kind.capitalize}Index",
      rebuild = builder(kind))
    writeMeta(spark, indexPath, meta.copy(version = meta.version + 1))
  }

  /**
   * Build and stamp an IVF-PQ index: the seeded coarse quantizer plus
   * m×ksub subspace codebooks ([[Similarity.lloyd]] on the same
   * bounded deterministic sample policy), PQ codes + reconstructed
   * norms persisted partitioned by cell — m small ints per row
   * instead of the vectors, the memory-bound layout PQ exists for.
   */
  def writePqIndex(spark: SparkSession, table: DataFrame, tablePath: String,
                   indexPath: String, idCol: String, vecCol: String,
                   dims: Int, nlist: Int = 16, m: Int = 16, ksub: Int = 32,
                   maxFitVectors: Long = 100000L): Unit = {
    require(dims % m == 0, s"dims ($dims) must divide evenly into m ($m) subspaces")
    stamp.drop(spark, indexPath)
    val (fp, _) = stamp.fitWindow(spark, tablePath, "build") { _ =>
      val sd = dims / m
      val v = prepped(table, idCol, vecCol)
      val (assigned, cents, fitSample) =
        Similarity.ivfFitSampled(v, dims, nlist, maxFitVectors)
      // the identical bounded sample + in-memory Lloyd fits of ivfPqTopK;
      // r16: reuse ivfFit's one collect when the caps coincide (every
      // nlist ≤ 500 — identical hash-mod filter, identical sample)
      val sampleCap = math.min(maxFitVectors, 20000L)
      val ivfCap = math.min(maxFitVectors, math.max(20000L, 40L * nlist))
      val sample: Array[Array[Double]] =
        if (sampleCap == ivfCap) fitSample
        else {
          val estBytes = v.queryExecution.optimizedPlan.stats.sizeInBytes
          val estRows = (estBytes / BigInt(math.max(8L * dims, 64L))).toLong.max(1L)
          val sampleDf = if (estRows <= sampleCap) v
            else v.filter(pmod(xxhash64(col("id")), lit(estRows / sampleCap + 1)) === 0)
          sampleDf.select(col("v")).collect().map(_.getSeq[Double](0).toArray)
        }
      require(sample.nonEmpty, "writePqIndex needs at least one non-null vector")
      val books: Array[Array[Array[Double]]] = (0 until m).toArray.map { j =>
        val pts = sample.map(x => java.util.Arrays.copyOfRange(x, j * sd, (j + 1) * sd))
        Similarity.lloyd(pts, ksub, iters = 5, seed = 42L + j)
      }
      val booksFlat: Array[Double] = books.flatMap(_.flatten)
      val cn2Flat: Array[Double] = books.flatMap(_.map(_.map(x => x * x).sum))
      graft.functions.Registry.ensure(spark)
      val booksLit = lit(booksFlat)
      val cn2Lit = lit(cn2Flat)
      assigned
        .withColumn("codes",
          call_function("pq_encode", col("v"), booksLit, lit(m), lit(ksub)))
        .withColumn("rn",
          sqrt(call_function("pq_cn2", col("codes"), cn2Lit, lit(ksub))))
        .filter(col("rn") > 0)
        .select(col("id"), col("codes"), col("rn"), col("cell"))
        .write.mode("overwrite").partitionBy("cell").parquet(s"$indexPath/codes")
      writeCentroids(spark, indexPath, cents)
      import spark.implicits._
      books.zipWithIndex.flatMap { case (book, j) =>
        book.zipWithIndex.map { case (c, ci) => (j, ci, c.toSeq) }
      }.toSeq.toDF("j", "c", "cv").repartition(1)
        .write.mode("overwrite").parquet(s"$indexPath/codebooks")
    }
    writeMeta(spark, indexPath, AnnIndexMeta("pq", idCol, vecCol, dims, nlist,
      m, ksub, tableFp = fp, fit = quantizerFitVersion))
  }

  /**
   * Self-join top-k through a stamped IVF-PQ index: verify coherence,
   * inline persisted centroids + codebooks as literals, ADC-score the
   * cell-pruned candidates from their persisted codes, exact-cosine
   * re-rank the survivors against float vectors fetched from `table`
   * (the caller's adapted view of the STAMPED files — survivors only;
   * the vectors never ride the candidate exchange). Row-exact twin of
   * [[Similarity.ivfPqTopK]] at the index's fit geometry.
   *
   * `rerankFrac` is the corpus-scaled rerank operating point (see the
   * in-session twin's scaladoc): the effective rerank set per query is
   * max(rerankFactor·k, ceil(frac · cell-pruned candidate count)), so
   * recall does not dilute as the indexed corpus grows at a fixed
   * absolute rerank.
   */
  def pqTopKIndexed(spark: SparkSession, table: DataFrame,
                    tablePath: String, indexPath: String,
                    k: Int, nprobe: Int = 8,
                    rerankFactor: Int = 24,
                    rerankFrac: Double = 0.0): DataFrame = {
    require(rerankFrac >= 0.0 && rerankFrac <= 1.0, "rerankFrac must be in [0, 1]")
    val meta = verify(spark, tablePath, indexPath, "pq")
    val cents = loadCentroids(spark, indexPath)
    val bookRows = spark.read.parquet(s"$indexPath/codebooks")
      .orderBy("j", "c").collect()
    val booksFlat: Array[Double] = bookRows.flatMap(_.getSeq[Double](2))
    graft.functions.Registry.ensure(spark)
    val booksLit = lit(booksFlat)
    val corpus = spark.read.parquet(s"$indexPath/codes")
      .select(col("id").as("nid"), col("cell"), col("codes").as("ncodes"), col("rn"))
    val v = table.filter(col(meta.vecCol).isNotNull)
      .select(col(meta.idCol).as("id"), col(meta.vecCol).cast("array<double>").as("v"))
    val q = Similarity.probeCells(
      v.select(col("id").as("qid"), col("v").as("qv"))
        .withColumn("qn", Similarity.norm(col("qv"))),
      cents, nprobe)
    val adot = call_function("pq_adc", col("qv"), col("ncodes"), booksLit,
      lit(meta.m), lit(meta.ksub))
    val wa = Window.partitionBy(col("qid")).orderBy(col("acos").desc, col("nid"))
    // full-frame count on wa's own spec: one WindowExec (see the
    // in-session twin in Similarity.ivfPqTopK)
    val effRerank =
      if (rerankFrac <= 0.0) lit(rerankFactor * k)
      else greatest(lit(rerankFactor * k),
        ceil(count(lit(1)).over(wa.rowsBetween(
            Window.unboundedPreceding, Window.unboundedFollowing)) * lit(rerankFrac))
          .cast("int"))
    val survivors = q.join(corpus, "cell")
      .filter(col("qid") =!= col("nid"))
      .select(col("qid"), col("nid"), (adot / (col("qn") * col("rn"))).as("acos"))
      .withColumn("arank", row_number().over(wa))
      .withColumn("_eff_rerank", effRerank) // window exprs can't sit in a filter
      .filter(col("arank") <= col("_eff_rerank"))
      .select(col("qid"), col("nid"))
    val vecs = v.withColumn("nrm", Similarity.norm(col("v")))
    val scored = survivors
      .join(vecs.select(col("id").as("qid"), col("v").as("qv"), col("nrm").as("qn")), "qid")
      .join(vecs.select(col("id").as("nid"), col("v").as("nv"), col("nrm").as("nn")), "nid")
      .select(col("qid"), col("nid"),
        (Similarity.dot(col("qv"), col("nv")) / (col("qn") * col("nn"))).as("cos"))
    val w = Window.partitionBy(col("qid")).orderBy(col("cos").desc, col("nid"))
    scored.withColumn("rank", row_number().over(w)).filter(col("rank") <= k)
  }

  /**
   * APPEND a delta table to a stamped IVF-PQ index — the
   * [[appendIvfIndex]] lifecycle one compression level down: delta
   * vectors join the FROZEN coarse cells ([[Similarity.cellRank]],
   * duplicate-id-safe) and are encoded with the FROZEN persisted
   * codebooks (`pq_encode` against the loaded literals — the exact
   * writer kernels), so appended codes are byte-compatible with the
   * built ones; the stamp gains a verified (deltaPath, fingerprint)
   * part. Same guard rails: no silent v0 restart, one append per
   * delta, stamp dropped FIRST, delta fingerprint window.
   *
   * Drift guard: PQ codes do not store float vectors, so the baseline
   * distortion samples the STAMPED BASE TABLE itself (verified
   * coherent at entry, bounded deterministic hash sample) — the same
   * statistic, a different but equally-sound source. Frozen codebooks
   * over drifted data degrade recall exactly like frozen cells do, so
   * the refusal threshold is shared. Without `baseTable` the baseline
   * reads `tablePath` RAW, which is only sound when the files carry
   * `idCol`/`vecCol` under their stored names and types — an index
   * fitted on a schema-ADAPTED view must pass that view (checked, not
   * assumed: a raw read missing either column refuses loudly).
   *
   * Equivalence contract: at nprobe = nlist with a rerank set covering
   * every candidate, the ADC coarse pass cannot drop anything and the
   * exact re-rank decides alone — an appended index answers EXACTLY
   * like a full rebuild (q_llm_ann_pq_append_check pins it).
   */
  def appendPqIndex(spark: SparkSession, delta: DataFrame, deltaPath: String,
                    indexPath: String, tablePath: String,
                    driftFactor: Double = 4.0,
                    maxDriftSample: Long = 20000L,
                    baseTable: DataFrame = null): Unit = {
    appended(spark, indexPath, tablePath, deltaPath, "pq") { meta =>
      val cents = loadCentroids(spark, indexPath)
      val v = delta.filter(col(meta.vecCol).isNotNull)
        .select(col(meta.idCol).as("id"),
          col(meta.vecCol).cast("array<double>").as("v"))
      val best = element_at(Similarity.cellRank(col("v"), cents), 1)
      val assigned = v
        .select(col("id"), col("v"), best.getField("ci").as("cell"),
          (Similarity.dot(col("v"), col("v")) + best.getField("cdist")).as("_sqdist"))
        .persist()
      try {
        val deltaStats = assigned.agg(count(lit(1)).as("n"),
          avg(col("_sqdist")).as("d")).collect().head
        require(deltaStats.getLong(0) > 0,
          s"delta table $deltaPath has no non-null vectors — nothing to append")
        // baseline from the stamped base TABLE (pq codes carry no float
        // vectors); `baseTable` lets the caller pass the same adapted
        // view the writer fitted on — the raw read is the fallback and
        // ASSUMES the files carry meta.idCol/meta.vecCol under their
        // stored names and types (writePqIndex may have fitted on a
        // schema-ADAPTED view; an adapted table must pass `baseTable`
        // or the check below refuses loudly instead of throwing an
        // unresolved-column error mid-plan — r14 advisory)
        val baseRaw = Option(baseTable).getOrElse {
          val raw = spark.read.parquet(tablePath)
          // resolver semantics, not String ==: Spark's analyzer resolves
          // column names case-insensitively by default, so an index
          // fitted as "Embedding" over files storing "embedding" works —
          // the guard must not refuse what the plan would resolve
          val resolver = spark.sessionState.analyzer.resolver
          val missing = Seq(meta.idCol, meta.vecCol)
            .filterNot(n => raw.columns.exists(c => resolver(c, n)))
          if (missing.nonEmpty) throw new IllegalStateException(
            s"appendPqIndex's drift baseline read $tablePath directly but the " +
              s"files lack column(s) ${missing.mkString("'", "', '", "'")} the " +
              "index was fitted on — the index was built over a schema-adapted " +
              "view; pass that view as baseTable so the baseline measures the " +
              "same data the codebooks describe.")
          raw
        }
        val base = baseRaw
          .filter(col(meta.vecCol).isNotNull)
          .select(col(meta.idCol).as("id"),
            col(meta.vecCol).cast("array<double>").as("v"))
        val baseBest = element_at(Similarity.cellRank(col("v"), cents), 1)
        driftCheck(deltaPath, deltaStats.getDouble(1), driftFactor,
          baseline = base,
          distCol = Similarity.dot(col("v"), col("v")) + baseBest.getField("cdist"),
          dims = meta.dims, maxDriftSample = maxDriftSample,
          noRowsMsg = s"table $tablePath has no vector rows — rebuild with " +
            "AnnIndex.writePqIndex before appending",
          rebuildHint = "rebuild with AnnIndex.writePqIndex")
        // codebooks load only AFTER the guards: a refused append stays
        // metadata-cheap (the m·ksub·subdim literal trees are the
        // encode step's cost, not the refusal path's)
        val bookRows = spark.read.parquet(s"$indexPath/codebooks")
          .orderBy("j", "c").collect()
        val booksFlat: Array[Double] = bookRows.flatMap(_.getSeq[Double](2))
        val cn2Flat: Array[Double] = bookRows.map(_.getSeq[Double](2).map(x => x * x).sum)
        graft.functions.Registry.ensure(spark)
        val booksLit = lit(booksFlat)
        val cn2Lit = lit(cn2Flat)
        stamp.drop(spark, indexPath)
        assigned
          .withColumn("codes",
            call_function("pq_encode", col("v"), booksLit, lit(meta.m), lit(meta.ksub)))
          .withColumn("rn",
            sqrt(call_function("pq_cn2", col("codes"), cn2Lit, lit(meta.ksub))))
          .filter(col("rn") > 0)
          .select(col("id"), col("codes"), col("rn"), col("cell"))
          .write.mode("append").partitionBy("cell").parquet(s"$indexPath/codes")
      } finally assigned.unpersist(blocking = false)
    }
  }

  /**
   * Build and stamp a binary sign-quantization index: one
   * [[Similarity.signPack]] pass, (id, bits) persisted — 32× smaller
   * than the float vectors, the store a Hamming coarse pass scans.
   * No quantizer state at all, so the "fit" is a single map; the
   * artifact's value is not skipping a fit but skipping the CORPUS
   * READ on every probe batch (8·ceil(dims/64) bytes/row instead of
   * 8·dims).
   */
  def writeBinaryIndex(spark: SparkSession, table: DataFrame, tablePath: String,
                       indexPath: String, idCol: String, vecCol: String,
                       dims: Int): Unit = {
    stamp.drop(spark, indexPath)
    val (fp, _) = stamp.fitWindow(spark, tablePath, "build") { _ =>
      table.filter(col(vecCol).isNotNull)
        .select(col(idCol).as("id"), col(vecCol).cast("array<double>").as("v"))
        .select(col("id"), Similarity.signPack(col("v"), dims).as("bits"))
        .write.mode("overwrite").parquet(s"$indexPath/codes")
    }
    writeMeta(spark, indexPath, AnnIndexMeta("binary", idCol, vecCol, dims,
      nlist = 0, m = 0, ksub = 0, tableFp = fp))
  }

  /**
   * APPEND a delta table to a stamped binary index — the simplest
   * member of the append family: sign quantization has NO fitted
   * state at all (the "quantizer" is the sign function), so there is
   * no drift to guard and an appended index is EXACTLY a rebuild by
   * construction at every operating point (q_llm_ann_bin_append_check
   * pins it with zero tolerance). Same lifecycle rails as
   * [[appendIvfIndex]]: no silent v0 restart, one append per delta,
   * stamp dropped FIRST, delta fingerprint window, parts verified on
   * every later probe.
   */
  def appendBinaryIndex(spark: SparkSession, delta: DataFrame, deltaPath: String,
                        indexPath: String, tablePath: String): Unit = {
    appended(spark, indexPath, tablePath, deltaPath, "binary") { meta =>
      val bits = delta.filter(col(meta.vecCol).isNotNull)
        .select(col(meta.idCol).as("id"),
          col(meta.vecCol).cast("array<double>").as("v"))
        .select(col("id"), Similarity.signPack(col("v"), meta.dims).as("bits"))
        .persist()
      try {
        require(bits.count() > 0,
          s"delta table $deltaPath has no non-null vectors — nothing to append")
        stamp.drop(spark, indexPath)
        bits.write.mode("append").parquet(s"$indexPath/codes")
      } finally bits.unpersist(blocking = false)
    }
  }

  /**
   * Build and stamp a multi-table LSH index: the per-row
   * (id, b_0 … b_{tables-1}) bucket relation [[Similarity.lshTopK]]
   * computes in-session, persisted. LSH is the one ANN kind with NO
   * fitted state at all — the hyperplanes are deterministic hashes of
   * (table, plane, dim) literals, identical on every build — so a
   * loaded index is VALUE-identical to an in-session build
   * (q_llm_ann_lsh_persist_check pins the probe row-exact) and an
   * appended index is exactly a rebuild ([[appendLshIndex]]). What the
   * artifact saves is the corpus-volume hyperplane pass (tables ×
   * planes × dims multiply-adds per row) every self-join otherwise
   * re-pays — at 100 TB the bucket relation is ~8·(tables+1) bytes/row
   * while computing it re-reads the full vector column.
   */
  def writeLshIndex(spark: SparkSession, table: DataFrame, tablePath: String,
                    indexPath: String, idCol: String, vecCol: String,
                    dims: Int, planes: Int = 8, tables: Int = 4): Unit = {
    stamp.drop(spark, indexPath)
    graft.functions.Registry.ensure(spark)
    val (fp, _) = stamp.fitWindow(spark, tablePath, "build") { _ =>
      table.filter(col(vecCol).isNotNull)
        .select(col(idCol).as("id"), col(vecCol).cast("array<double>").as("v"))
        .withColumn("bs", call_function("lsh_buckets",
          col("v"), lit(dims), lit(planes), lit(tables)))
        .select(col("id") +:
          (0 until tables).map(t => col("bs").getItem(t).as(s"b_$t")): _*)
        .write.mode("overwrite").parquet(s"$indexPath/codes")
    }
    writeMeta(spark, indexPath, AnnIndexMeta("lsh", idCol, vecCol, dims,
      nlist = 0, m = 0, ksub = 0, tableFp = fp, planes = planes, tables = tables))
  }

  /**
   * Self-join top-k through a stamped LSH index — the loaded twin of
   * [[Similarity.lshTopK]] at the index's (planes, tables): BOTH sides
   * of the bucket join read the persisted codes (a self-join's query
   * buckets ARE the corpus buckets, so not one hyperplane sum is
   * computed), multi-probe keys are cheap bit-flips of the stored
   * buckets, candidates distinct across tables/probes, exact-cosine
   * re-rank with float vectors fetched from `table` for the candidate
   * pairs only. `table` is the caller's adapted view of the STAMPED
   * files — after appends that means base ∪ every appended part,
   * exactly the rows the codes cover (the pq/binary probe convention).
   * Row-exact vs the in-session build by construction — the persisted
   * buckets are the same deterministic values lshTopK computes.
   */
  def lshTopKIndexed(spark: SparkSession, table: DataFrame,
                     tablePath: String, indexPath: String,
                     k: Int, multiProbe: Boolean = true): DataFrame = {
    val meta = verify(spark, tablePath, indexPath, "lsh")
    val vb = spark.read.parquet(s"$indexPath/codes")
    val corpus = vb
      .withColumn("tb", explode(array((0 until meta.tables).map(t =>
        struct(lit(t).as("t"), col(s"b_$t").as("b"))): _*)))
      .select(col("id").as("nid"), col("tb"))
    // DIRECTIONAL multi-probe + half-pair normalization, exactly as
    // [[Similarity.lshTopK]] (r17): only the 0→1 bit flips probe, so a
    // differing-bit meeting is generated exactly once (from the
    // lower-bucket side); orientation is normalized with
    // least/greatest; scoring runs once per unordered pair and the
    // explode emits both orientations (cosine is orientation-exact; no
    // union mirror, no exchange-reuse dependency). The loaded-vs-in-
    // session equivalence gates pin both faces, which carry the same
    // formulation.
    val probeCols: Seq[Column] = (0 until meta.tables).flatMap { t =>
      val base = col(s"b_$t")
      val exact = struct(lit(t).as("t"), base.as("b"))
      if (multiProbe) exact +: (0 until meta.planes).map { j =>
        val flipped = base.bitwiseXOR(lit(1L << j))
        when(flipped > base, struct(lit(t).as("t"), flipped.as("b")))
      } else Seq(exact)
    }
    val q = vb
      .withColumn("tb", explode(array_compact(array(probeCols: _*))))
      .select(col("id").as("qid"), col("tb"))
    val candHalf = q.join(corpus, "tb")
      .filter(col("qid") =!= col("nid"))
      .select(least(col("qid"), col("nid")).as("qid"),
        greatest(col("qid"), col("nid")).as("nid"))
      .distinct()
    val v0 = table.filter(col(meta.vecCol).isNotNull)
      .select(col(meta.idCol).as("id"),
        col(meta.vecCol).cast("array<double>").as("v"))
      .withColumn("nrm", Similarity.norm(col("v")))
    val scoredHalf = candHalf
      .join(v0.select(col("id").as("qid"), col("v").as("qv"), col("nrm").as("qn")), "qid")
      .join(v0.select(col("id").as("nid"), col("v").as("nv"), col("nrm").as("nn")), "nid")
      .select(col("qid"), col("nid"),
        (Similarity.dot(col("qv"), col("nv")) / (col("qn") * col("nn"))).as("cos"))
    val pairs = scoredHalf
      .select(explode(array(
          struct(col("qid").as("a"), col("nid").as("b")),
          struct(col("nid").as("a"), col("qid").as("b")))).as("p"),
        col("cos"))
      .select(col("p.a").as("qid"), col("p.b").as("nid"), col("cos"))
    val w = Window.partitionBy(col("qid")).orderBy(col("cos").desc, col("nid"))
    pairs.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
  }

  /**
   * APPEND a delta table to a stamped LSH index: the delta's buckets
   * compute through the same deterministic hyperplane hashes at the
   * stamped (planes, tables) and land as new code files; the stamp
   * gains a verified (deltaPath, fingerprint) part. Because LSH has no
   * fitted state there is NO drift to guard and an appended index
   * equals a full rebuild EXACTLY at every operating point
   * (q_llm_ann_lsh_append_check pins it with zero tolerance). Same
   * lifecycle rails: no silent v0 restart, one append per delta, stamp
   * dropped FIRST, delta fingerprint window.
   */
  def appendLshIndex(spark: SparkSession, delta: DataFrame, deltaPath: String,
                     indexPath: String, tablePath: String): Unit = {
    appended(spark, indexPath, tablePath, deltaPath, "lsh") { meta =>
      graft.functions.Registry.ensure(spark)
      val bs = delta.filter(col(meta.vecCol).isNotNull)
        .select(col(meta.idCol).as("id"),
          col(meta.vecCol).cast("array<double>").as("v"))
        .withColumn("bs", call_function("lsh_buckets",
          col("v"), lit(meta.dims), lit(meta.planes), lit(meta.tables)))
        .select(col("id") +:
          (0 until meta.tables).map(t => col("bs").getItem(t).as(s"b_$t")): _*)
        .persist()
      try {
        require(bs.count() > 0,
          s"delta table $deltaPath has no non-null vectors — nothing to append")
        stamp.drop(spark, indexPath)
        bs.write.mode("append").parquet(s"$indexPath/codes")
      } finally bs.unpersist(blocking = false)
    }
  }

  /**
   * Probe a stamped binary index: verify coherence, sign-pack the
   * query batch on the fly, Hamming coarse pass against the persisted
   * bits, exact-cosine re-rank of the corpus-fraction-scaled
   * candidate set with float vectors fetched from `table` (the
   * stamped files) for queries and survivors only. Row-exact twin of
   * [[Similarity.binaryTopK]] at the same (k, rerank, rerankFrac).
   */
  def binaryLookupIndexed(spark: SparkSession, queries: DataFrame,
                          table: DataFrame, tablePath: String, indexPath: String,
                          k: Int, rerank: Int = 96,
                          rerankFrac: Double = 0.0): DataFrame = {
    require(rerank >= k, "rerank candidate set must be at least k")
    require(rerankFrac >= 0.0 && rerankFrac <= 1.0, "rerankFrac must be in [0, 1]")
    val meta = verify(spark, tablePath, indexPath, "binary")
    // null-vector queries are dropped like the in-session twin's
    val q0 = queries.filter(col(meta.vecCol).isNotNull)
      .select(col(meta.idCol).as("qid"),
        col(meta.vecCol).cast("array<double>").as("qv"))
    val c0 = table.select(col(meta.idCol).as("nid"),
      col(meta.vecCol).cast("array<double>").as("nv"))
    val qb = q0.select(col("qid"), Similarity.signPack(col("qv"), meta.dims).as("qbits"))
    val cb = spark.read.parquet(s"$indexPath/codes")
      .select(col("id").as("nid"), col("bits").as("nbits"))
    val coarse = broadcast(qb).crossJoin(cb)
      .filter(col("qid") =!= col("nid"))
      .select(col("qid"), col("nid"),
        Similarity.hammingDist(col("qbits"), col("nbits")).as("ham"))
    val wc = Window.partitionBy(col("qid")).orderBy(col("ham"), col("nid"))
    val effRerank = // full-frame count on wc's own spec: one WindowExec
      if (rerankFrac <= 0.0) lit(rerank)
      else greatest(lit(rerank),
        ceil(count(lit(1)).over(wc.rowsBetween(
            Window.unboundedPreceding, Window.unboundedFollowing)) * lit(rerankFrac))
          .cast("int"))
    val cand = coarse.withColumn("rr", row_number().over(wc))
      .withColumn("_eff_rerank", effRerank)
      .filter(col("rr") <= col("_eff_rerank"))
      .select(col("qid"), col("nid"), col("ham"))
    val scored = cand
      .join(q0.withColumn("qn", Similarity.norm(col("qv"))), "qid")
      .join(c0.withColumn("nn", Similarity.norm(col("nv"))), "nid")
      .select(col("qid"), col("nid"), col("ham"),
        (Similarity.dot(col("qv"), col("nv")) / (col("qn") * col("nn"))).as("cos"))
    val wk = Window.partitionBy(col("qid")).orderBy(col("cos").desc, col("nid"))
    scored.withColumn("rank", row_number().over(wk))
      .filter(col("rank") <= k)
      .select(col("qid"), col("nid"), col("rank"), col("cos"), col("ham"))
  }
}
