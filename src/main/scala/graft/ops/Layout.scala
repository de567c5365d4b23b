package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/**
 * Data-layout operators: multi-dimensional Z-order (Morton)
 * clustering and a layout-quality report that measures, file by
 * file, how much of a table a box predicate would have to scan.
 *
 * WHY THIS EXISTS AT 100 TB: Spark prunes parquet at two levels —
 * partition directories, and per-file/row-group min-max stats pushed
 * into the scan. Both only help if rows with nearby key values sit in
 * the same files. A table sorted by one column prunes perfectly on
 * that column and not at all on any other; Z-order interleaves the
 * bits of several columns so every interleaved dimension gets
 * partial locality, which is the layout Delta/Iceberg `OPTIMIZE
 * ZORDER BY` produces. This module computes the same clustering key
 * with pure Column algebra (whole-stage codegen, no UDF):
 *
 *  1. equi-width bucket each dimension into 2^bits cells — bounds
 *     come from ONE broadcast min/max aggregate (the Cumulative
 *     idiom), the bucket function is row-local;
 *  2. bit-interleave the bucket numbers into a single long `zval`
 *     (dimension d contributes bit b to position b*nDims+d);
 *  3. range-repartition + sort within partitions on `zval`, so each
 *     output file covers a compact Z-curve segment.
 *
 * Everything shuffles once (the range exchange); the only auxiliary
 * relations are the one-row bounds and (for the report) the
 * file-count rollups, all broadcast-sized.
 */
object Layout {

  /** Bit-interleave already-bucketed non-negative longs: bucket bit b
    * of `buckets(d)` lands at result bit `b*n + d`. Bits are disjoint
    * so OR == sum; stays inside whole-stage codegen (shift/and/or
    * only). `n*bits` must fit a non-negative long. */
  def interleaveBits(buckets: Seq[Column], bits: Int): Column = {
    val n = buckets.size
    require(n >= 1 && bits >= 1 && n * bits <= 62,
      s"interleave of $n dims x $bits bits exceeds 62 bits")
    val terms = for { d <- buckets.indices; b <- 0 until bits } yield
      shiftleft(shiftright(buckets(d), b).bitwiseAND(lit(1L)), b * n + d)
    terms.reduce(_ bitwiseOR _)
  }

  /** Equi-width bucket of `x` into [0, 2^bits) given broadcast bounds
    * columns `mn`/`mx` (doubles). IEEE-portable: the same
    * subtract/multiply/divide/floor sequence is restated verbatim in
    * the DuckDB oracles, so bucket values hash-match cross-engine.
    * A constant dimension (mx == mn) collapses to bucket 0. */
  def equiWidthBucket(x: Column, mn: Column, mx: Column, bits: Int): Column = {
    val cells = (1L << bits).toDouble
    when(mx > mn,
      least(lit((1L << bits) - 1),
        floor((x.cast("double") - mn) * cells / (mx - mn))))
      .otherwise(lit(0L)).cast("long")
  }

  /**
   * Adds `zval`: the Z-order key over `dims` (numeric columns), each
   * equi-width bucketed into 2^bits cells over its global min/max.
   * One broadcast bounds aggregate; the key itself is row-local.
   * Null or non-finite dimension values pin to cell 0 (they carry no
   * locality to preserve; callers that care filter first).
   */
  def zorderValue(df: DataFrame, dims: Seq[String], bits: Int = 16): DataFrame = {
    require(dims.nonEmpty, "need at least one dimension")
    // fail loudly instead of silently replacing caller columns: a
    // frame that already carries zval (e.g. a second zorder_cluster
    // stage) would otherwise have it clobbered with no diagnostic
    val reserved = "zval" +: dims.flatMap(d => Seq(s"_z_mn_$d", s"_z_mx_$d"))
    val clash = reserved.filter(df.columns.contains)
    require(clash.isEmpty,
      s"zorderValue output would clobber existing column(s): ${clash.mkString(", ")} — rename or drop them first")
    val boundAggs = dims.flatMap { d =>
      val v = col(d).cast("double")
      val finite = v.isNotNull && !isnan(v) &&
        v =!= lit(Double.PositiveInfinity) && v =!= lit(Double.NegativeInfinity)
      Seq(min(when(finite, v)).as(s"_z_mn_$d"), max(when(finite, v)).as(s"_z_mx_$d"))
    }
    val bounds = df.groupBy().agg(boundAggs.head, boundAggs.tail: _*)
    val withBounds = df.crossJoin(broadcast(bounds))
    val cells = dims.map { d =>
      val v = col(d).cast("double")
      val finite = v.isNotNull && !isnan(v) &&
        v =!= lit(Double.PositiveInfinity) && v =!= lit(Double.NegativeInfinity)
      when(finite, equiWidthBucket(v, col(s"_z_mn_$d"), col(s"_z_mx_$d"), bits))
        .otherwise(lit(0L))
    }
    withBounds
      .withColumn("zval", interleaveBits(cells, bits))
      .drop(dims.flatMap(d => Seq(s"_z_mn_$d", s"_z_mx_$d")): _*)
  }

  /**
   * Cluster for writing: range-repartition on `zval` (equal keys
   * co-locate; ranges are sampled by Spark's RangePartitioner, so
   * partitions are equi-DEPTH even when the Z-curve is skewed) and
   * sort within partitions, so every output file covers one compact
   * Z-segment and parquet min-max stats prune on every dimension.
   */
  def clusterByZorder(df: DataFrame, dims: Seq[String], bits: Int = 16,
                      partitions: Int = 0): DataFrame = {
    val z = zorderValue(df, dims, bits)
    val ranged =
      if (partitions > 0) z.repartitionByRange(partitions, col("zval"))
      else z.repartitionByRange(col("zval"))
    ranged.sortWithinPartitions(col("zval"))
  }

  /** Write `df` as parquet clustered on the Z-curve: one file per
    * range partition, each covering a compact zval segment. */
  def writeClustered(df: DataFrame, path: String, dims: Seq[String],
                     bits: Int = 16, files: Int = 8): Unit =
    clusterByZorder(df, dims, bits, files).drop("zval")
      .write.mode("overwrite").parquet(path)

  /**
   * Deterministic equi-depth file assignment for layout analysis:
   * rows ordered by (`orderCols` asc, `tieCols` asc) are cut into
   * `nFiles` files of ceil(N/nFiles) rows. The global rank rides
   * [[Cumulative.runningSums]] (bucketed two-level prefix sums — no
   * single-task window), the row count is one broadcast one-row
   * aggregate; `orderCols.head` must be numeric and the full
   * (orderCols, tieCols) key unique per row.
   */
  def fileAssignment(df: DataFrame, orderCols: Seq[String], tieCols: Seq[String],
                     nFiles: Int): DataFrame = {
    require(orderCols.nonEmpty && nFiles >= 1)
    val ranked = Cumulative.runningSums(df, orderCols.head,
      orderCols.tail ++ tieCols, Seq(("_rk", lit(1L))))
    val nRow = df.groupBy().agg(count(lit(1)).as("_n_total"))
    ranked.crossJoin(broadcast(nRow))
      .withColumn("file_id",
        floor((col("_rk") - 1) / ceil(col("_n_total").cast("double") / nFiles).cast("long")))
      .drop("_rk", "_n_total")
  }

  /**
   * Layout-quality report: for each candidate layout, cut the table
   * into equi-depth files, collect per-file min/max of every
   * dimension (exactly the stats a parquet footer carries), and count
   * how many files — and how many rows inside them — a box predicate
   * `lo(d) <= d <= hi(d)` cannot prune. One row per layout:
   * (layout, n_files, files_hit, rows_in_hit_files, rows_matching).
   * `rows_matching` is layout-invariant (the true result size);
   * `rows_in_hit_files / rows_matching` is the read amplification the
   * layout costs at 100 TB, where "files" are whatever unit the store
   * prunes by (parquet row groups, Iceberg data files).
   *
   * Layouts compared: `zorder` (Z-curve over `dims`) and `linear`
   * (lexicographic by `dims` in the given order) — the two layouts a
   * table maintenance job actually chooses between.
   */
  def pruningReport(df: DataFrame, dims: Seq[String], keyCols: Seq[String],
                    box: Seq[(String, Double, Double)], bits: Int = 16,
                    nFiles: Int = 64): DataFrame = {
    require(dims.size >= 2, "a layout comparison needs >= 2 dimensions")
    val z = zorderValue(df, dims, bits)
    val layouts = Seq(
      ("zorder", fileAssignment(z, Seq("zval"), dims ++ keyCols, nFiles)),
      ("linear", fileAssignment(df, Seq(dims.head), dims.tail ++ keyCols, nFiles)))
    val inBox = box.map { case (d, lo, hi) =>
      col(d).cast("double") >= lo && col(d).cast("double") <= hi
    }.reduce(_ && _)
    layouts.map { case (name, assigned) =>
      val statAggs = dims.flatMap(d =>
        Seq(min(col(d).cast("double")).as(s"_mn_$d"), max(col(d).cast("double")).as(s"_mx_$d"))) ++
        Seq(count(lit(1)).as("_rows"), sum(when(inBox, 1L).otherwise(0L)).as("_match"))
      val perFile = assigned.groupBy(col("file_id")).agg(statAggs.head, statAggs.tail: _*)
      val hit = box.map { case (d, lo, hi) =>
        col(s"_mx_$d") >= lo && col(s"_mn_$d") <= hi
      }.reduce(_ && _)
      perFile.agg(
        lit(name).as("layout"),
        count(lit(1)).as("n_files"),
        sum(when(hit, 1L).otherwise(0L)).as("files_hit"),
        sum(when(hit, col("_rows")).otherwise(0L)).as("rows_in_hit_files"),
        sum(col("_match")).as("rows_matching"))
        .select("layout", "n_files", "files_hit", "rows_in_hit_files", "rows_matching")
    }.reduce(_ unionAll _)
  }

  /** One planned compaction bin: the ADJACENT (name-ordered, which for
    * a sorted write is zval-ordered) small files it merges. */
  case class CompactionBin(bin: Int, files: Seq[String], bytes: Long)

  /**
   * Small-file compaction plan for a parquet directory — the
   * `OPTIMIZE` maintenance half of the layout story: streaming and
   * incremental appends accumulate kilobyte part files whose per-file
   * open/footer/seek overhead dominates a 100 TB scan long before
   * data volume does. Files smaller than `smallBytes` are packed into
   * bins of ≈`targetBytes` by walking the listing in NAME order and
   * cutting greedily — adjacency is deliberate: a clustered write
   * names files in zval order, so merging neighbors preserves the
   * layout's locality (a first-fit-decreasing pack would maximize bin
   * fill but interleave distant curve segments). Driver-side METADATA
   * only (one directory listing — exactly what table-format OPTIMIZE
   * implementations do); no data moves until [[compactFiles]].
   * Singleton bins are dropped (rewriting one file buys nothing).
   */
  def compactionPlan(spark: org.apache.spark.sql.SparkSession, path: String,
                     targetBytes: Long, smallBytes: Long): Seq[CompactionBin] = {
    require(targetBytes > 0 && smallBytes <= targetBytes)
    val hPath = new org.apache.hadoop.fs.Path(path)
    val fs = hPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val parts = fs.listStatus(hPath).toSeq
      .filter(s => s.isFile && s.getPath.getName.endsWith(".parquet"))
      .sortBy(_.getPath.getName)
    val bins = scala.collection.mutable.ArrayBuffer[CompactionBin]()
    var cur = scala.collection.mutable.ArrayBuffer[(String, Long)]()
    var curBytes = 0L
    def flush(): Unit = {
      if (cur.size > 1)
        bins += CompactionBin(bins.size, cur.map(_._1).toSeq, curBytes)
      cur = scala.collection.mutable.ArrayBuffer[(String, Long)]()
      curBytes = 0L
    }
    parts.foreach { s =>
      val len = s.getLen
      if (len >= smallBytes) flush() // a big file breaks adjacency
      else {
        if (curBytes + len > targetBytes && cur.nonEmpty) flush()
        cur += ((s.getPath.toString, len))
        curBytes += len
      }
    }
    flush()
    bins.toSeq
  }

  /** One parquet column-chunk's footer statistics. */
  case class ColumnChunkStats(file: String, row_group: Int, column: String,
                              n_values: Long, n_nulls: Long,
                              min_value: String, max_value: String)

  /**
   * REAL parquet footer statistics — the min/max/null-count metadata
   * the engine's scan pruning actually reads — surfaced as a relation:
   * one row per (file, row group, column). This is what
   * [[pruningReport]] SIMULATES with equi-depth cuts; pointed at a
   * directory written by [[writeClustered]] it shows the physical
   * layout a store would prune by.
   *
   * Scale shape: the file LISTING is driver-side metadata (one RPC);
   * footer reads distribute — one task per batch of files, each
   * opening only the footer bytes (no data pages). Values render
   * through parquet's own typed stringifier, UTF-8 decoded for string
   * columns.
   */
  def parquetStats(spark: org.apache.spark.sql.SparkSession,
                   path: String): org.apache.spark.sql.Dataset[ColumnChunkStats] = {
    import spark.implicits._
    val hPath = new org.apache.hadoop.fs.Path(path)
    val fs = hPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val files = fs.listStatus(hPath).toSeq
      .filter(s => s.isFile && s.getPath.getName.endsWith(".parquet"))
      .map(_.getPath.toString)
    spark.createDataset(files).repartition(math.max(1, files.size / 16))
      .mapPartitions { it =>
        // executor-side default conf: footer reads only need the
        // filesystem the path itself names (file:// / hdfs:// defaults)
        val conf = new org.apache.hadoop.conf.Configuration()
        it.flatMap { f =>
          val in = org.apache.parquet.hadoop.util.HadoopInputFile
            .fromPath(new org.apache.hadoop.fs.Path(f), conf)
          val reader = org.apache.parquet.hadoop.ParquetFileReader.open(in)
          try {
            val blocks = reader.getFooter.getBlocks
            (0 until blocks.size()).flatMap { bi =>
              val cols = blocks.get(bi).getColumns
              (0 until cols.size()).map { ci =>
                val c = cols.get(ci)
                // explicit wildcard type: the inferred existential from
                // getStatistics trips a -Xlint warning otherwise
                val st: org.apache.parquet.column.statistics.Statistics[_] =
                  c.getStatistics
                val (mn, mx) =
                  if (st == null || !st.hasNonNullValue) ("", "")
                  else (st.minAsString(), st.maxAsString())
                ColumnChunkStats(f.split("/").last, bi,
                  c.getPath.toDotString,
                  c.getValueCount,
                  if (st == null) -1L else st.getNumNulls,
                  mn, mx)
              }
            }.iterator
          } finally reader.close()
        }
      }
  }

  /** Executed compaction outcome. */
  case class CompactionStats(binsCompacted: Int, filesRemoved: Int,
                             filesWritten: Int, indexesRebuilt: Int = 0)

  /**
   * Execute [[compactionPlan]]: each bin's files are read together and
   * rewritten as ONE merged parquet file in the same directory.
   *
   * Crash safety (the swap is manifest-journaled): before the merged
   * file becomes visible, a hidden `.…-compact.manifest` listing the
   * bin's source files is written; originals are deleted only after
   * their replacement is renamed in, and the manifest is removed last.
   * A reader listing the directory between the rename and the deletes
   * transiently sees the bin's rows TWICE — that window is bounded
   * (one bin's deletes), and a crash inside it is NOT permanent:
   * [[recoverCompaction]] runs before every plan and finishes the
   * journaled swap (merged file present + manifest present → delete
   * the listed originals; merged file absent → the swap never
   * published, so only the manifest and staging leftovers are
   * removed). Without the journal, a crash there left the originals
   * AND the merged file live forever — a re-run re-merged the
   * originals and the duplicates were never reconciled. Single
   * concurrent maintainer per directory assumed (the OPTIMIZE
   * convention). Row contents, schema, and the name-order adjacency
   * of the directory are preserved; readers of a quiescent directory
   * see the same table.
   */
  def compactFiles(spark: org.apache.spark.sql.SparkSession, path: String,
                   targetBytes: Long, smallBytes: Long = Long.MaxValue): CompactionStats = {
    val hPath = new org.apache.hadoop.fs.Path(path)
    val fs = hPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    recoverCompaction(fs, hPath)
    val plan = compactionPlan(spark, path,
      targetBytes, math.min(smallBytes, targetBytes))
    var removed = 0
    plan.foreach { bin =>
      val staging = new org.apache.hadoop.fs.Path(path, s"_compact_staging_${bin.bin}")
      spark.read.parquet(bin.files: _*).coalesce(1)
        .write.mode("overwrite").parquet(staging.toString)
      val part = fs.listStatus(staging).toSeq
        .map(_.getPath).find(_.getName.endsWith(".parquet"))
        .getOrElse(throw new IllegalStateException(s"no staging output for bin ${bin.bin}"))
      // the merged file takes its NAME POSITION from the bin's first
      // member, so the directory's name order (zval order for a
      // clustered write) survives compaction and a SECOND maintenance
      // pass still sees adjacent files as adjacent — a "compact-..."
      // prefix would sort every merged segment to the front and make
      // the next pass merge distant curve segments
      val headBase = bin.files.head.split("/").last.stripSuffix(".parquet")
      val dest = new org.apache.hadoop.fs.Path(hPath, s"$headBase-compact.parquet")
      // journal BEFORE publishing: from here on a crash is recoverable
      val manifest = new org.apache.hadoop.fs.Path(hPath, s".$headBase-compact.manifest")
      val out = fs.create(manifest, true)
      try out.write(bin.files.map(_.split("/").last)
        .mkString("\n").getBytes(java.nio.charset.StandardCharsets.UTF_8))
      finally out.close()
      if (!fs.rename(part, dest)) {
        fs.delete(manifest, false)
        throw new IllegalStateException(s"rename failed: $part -> $dest")
      }
      bin.files.foreach { f =>
        if (fs.delete(new org.apache.hadoop.fs.Path(f), false)) removed += 1
      }
      fs.delete(manifest, false)
      fs.delete(staging, true)
    }
    // compaction renamed/merged data files, so every bloom side index
    // over this table is now stale (file-granular sketches naming dead
    // files). Rebuild the ones discoverable under the sibling
    // `<table>_bloomidx_<col>` convention from their own self-describing
    // meta stamps — a maintenance pass must not leave a poisoned index
    // for a later bloomPrunedRead to trip over (r11 verdict #1).
    val rebuilt =
      if (plan.isEmpty) 0
      else siblingBloomIndexes(fs, hPath).count { idx =>
        readBloomIndexMeta(fs, idx) match {
          case Some(meta) =>
            writeBloomIndex(spark, path, idx.toString, meta.column,
              meta.itemsPerFile, meta.fpp)
            true
          case None => false // stampless (foreign) index: the read's
                             // meta check fails loudly, never silently
        }
      }
    CompactionStats(plan.size, removed, plan.size, rebuilt)
  }

  /** Side bloom indexes of `table` under the `<table>_bloomidx_<col>`
    * naming convention ([[graft.io.Writers]] destination layout). */
  private def siblingBloomIndexes(fs: org.apache.hadoop.fs.FileSystem,
                                  table: org.apache.hadoop.fs.Path): Seq[org.apache.hadoop.fs.Path] = {
    val parent = table.getParent
    if (parent == null || !fs.exists(parent)) Nil
    else fs.listStatus(parent).toSeq
      .filter(s => s.isDirectory &&
        s.getPath.getName.startsWith(table.getName + "_bloomidx_"))
      .map(_.getPath)
  }

  /**
   * Finish any compaction swap a crash left half-done (see
   * [[compactFiles]]): for each leftover `.…-compact.manifest`, if the
   * merged file it journals is present, the listed source files still
   * in the directory are deleted (completing the swap — this is what
   * un-duplicates a crash between rename and deletes); if the merged
   * file never published, the manifest alone is dropped. Leftover
   * `_compact_staging_*` dirs are removed either way. Returns the
   * number of source files deleted during recovery.
   */
  def recoverCompaction(fs: org.apache.hadoop.fs.FileSystem,
                        dir: org.apache.hadoop.fs.Path): Int = {
    if (!fs.exists(dir)) return 0
    var removed = 0
    fs.listStatus(dir).foreach { s =>
      val name = s.getPath.getName
      if (s.isFile && name.startsWith(".") && name.endsWith("-compact.manifest")) {
        val dest = new org.apache.hadoop.fs.Path(dir,
          name.stripPrefix(".").stripSuffix(".manifest") + ".parquet")
        if (fs.exists(dest)) {
          val in = fs.open(s.getPath)
          val members =
            try scala.io.Source.fromInputStream(in, "UTF-8").getLines().toList
            finally in.close()
          members.filter(_.nonEmpty).foreach { m =>
            if (fs.delete(new org.apache.hadoop.fs.Path(dir, m), false)) removed += 1
          }
        }
        fs.delete(s.getPath, false)
      } else if (s.isDirectory && name.startsWith("_compact_staging_")) {
        fs.delete(s.getPath, true)
      }
    }
    removed
  }

  /**
   * Per-file BLOOM data-skipping index — the point-lookup complement
   * of Z-order + min/max footer stats. Min/max pruning only works
   * when nearby values share files (sorted or Z-ordered layouts); a
   * high-cardinality point lookup on an UNSORTED dimension scans
   * everything. A bloom index stores one sketch per data file, built
   * over `xxhash64(column)`, so a lookup reads the metadata-scale
   * index, keeps the files whose sketches might contain the probe
   * (no false negatives — every true match survives), and scans only
   * those. This is the Delta/Hudi bloom-index story, self-contained
   * in a parquet side table.
   *
   * Scale shape: the build is ONE scan of the table with a
   * per-file groupBy whose aggregate is Spark's own
   * `BloomFilterAggregate` (map-side partials merge sketch bytes,
   * one shuffle keyed by file name, one index row per data file —
   * never row-scale). `itemsPerFile` sizes the sketch: at fpp 1% a
   * 1M-row file costs ~1.2 MB of index. Lookups touch only the index
   * relation; the probe deserializes one sketch per index ROW
   * ([[graft.expr.BloomBytesMightContain]]), not per record.
   *
   * STALENESS: the index is file-granular, so any operation that
   * renames or merges data files ([[compactFiles]], a rewrite) makes
   * it stale. [[writeBloomIndex]] therefore stamps the index with the
   * table's file-listing fingerprint; [[bloomPrunedRead]] verifies the
   * stamp against the live listing and fails BEFORE planning a scan
   * with a precise "index stale: rebuild with writeBloomIndex" error
   * (silently intersecting with the live listing would hide lost
   * coverage). [[compactFiles]] rebuilds stamped sibling indexes
   * automatically from their own meta; a manual rebuild is one
   * idempotent [[writeBloomIndex]] call (one table scan).
   */
  def bloomIndex(spark: org.apache.spark.sql.SparkSession, path: String,
                 column: String, itemsPerFile: Long = 1000000L,
                 fpp: Double = 0.01): DataFrame = {
    val walk = walkDataFiles(spark, path)
    val (effItems, effFpp) = effSketchParams(spark, walk, itemsPerFile, fpp)
    bloomIndexFrom(spark, path, column, effItems, effFpp)
  }

  /** The EFFECTIVE sketch sizing [[bloomIndexFrom]] builds with —
    * split out so [[writeBloomIndex]] can stamp the values describing
    * the sketch that was actually built (the declared params alone
    * misdescribe a clamped build — r15 advisory).
    *
    * `itemsPerFile` is a CAPACITY BOUND, not the sketch size: sizing
    * the bitmap beyond a file's actual row count cannot lower the
    * false-positive rate, it only inflates every index row (the r15
    * scale probe measured a 96×-oversized bitmap as the whole
    * file-count shape of the probe leg). When the table is small
    * enough to ask cheaply (≤1024 footers, one metadata read each),
    * clamp the sizing to the real max rows-per-file; beyond that the
    * caller's declared capacity stands — a million-file table's owner
    * knows its file size.
    *
    * `fpp` is PER FILE, but what a probe pays for is false-positive
    * FILES — E[FP files] = fpp × nFiles grows linearly with the table
    * (at 1M files, 1% would falsely read ~10k files per probe), while
    * tightening fpp costs only log-linear bits. Cap the expectation
    * at 0.1 falsely-read files per probe value; the caller's fpp
    * stands when it is already tighter. */
  private def effSketchParams(spark: org.apache.spark.sql.SparkSession,
                              walk: Seq[(String, org.apache.hadoop.fs.FileStatus)],
                              itemsPerFile: Long, fpp: Double): (Long, Double) = {
    val effItems = math.max(1L, math.min(itemsPerFile, maxRowsPerFile(spark, walk)
      .getOrElse(itemsPerFile)))
    val nFiles = walk.size.max(1)
    (effItems, math.min(fpp, 0.1 / nFiles))
  }

  /** [[bloomIndex]]'s build plan at an already-clamped sizing — the
    * caller ran [[effSketchParams]] once (the footer walk is metadata
    * I/O worth not repeating) and passes the EFFECTIVE values. */
  private def bloomIndexFrom(spark: org.apache.spark.sql.SparkSession, path: String,
                             column: String, effItems: Long, effFpp: Double): DataFrame = {
    import org.apache.spark.sql.catalyst.expressions.Literal
    import org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate
    import org.apache.spark.sql.graft.ColumnBridge
    val numBits = org.apache.spark.util.sketch.BloomFilter
      .optimalNumOfBits(effItems, effFpp)
    val bloomAgg = ColumnBridge.column(
      new BloomFilterAggregate(
        ColumnBridge.expression(xxhash64(col(column))),
        Literal(effItems), Literal(numBits)).toAggregateExpression())
    spark.read.parquet(path)
      .select(col(column), col("_metadata.file_path").as("file"))
      .groupBy(col("file"))
      .agg(count(lit(1)).as("n_rows"),
        min(col(column)).as("min_val"),
        max(col(column)).as("max_val"),
        bloomAgg.as("bloom"))
  }

  /**
   * Fingerprint of the table's CURRENT data-file listing: sha-256 over
   * the sorted (relative path, length, mtime) triples of every
   * non-hidden file under `tablePath` — mtime included so a same-size
   * in-place overwrite (same names, same lengths, new bytes) still
   * changes the stamp. This is the coherence stamp a side index carries
   * — any rename/merge/rewrite of data files ([[compactFiles]], an
   * overwrite) changes the listing and therefore the fingerprint, so a
   * stamped index can be verified against the live table in one
   * metadata-scale listing (the same class of call the scan planner
   * makes anyway; no data is read).
   */
  def tableFingerprint(spark: org.apache.spark.sql.SparkSession,
                       tablePath: String): String =
    fingerprintOf(walkDataFiles(spark, tablePath))

  /** The sha-256 over a walk's sorted (rel path, length, mtime)
    * entries — split from [[tableFingerprint]] so a caller that
    * already walked ([[writeBloomIndex]]) does not list again. */
  private[ops] def fingerprintOf(walk: Seq[(String, org.apache.hadoop.fs.FileStatus)]): String = {
    val entries = walk.map { case (rel, s) =>
      s"$rel:${s.getLen}:${s.getModificationTime}"
    }
    val md = java.security.MessageDigest.getInstance("SHA-256")
    md.update(entries.sorted.mkString("\n").getBytes(java.nio.charset.StandardCharsets.UTF_8))
    md.digest().map("%02x".format(_)).mkString
  }

  /** Max row count over the table's parquet files, read from the file
    * FOOTERS (metadata only, no data pages) — None when the table has
    * more than 1024 files (the driver-side footer walk stops being
    * metadata-cheap) or no parquet files at all. Sizes [[bloomIndex]]
    * sketches to reality. */
  private def maxRowsPerFile(spark: org.apache.spark.sql.SparkSession,
                             walk: Seq[(String, org.apache.hadoop.fs.FileStatus)]): Option[Long] = {
    val conf = spark.sparkContext.hadoopConfiguration
    val statuses = walk.map(_._2)
      .filter(_.getPath.getName.endsWith(".parquet"))
    if (statuses.isEmpty || statuses.size > 1024) return None
    // the per-footer open is I/O-latency-bound (~10 ms each measured),
    // so read them concurrently on the driver — a java parallel stream
    // over ≤1024 files, no Spark job needed. Best-effort BY DESIGN: a
    // zero-byte or truncated part file that Spark's own reader would
    // skip at planning must not crash the build here, so any footer
    // failure falls back to the caller's declared capacity (r15
    // review finding).
    scala.util.Try {
      java.util.Arrays.stream(statuses.toArray).parallel().mapToLong { s =>
        val rf = org.apache.parquet.hadoop.ParquetFileReader.open(
          org.apache.parquet.hadoop.util.HadoopInputFile.fromStatus(s, conf))
        try rf.getRecordCount finally rf.close()
      }.max.orElse(0L)
    }.toOption.filter(_ > 0L)
  }

  /** FS-qualified form of a path (trailing slashes, `file:` prefixes,
    * relative forms all normalize) — the append guards' identity for
    * "is this delta already part of the artifact" across [[AnnIndex]]
    * and [[LmIndex]] (one implementation so a normalization fix
    * reaches both rails). */
  private[graft] def qualifiedPath(spark: org.apache.spark.sql.SparkSession,
                                   p: String): String = {
    val hp = new org.apache.hadoop.fs.Path(p)
    hp.getFileSystem(spark.sparkContext.hadoopConfiguration)
      .makeQualified(hp).toString
  }

  /** Recursive non-hidden data-file walk as (relative path, status).
    * Deliberately `listStatusIterator` recursion, NOT
    * `fs.listFiles(recursive = true)`: the located-status iterator
    * materializes block locations per file, which on the checksummed
    * local FS measured ~3.5 ms/file — 70× the plain listing — and put
    * the fingerprint walk at the top of every stamp-verified probe's
    * profile (r15 bloom decomposition). Hidden files AND hidden
    * directories (`_`/`.` prefix: _SUCCESS, .crc, staging dirs) are
    * skipped, directories before descent. */
  private[ops] def walkDataFiles(spark: org.apache.spark.sql.SparkSession,
                            tablePath: String): Seq[(String, org.apache.hadoop.fs.FileStatus)] = {
    val hPath = new org.apache.hadoop.fs.Path(tablePath)
    val fs = hPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val rootStatus = fs.getFileStatus(hPath)
    val base = rootStatus.getPath // qualified, for relativize
    val out = scala.collection.mutable.ArrayBuffer.empty[(String, org.apache.hadoop.fs.FileStatus)]
    def walk(p: org.apache.hadoop.fs.Path): Unit = {
      val it = fs.listStatusIterator(p)
      while (it.hasNext) {
        val s = it.next()
        val name = s.getPath.getName
        if (!name.startsWith("_") && !name.startsWith(".")) {
          if (s.isDirectory) walk(s.getPath)
          else out += ((base.toUri.relativize(s.getPath.toUri).getPath, s))
        }
      }
    }
    if (rootStatus.isDirectory) walk(base)
    else out += ((base.toUri.relativize(base.toUri).getPath, rootStatus))
    out.toSeq
  }

  /** The self-describing coherence stamp written beside a bloom index
    * (the `bloom` [[StampedArtifact]], hidden from the parquet reader):
    * enough to VERIFY the index against the live table
    * ([[bloomPrunedRead]]) and to REBUILD it without external knowledge
    * ([[compactFiles]]). `itemsPerFile`/`fpp` are the caller's DECLARED
    * params (what a rebuild re-runs with — the clamp re-derives);
    * `effItemsPerFile`/`effFpp` describe the sketch that was ACTUALLY
    * built after the [[effSketchParams]] clamps, so the stamp is honest
    * for auditing (-1 on stamps written before the eff fields existed). */
  case class BloomIndexMeta(column: String, itemsPerFile: Long,
                            fpp: Double, tableFp: String,
                            effItemsPerFile: Long = -1L,
                            effFpp: Double = -1.0)

  private val bloomStamp = StampedArtifact.bloom

  private def parseBloomIndexMeta(text: String): Option[BloomIndexMeta] = for {
    c <- StampJson.strField(text, "column")
    n <- StampJson.dblField(text, "items_per_file")
    f <- StampJson.dblField(text, "fpp")
    fp <- StampJson.strField(text, "table_fp")
  } yield BloomIndexMeta(c, n.toLong, f, fp,
    // optional: stamps written before r16 carry no eff fields
    effItemsPerFile = StampJson.dblField(text, "eff_items_per_file")
      .map(_.toLong).getOrElse(-1L),
    effFpp = StampJson.dblField(text, "eff_fpp").getOrElse(-1.0))

  /** Read an index's coherence stamp; None if the sidecar is absent
    * (an index not produced by [[writeBloomIndex]]) or unparseable. */
  def readBloomIndexMeta(fs: org.apache.hadoop.fs.FileSystem,
                         indexPath: org.apache.hadoop.fs.Path): Option[BloomIndexMeta] =
    bloomStamp.read(fs, indexPath).flatMap(parseBloomIndexMeta)

  /** Build [[bloomIndex]] and persist it as the table's side index,
    * stamped with the table's file-listing fingerprint so readers can
    * verify coherence ([[bloomPrunedRead]]) and maintenance can
    * rebuild it without external parameters ([[compactFiles]]). */
  def writeBloomIndex(spark: org.apache.spark.sql.SparkSession, tablePath: String,
                      indexPath: String, column: String,
                      itemsPerFile: Long = 1000000L, fpp: Double = 0.01): Unit = {
    // ONE walk (the fit window's first listing) serves the start
    // fingerprint, the output-file sizing, and the sketch sizing (a
    // redundant recursive listing is real driver time at 1M files —
    // r15 review); likewise ONE effSketchParams serves the build and
    // the stamp (its footer walk is metadata I/O worth not repeating).
    // The overwrite of `indexPath` removes any earlier stamp first.
    val (fp, (effItems, effFpp)) = bloomStamp.fitWindow(spark, tablePath, "build") { walk =>
      val eff = effSketchParams(spark, walk, itemsPerFile, fpp)
      // the sidecar has ONE row per data file — without a bound the
      // groupBy sprays those rows across shuffle-partition-count
      // near-empty files and every probe's index scan is
      // file-count-shaped (r14 scale probe: the probe leg grew 2.6× at
      // 10× on listing/open overhead alone). One index file per ~64 data
      // files keeps the probe scan flat, and a 1M-file 100 TB table
      // still gets a healthy ~16k-way index scan.
      val nIdxFiles = (walk.size / 64 + 1).min(10000)
      bloomIndexFrom(spark, tablePath, column, eff._1, eff._2)
        .coalesce(nIdxFiles)
        .write.mode("overwrite").parquet(indexPath)
      eff
    }
    // stamp BOTH the declared params (what a rebuild re-runs with) and
    // the effective clamped sizing the sketch was actually built at
    bloomStamp.write(spark, indexPath, StampJson.obj("column" -> column,
      "items_per_file" -> itemsPerFile, "fpp" -> fpp,
      "eff_items_per_file" -> effItems, "eff_fpp" -> effFpp, "table_fp" -> fp))
  }

  /**
   * Verify the side index at `indexPath` is coherent with the live
   * table BEFORE any scan is planned through it. Throws
   * IllegalStateException with a precise reason when the index (a) has
   * no coherence stamp, (b) indexes a different column than the lookup
   * asks for, or (c) is STALE — the table's data files changed since
   * the build (compaction, overwrite), so the file-granular sketches
   * name files that no longer exist or miss files that now do.
   * [[compactFiles]] rebuilds stamped sibling indexes automatically.
   */
  def verifyBloomIndex(spark: org.apache.spark.sql.SparkSession, tablePath: String,
                       indexPath: String, column: String): BloomIndexMeta = {
    val meta = bloomStamp.load(spark, indexPath, tablePath, "Layout.writeBloomIndex")(
      parseBloomIndexMeta)
    if (meta.column != column) throw new IllegalStateException(
      s"bloom index at $indexPath indexes column '${meta.column}', not '$column' — " +
        "wrong index for this lookup")
    bloomStamp.checkFresh(spark, indexPath, tablePath, meta.tableFp, Nil,
      "Layout.writeBloomIndex")
    meta
  }

  /** Data files whose sketches might contain ANY of `values`. Each
    * probe literal is CAST to the indexed column's own type before
    * hashing (the index stores min_val/max_val, so the type is in its
    * schema) — an Int probe against a LONG column must hash like the
    * build did, not silently prune every file away. The collect is one
    * row per SURVIVING file — metadata scale, the same class as a
    * partition listing. */
  def bloomPrunedFiles(spark: org.apache.spark.sql.SparkSession, indexPath: String,
                       values: Seq[Any]): Seq[String] = {
    require(values.nonEmpty, "bloomPrunedFiles needs at least one probe value")
    graft.functions.Registry.ensure(spark)
    val idx = spark.read.parquet(indexPath)
    val colType = idx.schema("min_val").dataType
    // min/max prunes BEFORE the bloom test: a value outside a file's
    // [min, max] cannot be in it, so the sketch never deserializes for
    // rows the cheap range check drops (correctness unchanged — the
    // bloom would also answer "maybe" only inside its file's rows)
    val pred = values.map { v =>
        val probe = lit(v).cast(colType)
        probe.between(col("min_val"), col("max_val")) &&
          call_function("bloom_bytes_might_contain", col("bloom"), xxhash64(probe))
      }
      .reduce(_ || _)
    idx.filter(pred)
      .select(col("file")).collect().map(_.getString(0)).toSeq
  }

  /** Point-lookup read through the index: verify the index is coherent
    * with the live table ([[verifyBloomIndex]] — a stale index fails
    * loudly BEFORE any scan), keep ONLY the files that might contain a
    * probe value, then apply the exact predicate (bloom positives are
    * candidates, not answers). Returns exactly
    * `SELECT * FROM table WHERE column IN (values)`. */
  def bloomPrunedRead(spark: org.apache.spark.sql.SparkSession, tablePath: String,
                      indexPath: String, column: String,
                      values: Seq[Any]): DataFrame = {
    verifyBloomIndex(spark, tablePath, indexPath, column)
    val files = bloomPrunedFiles(spark, indexPath, values)
    val base =
      if (files.isEmpty) spark.read.parquet(tablePath).limit(0)
      // basePath keeps hive-style partition columns resolvable when the
      // read names leaf files of a partitioned table directly
      else spark.read.option("basePath", tablePath).parquet(files: _*)
    base.filter(col(column).isin(values: _*))
  }
}
