package graft.ops

import graft.SparkTestBase
import org.apache.spark.sql.functions._

/** [[Layout]]: the Z-order key must equal a brute-force driver-side
  * bit interleave, clustering must preserve rows and produce compact
  * per-partition zval segments, and on a uniform grid the Z-layout
  * must prune strictly more files than the lexicographic layout for a
  * square box — the property the operator exists to deliver. */
class LayoutSpec extends SparkTestBase with graft.TempDirs {
  import spark.implicits._

  private def refInterleave(vals: Seq[Long], bits: Int): Long = {
    var z = 0L
    for (d <- vals.indices; b <- 0 until bits)
      z |= ((vals(d) >> b) & 1L) << (b * vals.size + d)
    z
  }

  test("zorderValue matches brute-force interleave of equi-width buckets") {
    val rows = for (x <- 0 until 40; y <- 0 until 25) yield (x.toLong, y.toLong)
    val df = rows.toDF("x", "y")
    val bits = 6
    val got = Layout.zorderValue(df, Seq("x", "y"), bits)
      .select("x", "y", "zval").collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    val cells = (1L << bits).toDouble
    def bucket(v: Long, mn: Double, mx: Double): Long =
      if (mx > mn) math.min((1L << bits) - 1,
        math.floor((v.toDouble - mn) * cells / (mx - mn)).toLong)
      else 0L
    rows.foreach { case (x, y) =>
      val want = refInterleave(Seq(bucket(x, 0, 39), bucket(y, 0, 24)), bits)
      assert(got((x, y)) == want, s"($x,$y)")
    }
  }

  test("equal dims share a zval; a constant dimension buckets to 0") {
    val df = Seq((5L, 7L, "a"), (5L, 7L, "b"), (9L, 7L, "c")).toDF("x", "y", "tag")
    val z = Layout.zorderValue(df, Seq("x", "y"), bits = 8)
      .select("tag", "zval").collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(z("a") == z("b"))
    // y is constant -> bucket 0 contributes nothing at odd bit positions
    val oddBits = (0 until 8).map(b => 1L << (2 * b + 1)).reduce(_ | _)
    assert((z("a") & oddBits) == 0L && (z("c") & oddBits) == 0L)
  }

  test("null and non-finite dimension values pin to cell 0, never null zval") {
    val df = Seq((Some(1.0), 3L), (None, 4L), (Some(Double.NaN), 5L),
      (Some(Double.PositiveInfinity), 6L), (Some(10.0), 7L))
      .toDF("x", "k")
    val z = Layout.zorderValue(df, Seq("x", "k"), bits = 4)
    assert(z.filter(col("zval").isNull).count() == 0)
    // x is dim 0 -> contributes the even bit positions; null/NaN/Inf
    // rows must bucket x to cell 0 (no even bits set)
    val evenBits = (0 until 4).map(b => 1L << (2 * b)).reduce(_ | _)
    val byK = z.select("k", "zval").collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    Seq(4L, 5L, 6L).foreach(k =>
      assert((byK(k) & evenBits) == 0L, s"k=$k x-cell not 0: ${byK(k)}"))
  }

  test("clusterByZorder preserves rows and yields sorted, compact partitions") {
    val rows = (0 until 2000).map(i => ((i * 37) % 500L, (i * 91) % 300L, i.toLong))
    val df = rows.toDF("x", "y", "id")
    val clustered = Layout.clusterByZorder(df, Seq("x", "y"), bits = 8, partitions = 4)
    assert(clustered.count() == 2000)
    assert(clustered.select("id").as[Long].collect().sorted.toSeq ==
      (0L until 2000L))
    // within every partition, zval is sorted; across partitions ranges are
    // disjoint up to boundary keys (RangePartitioner contract)
    val perPart = clustered.select(spark_partition_id().as("p"), col("zval"))
      .as[(Int, Long)].collect().groupBy(_._1).view
      .mapValues(_.map(_._2).toSeq).toMap
    perPart.values.foreach(zs => assert(zs == zs.sorted))
    val ranges = perPart.toSeq.sortBy(_._1).map(kv => (kv._2.min, kv._2.max))
    ranges.sliding(2).foreach {
      case Seq((_, hi1), (lo2, _)) => assert(hi1 <= lo2, s"overlap: $ranges")
      case _ =>
    }
  }

  test("fileAssignment is an equi-depth cut in (order, tie) order") {
    val df = (0 until 100).map(i => ((i * 13) % 100L, i.toLong)).toDF("v", "id")
    val assigned = Layout.fileAssignment(df, Seq("v"), Seq("id"), nFiles = 10)
    val got = assigned.select("v", "file_id").as[(Long, Long)].collect().sortBy(_._1)
    assert(got.map(_._2).toSeq == (0 until 100).map(i => (i / 10).toLong))
  }

  test("pruningReport: zorder prunes more than linear on a uniform grid") {
    // 64x64 grid, 64 files of 64 rows. A centered 16x16 box matches 256
    // rows; under Z-order those sit in a handful of curve segments,
    // under x-major order every x-stripe touching the box is hit.
    val rows = for (x <- 0 until 64; y <- 0 until 64) yield (x.toLong, y.toLong)
    val df = rows.toDF("x", "y").withColumn("id", col("x") * 64 + col("y"))
    val rep = Layout.pruningReport(df, Seq("x", "y"), Seq("id"),
      Seq(("x", 24.0, 39.0), ("y", 24.0, 39.0)), bits = 6, nFiles = 64)
      .collect().map(r => r.getString(0) ->
        (r.getLong(2), r.getLong(3), r.getLong(4))).toMap
    val (zHit, zRows, zMatch) = rep("zorder")
    val (lHit, lRows, lMatch) = rep("linear")
    assert(zMatch == 256 && lMatch == 256)
    assert(zHit < lHit, s"zorder files_hit $zHit should beat linear $lHit")
    assert(zRows < lRows)
  }

  test("compaction: adjacent small files merge to target-size bins, rows intact") {
    val dir = tempDir("graft-compact").toString
    val df = (0 until 4000).map(i => (i.toLong, s"row_$i")).toDF("id", "payload")
    df.repartitionByRange(40, col("id")).write.mode("overwrite").parquet(dir)
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    def parquetFiles = fs.listStatus(new org.apache.hadoop.fs.Path(dir)).toSeq
      .filter(s => s.isFile && s.getPath.getName.endsWith(".parquet"))
    val before = parquetFiles
    assert(before.size == 40)
    val target = before.map(_.getLen).sum / 5
    val plan = Layout.compactionPlan(spark, dir, target, smallBytes = target)
    assert(plan.nonEmpty && plan.forall(_.files.size > 1))
    assert(plan.forall(_.bytes <= target))
    // adjacency: each bin's files are consecutive in name order
    val names = before.map(_.getPath.getName).sorted
    plan.foreach { b =>
      val idxs = b.files.map(f => names.indexOf(f.split("/").last)).sorted
      assert(idxs == (idxs.head to idxs.last), s"bin ${b.bin} not adjacent")
    }
    val stats = Layout.compactFiles(spark, dir, target, smallBytes = target)
    assert(stats.binsCompacted == plan.size && stats.filesWritten == plan.size)
    val after = parquetFiles
    assert(after.size < before.size, s"${after.size} !< ${before.size}")
    // table contents unchanged
    val back = spark.read.parquet(dir)
    assert(back.count() == 4000)
    assert(back.agg(sum(col("id"))).head().getLong(0) == 4000L * 3999 / 2)
    // idempotent: a second pass finds (almost) nothing small left
    val plan2 = Layout.compactionPlan(spark, dir, target, smallBytes = target)
    assert(plan2.map(_.files.size).sum < plan.map(_.files.size).sum / 2)
  }

  test("compaction recovery: a crash between rename and deletes never duplicates rows") {
    val dir = tempDir("graft-compact-crash").toString
    val df = (0 until 1000).map(i => (i.toLong, s"row_$i")).toDF("id", "payload")
    df.repartitionByRange(10, col("id")).write.mode("overwrite").parquet(dir)
    val hDir = new org.apache.hadoop.fs.Path(dir)
    val fs = hDir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    def files = fs.listStatus(hDir).toSeq
      .filter(s => s.isFile && s.getPath.getName.endsWith(".parquet"))
      .map(_.getPath.getName).sorted
    // forge the post-rename pre-delete crash state for the first two
    // files: merged file live, manifest live, originals STILL live
    val members = files.take(2)
    val headBase = members.head.stripSuffix(".parquet")
    spark.read.parquet(members.map(m => s"$dir/$m"): _*).coalesce(1)
      .write.parquet(s"$dir/_compact_staging_crash")
    val part = fs.listStatus(new org.apache.hadoop.fs.Path(s"$dir/_compact_staging_crash"))
      .map(_.getPath).find(_.getName.endsWith(".parquet")).get
    assert(fs.rename(part, new org.apache.hadoop.fs.Path(hDir, s"$headBase-compact.parquet")))
    val man = fs.create(new org.apache.hadoop.fs.Path(hDir, s".$headBase-compact.manifest"), true)
    man.write(members.mkString("\n").getBytes("UTF-8")); man.close()
    // the crashed directory double-counts the two merged members
    assert(spark.read.parquet(dir).count() == 1000 + 200)
    // recovery (run implicitly by compactFiles before planning)
    val stats = Layout.compactFiles(spark, dir, targetBytes = Long.MaxValue / 2,
      smallBytes = 1L) // smallBytes=1: plan nothing, exercise recovery only
    assert(stats.binsCompacted == 0)
    val back = spark.read.parquet(dir)
    assert(back.count() == 1000, "recovery must delete the journaled originals")
    assert(back.agg(sum(col("id"))).head().getLong(0) == 1000L * 999 / 2)
    assert(!files.exists(members.contains), "originals must be gone")
    assert(files.contains(s"$headBase-compact.parquet"))
    // manifest and staging leftovers cleaned
    assert(fs.listStatus(hDir).forall(s => !s.getPath.getName.endsWith(".manifest")
      && !s.getPath.getName.startsWith("_compact_staging_")))
    // a manifest WITHOUT a published merged file rolls back harmlessly
    val man2 = fs.create(new org.apache.hadoop.fs.Path(hDir, ".nonexistent-compact.manifest"), true)
    man2.write(files.head.getBytes("UTF-8")); man2.close()
    assert(Layout.recoverCompaction(fs, hDir) == 0)
    assert(spark.read.parquet(dir).count() == 1000)
  }

  test("parquetStats reads real footers; range-partitioned ids are file-disjoint") {
    val dir = tempDir("graft-footers").toString + "/t"
    val df = (0 until 5000).map(i => (i.toLong, s"p_$i")).toDF("id", "payload")
    df.repartitionByRange(5, col("id")).sortWithinPartitions(col("id"))
      .write.parquet(dir)
    val stats = Layout.parquetStats(spark, dir).collect()
    val idStats = stats.filter(_.column == "id")
    assert(idStats.nonEmpty && idStats.map(_.n_values).sum == 5000L)
    assert(idStats.forall(_.n_nulls == 0L))
    // the footer min/max of a range-partitioned sorted write form
    // disjoint intervals — the physical evidence min-max pruning uses
    val ranges = idStats.map(s => (s.min_value.toLong, s.max_value.toLong))
      .sortBy(_._1)
    assert(ranges.length >= 4)
    ranges.sliding(2).foreach {
      case Array((_, hi1), (lo2, _)) => assert(hi1 < lo2, s"overlap: ${ranges.toSeq}")
      case _ =>
    }
    // string stats decode through parquet's own stringifier
    assert(stats.filter(_.column == "payload")
      .forall(s => s.min_value.startsWith("p_") && s.max_value.startsWith("p_")))
  }

  test("writeClustered produces files with near-disjoint zval segments") {
    val rows = (0 until 4096).map(i => ((i * 37) % 1024L, (i * 91) % 1024L, i.toLong))
    val dir = tempDir("graft-layout").toString
    Layout.writeClustered(rows.toDF("x", "y", "id"), dir, Seq("x", "y"),
      bits = 8, files = 8)
    val back = spark.read.parquet(dir)
    assert(back.count() == 4096 && !back.columns.contains("zval"))
    // re-derive each row's zval on the driver (x and y each cover
    // 0..1023 exactly, so the write-time equi-width bounds are known)
    // and check per-FILE ranges overlap at most at boundaries: the
    // written layout really is the clustered one
    def bucket(v: Long): Long =
      math.min(255L, math.floor(v.toDouble * 256.0 / 1023.0).toLong)
    val perFile = back.withColumn("f", input_file_name())
      .select("f", "x", "y").as[(String, Long, Long)].collect()
      .groupBy(_._1).view.mapValues { rs =>
        val zs = rs.map(r => refInterleave(Seq(bucket(r._2), bucket(r._3)), 8))
        (zs.min, zs.max)
      }.values.toSeq.sortBy(_._1)
    perFile.sliding(2).foreach {
      case Seq((_, hi1), (lo2, _)) => assert(hi1 <= lo2, s"overlap: $perFile")
      case _ =>
    }
  }

  test("bloom index: point lookups scan only might-contain files, results exact") {
    val tmp = tempDir("graft_bloomidx").toString
    // hash-partition by k: every file's (min,max) k-range overlaps all
    // others (footer stats prune NOTHING), but each k lives in exactly
    // one file — the bloom index's home turf
    val df = (0 until 20000).map(i => (i.toLong % 500, i.toLong)).toDF("k", "v")
    df.repartition(8, col("k")).write.parquet(s"$tmp/tbl")
    Layout.writeBloomIndex(spark, s"$tmp/tbl", s"$tmp/idx", "k",
      itemsPerFile = 10000L, fpp = 0.01)
    val idx = spark.read.parquet(s"$tmp/idx")
    assert(idx.count() == 8)
    assert(idx.columns.toSet == Set("file", "n_rows", "min_val", "max_val", "bloom"))
    // two probe keys -> at most 2 true files (+ tiny fp slack)
    val probes = Seq(7L, 123L)
    val files = Layout.bloomPrunedFiles(spark, s"$tmp/idx", probes)
    assert(files.nonEmpty && files.size <= 3, s"pruning failed: ${files.size} of 8 files")
    // exact result parity with the full-scan predicate
    val got = Layout.bloomPrunedRead(spark, s"$tmp/tbl", s"$tmp/idx", "k", probes)
      .select("k", "v").as[(Long, Long)].collect().toSet
    val want = spark.read.parquet(s"$tmp/tbl")
      .filter(col("k").isin(probes: _*))
      .select("k", "v").as[(Long, Long)].collect().toSet
    assert(got == want && got.size == 80)
    // absent key: definitely-absent files all pruned; result empty but typed
    val none = Layout.bloomPrunedRead(spark, s"$tmp/tbl", s"$tmp/idx", "k", Seq(99999L))
    assert(none.count() == 0 && none.columns.sameElements(Array("k", "v")))
    assert(Layout.bloomPrunedFiles(spark, s"$tmp/idx", Seq(99999L)).size <= 1) // fp slack
    // the stamp records BOTH the declared params and the EFFECTIVE
    // clamped sizing the sketch was actually built at (r15 advisory:
    // a stamp carrying only declared values misdescribes a clamped
    // build). 20000 rows over 8 files -> effItems is the real
    // rows-per-file max, well under the declared 10000.
    val fs = new org.apache.hadoop.fs.Path(s"$tmp/idx")
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val meta = Layout.readBloomIndexMeta(fs, new org.apache.hadoop.fs.Path(s"$tmp/idx")).get
    assert(meta.itemsPerFile == 10000L && meta.fpp == 0.01)
    assert(meta.effItemsPerFile > 0 && meta.effItemsPerFile < 10000L,
      s"eff items not clamped to footer reality: ${meta.effItemsPerFile}")
    assert(meta.effFpp > 0 && meta.effFpp <= meta.fpp, s"eff fpp: ${meta.effFpp}")
  }

  test("bloom index coherence: compaction under a live index rebuilds it, reads stay exact") {
    val tmp = tempDir("graft_bloomcoh").toString
    val tbl = s"$tmp/tbl"
    val idx = s"$tmp/tbl_bloomidx_k" // the Writers sibling convention
    val df = (0 until 8000).map(i => (i.toLong % 200, i.toLong)).toDF("k", "v")
    df.repartition(16, col("k")).write.parquet(tbl)
    Layout.writeBloomIndex(spark, tbl, idx, "k", itemsPerFile = 10000L, fpp = 0.01)
    val probes = Seq(7L, 123L)
    val before = Layout.bloomPrunedRead(spark, tbl, idx, "k", probes)
      .select("k", "v").as[(Long, Long)].collect().toSet
    assert(before.size == 80)
    // merge everything into big bins — every data file is renamed away
    val total = new org.apache.hadoop.fs.Path(tbl)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
      .getContentSummary(new org.apache.hadoop.fs.Path(tbl)).getLength
    val stats = Layout.compactFiles(spark, tbl, targetBytes = total,
      smallBytes = total)
    assert(stats.binsCompacted > 0)
    assert(stats.indexesRebuilt == 1, s"sibling index not rebuilt: $stats")
    // the read verifies coherence and must return the same exact rows
    val after = Layout.bloomPrunedRead(spark, tbl, idx, "k", probes)
      .select("k", "v").as[(Long, Long)].collect().toSet
    assert(after == before)
    // the rebuilt index is file-granular over the NEW listing
    val files = Layout.bloomPrunedFiles(spark, idx, probes)
    files.foreach(f => assert(f.contains("-compact"), s"stale file ref: $f"))
  }

  test("bloom index coherence: out-of-band rewrite fails loudly BEFORE scanning") {
    val tmp = tempDir("graft_bloomstale").toString
    val tbl = s"$tmp/tbl"
    val idx = s"$tmp/standalone_idx" // NOT the sibling convention: no auto-rebuild
    val df = (0 until 2000).map(i => (i.toLong % 50, i.toLong)).toDF("k", "v")
    df.repartition(4, col("k")).write.parquet(tbl)
    Layout.writeBloomIndex(spark, tbl, idx, "k", itemsPerFile = 1000L, fpp = 0.01)
    // out-of-band rewrite: different partitioning, index never told
    df.repartition(2, col("v")).write.mode("overwrite").parquet(tbl)
    val e = intercept[IllegalStateException](
      Layout.bloomPrunedRead(spark, tbl, idx, "k", Seq(7L)))
    assert(e.getMessage.contains("STALE"), e.getMessage)
    assert(e.getMessage.contains("writeBloomIndex"), e.getMessage)
    // the named recovery heals it
    Layout.writeBloomIndex(spark, tbl, idx, "k", itemsPerFile = 1000L, fpp = 0.01)
    assert(Layout.bloomPrunedRead(spark, tbl, idx, "k", Seq(7L)).count() == 40)
  }

  test("bloom index coherence: stampless or wrong-column index rejected with a reason") {
    val tmp = tempDir("graft_bloommeta").toString
    val (tbl, idx) = (s"$tmp/tbl", s"$tmp/idx")
    (0 until 500).map(i => (i.toLong % 20, i.toLong)).toDF("k", "v")
      .repartition(2, col("k")).write.parquet(tbl)
    Layout.writeBloomIndex(spark, tbl, idx, "k", itemsPerFile = 1000L)
    val fs = new org.apache.hadoop.fs.Path(idx)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    // wrong column for this lookup
    val eCol = intercept[IllegalStateException](
      Layout.bloomPrunedRead(spark, tbl, idx, "v", Seq(3L)))
    assert(eCol.getMessage.contains("indexes column 'k'"), eCol.getMessage)
    // stampless (meta sidecar removed out-of-band)
    fs.delete(new org.apache.hadoop.fs.Path(idx, "_graft_index_meta.json"), false)
    val eMeta = intercept[IllegalStateException](
      Layout.bloomPrunedRead(spark, tbl, idx, "k", Seq(3L)))
    assert(eMeta.getMessage.contains("coherence stamp"), eMeta.getMessage)
  }

  test("bloom index: Int probes against a LONG column hash like the build (typed cast)") {
    val tmp = tempDir("graft_bloomtype").toString
    val (tbl, idx) = (s"$tmp/tbl", s"$tmp/idx")
    (0 until 2000).map(i => (i.toLong % 50, i.toLong)).toDF("k", "v")
      .repartition(4, col("k")).write.parquet(tbl)
    Layout.writeBloomIndex(spark, tbl, idx, "k", itemsPerFile = 1000L)
    // Int probes on the LONG column: the untyped-literal hash would
    // differ from the build and silently prune every file away
    val got = Layout.bloomPrunedRead(spark, tbl, idx, "k", Seq(7, 19))
      .select("k", "v").as[(Long, Long)].collect().toSet
    assert(got.size == 80, s"typed-cast probe lost rows: ${got.size}")
    assert(got.forall { case (k, _) => k == 7L || k == 19L })
  }
}
