package graft.ops

import graft.SparkTestBase
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/**
 * [[AnnIndex.appendIvfIndex]] / [[AnnIndex.compactIvfIndex]]: the
 * append lifecycle a growing corpus needs — new vectors join the
 * FROZEN cells, the stamp records every delta part, probes stay
 * coherence-guarded, drift refuses loudly, and compaction rewrites
 * files without changing a single probe row. The equivalence anchor
 * is the nprobe = nlist contract: with every cell probed, assignment
 * cannot affect results, so an appended index must return EXACTLY the
 * rows of a full rebuild (q_llm_ann_append_check pins the same thing
 * against the DuckDB-oracled count at corpus scale).
 */
class AnnIndexAppendSpec extends SparkTestBase with graft.TempDirs {
  import spark.implicits._

  private val dims = 4
  private val nlist = 2

  /** Two well-separated blobs so the 2-cell quantizer is stable; the
    * jitter depends on id only mod small primes, so delta ids (100+)
    * draw from the SAME distribution as the base — no genuine drift. */
  private def vec(id: Long, blob: Int): (Long, Seq[Double]) = {
    val c = if (blob == 0) 0.0 else 10.0
    (id, Seq(c + 0.01 * (id % 7), c - 0.02 * (id % 5), c + 0.5, 1.0))
  }

  private def mkTable(rows: Seq[(Long, Seq[Double])]): String = {
    val dir = tempDir("graft_annapp_tbl").toString
    rows.toDF("vec_id", "embedding").repartition(2)
      .write.mode("overwrite").parquet(dir)
    dir
  }

  private val baseRows = (1L to 20L).map(i => vec(i, (i % 2).toInt))
  private val deltaRows = (101L to 110L).map(i => vec(i, (i % 2).toInt))

  private def topk(queries: DataFrame, tbl: String, idx: String): Set[(Long, Long, Int)] = {
    val out = AnnIndex.ivfLookupIndexed(spark, queries, tbl, idx,
        k = 3, nprobe = nlist, excludeSelf = true)
      .select(col("qid"), col("nid"), col("rank"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    CachedRelations.releaseAll()
    out
  }

  test("append refuses an unstamped path (no silent v0 restart) and a repeat delta") {
    val base = mkTable(baseRows)
    val delta = mkTable(deltaRows)
    val idx = tempDir("graft_annapp_v0").toString
    val e0 = intercept[IllegalStateException] {
      AnnIndex.appendIvfIndex(spark, spark.read.parquet(delta), delta, idx, base)
    }
    assert(e0.getMessage.contains("no silent v0 restart"), e0.getMessage)
    AnnIndex.writeIvfIndex(spark, spark.read.parquet(base), base, idx,
      "vec_id", "embedding", dims, nlist)
    AnnIndex.appendIvfIndex(spark, spark.read.parquet(delta), delta, idx, base)
    val e1 = intercept[IllegalArgumentException] {
      AnnIndex.appendIvfIndex(spark, spark.read.parquet(delta), delta, idx, base)
    }
    assert(e1.getMessage.contains("already part"), e1.getMessage)
  }

  test("appended index == full rebuild at nprobe = nlist; stamp carries the part") {
    val base = mkTable(baseRows)
    val delta = mkTable(deltaRows)
    val full = mkTable(baseRows ++ deltaRows)
    val idxA = tempDir("graft_annapp_a").toString
    val idxR = tempDir("graft_annapp_r").toString
    AnnIndex.writeIvfIndex(spark, spark.read.parquet(base), base, idxA,
      "vec_id", "embedding", dims, nlist)
    AnnIndex.appendIvfIndex(spark, spark.read.parquet(delta), delta, idxA, base)
    AnnIndex.writeIvfIndex(spark, spark.read.parquet(full), full, idxR,
      "vec_id", "embedding", dims, nlist)
    val meta = AnnIndex.readMeta(spark, idxA).get
    assert(meta.version == 1 && meta.parts.map(_._1) == Seq(delta),
      s"stamp must record the appended part, got $meta")
    val queries = spark.read.parquet(full)
    assert(topk(queries, base, idxA) == topk(queries, full, idxR),
      "appended index diverged from a full rebuild at nprobe = nlist")
    // every appended row is also findable as a neighbor source
    assert(topk(queries, base, idxA).exists(_._1 > 100L))
  }

  test("a mutated delta (or base) after append fails STALE at probe time") {
    val base = mkTable(baseRows)
    val delta = mkTable(deltaRows)
    val idx = tempDir("graft_annapp_st").toString
    AnnIndex.writeIvfIndex(spark, spark.read.parquet(base), base, idx,
      "vec_id", "embedding", dims, nlist)
    AnnIndex.appendIvfIndex(spark, spark.read.parquet(delta), delta, idx, base)
    Seq(vec(999L, 0)).toDF("vec_id", "embedding")
      .write.mode("append").parquet(delta)
    val e = intercept[IllegalStateException] {
      AnnIndex.ivfLookupIndexed(spark, spark.read.parquet(base), base, idx,
        k = 3, nprobe = nlist)
    }
    assert(e.getMessage.contains("STALE") && e.getMessage.contains(delta),
      e.getMessage)
  }

  test("drift guard: a delta far from the fitted cells refuses with a rebuild hint") {
    val base = mkTable(baseRows)
    val far = mkTable((201L to 210L).map(i => (i, Seq(5000.0 + i, -5000.0, 777.0, 1.0))))
    val idx = tempDir("graft_annapp_dr").toString
    AnnIndex.writeIvfIndex(spark, spark.read.parquet(base), base, idx,
      "vec_id", "embedding", dims, nlist)
    val e = intercept[IllegalStateException] {
      AnnIndex.appendIvfIndex(spark, spark.read.parquet(far), far, idx, base)
    }
    assert(e.getMessage.contains("DRIFT") && e.getMessage.contains("rebuild"),
      e.getMessage)
    // the refused index is untouched and still verifies
    assert(AnnIndex.verify(spark, base, idx, "ivf").version == 0)
    // an explicit driftFactor override admits it (the caller's call)
    AnnIndex.appendIvfIndex(spark, spark.read.parquet(far), far, idx, base,
      driftFactor = 1e12)
    assert(AnnIndex.verify(spark, base, idx, "ivf").version == 1)
  }

  test("compaction: probe rows identical, fewer code files, stamp parts preserved") {
    val base = mkTable(baseRows)
    val d1 = mkTable(deltaRows)
    val d2 = mkTable((301L to 310L).map(i => vec(i, (i % 2).toInt)))
    val idx = tempDir("graft_annapp_cp").toString
    AnnIndex.writeIvfIndex(spark, spark.read.parquet(base), base, idx,
      "vec_id", "embedding", dims, nlist)
    AnnIndex.appendIvfIndex(spark, spark.read.parquet(d1), d1, idx, base)
    AnnIndex.appendIvfIndex(spark, spark.read.parquet(d2), d2, idx, base)
    val queries = spark.read.parquet(base)
    val before = topk(queries, base, idx)
    def nFiles: Int = {
      val fs = new org.apache.hadoop.fs.Path(idx)
        .getFileSystem(spark.sparkContext.hadoopConfiguration)
      val it = fs.listFiles(new org.apache.hadoop.fs.Path(s"$idx/codes"), true)
      var n = 0
      while (it.hasNext) { if (it.next().getPath.getName.endsWith(".parquet")) n += 1 }
      n
    }
    val filesBefore = nFiles
    AnnIndex.compactIvfIndex(spark, idx, base)
    val meta = AnnIndex.readMeta(spark, idx).get
    assert(meta.version == 3 && meta.parts.map(_._1) == Seq(d1, d2),
      s"compaction must preserve the part list, got $meta")
    assert(nFiles < filesBefore,
      s"compaction must reduce code files ($filesBefore -> $nFiles)")
    assert(nFiles <= nlist, s"expected one file per cell, got $nFiles")
    assert(topk(queries, base, idx) == before,
      "compaction changed probe results")
  }

  test("duplicate delta ids each land in the codes (append == rebuild needs every row)") {
    // a per-id window in the assignment used to collapse these
    // silently (r14 review finding); the row-local cellRank keeps them
    val base = mkTable(baseRows)
    val dupDelta = deltaRows ++ Seq(vec(105L, 1), vec(105L, 1)) // 105 three times
    val delta = mkTable(dupDelta)
    val full = mkTable(baseRows ++ dupDelta)
    val idxA = tempDir("graft_annapp_dup_a").toString
    val idxR = tempDir("graft_annapp_dup_r").toString
    AnnIndex.writeIvfIndex(spark, spark.read.parquet(base), base, idxA,
      "vec_id", "embedding", dims, nlist)
    AnnIndex.appendIvfIndex(spark, spark.read.parquet(delta), delta, idxA, base)
    val nCodes = spark.read.parquet(s"$idxA/codes").count()
    assert(nCodes == baseRows.size + dupDelta.size,
      s"every delta row must be indexed incl. duplicates: $nCodes codes for " +
        s"${baseRows.size}+${dupDelta.size} rows")
    AnnIndex.writeIvfIndex(spark, spark.read.parquet(full), full, idxR,
      "vec_id", "embedding", dims, nlist)
    val queries = spark.read.parquet(base)
    assert(topk(queries, base, idxA) == topk(queries, full, idxR),
      "appended index with duplicate ids diverged from a full rebuild")
  }

  test("a delta path containing ']' survives the stamp part list (parse robustness)") {
    val base = mkTable(baseRows)
    val delta = tempDir("graft_annapp_br]k").toString
    deltaRows.toDF("vec_id", "embedding").repartition(1)
      .write.mode("overwrite").parquet(delta)
    val idx = tempDir("graft_annapp_brk_idx").toString
    AnnIndex.writeIvfIndex(spark, spark.read.parquet(base), base, idx,
      "vec_id", "embedding", dims, nlist)
    AnnIndex.appendIvfIndex(spark, spark.read.parquet(delta), delta, idx, base)
    val meta = AnnIndex.readMeta(spark, idx).get
    assert(meta.parts.map(_._1) == Seq(delta),
      s"a bracketed path must round-trip the part list, got ${meta.parts}")
    // the part's staleness check must still fire (a truncated parse
    // would silently return Nil and skip it — r14 review finding)
    Seq(vec(999L, 0)).toDF("vec_id", "embedding")
      .write.mode("append").parquet(delta)
    val e = intercept[IllegalStateException] {
      AnnIndex.verify(spark, base, idx, "ivf")
    }
    assert(e.getMessage.contains("STALE"), e.getMessage)
  }

  test("cellRank (append assignment) ranks cells EXACTLY like probeCells (probe path)") {
    // the metric lives in two formulations for measured reasons
    // (row-local HOF for the dedup-sensitive one-time append; codegen
    // explode+window for query-volume probes) — this is the pin that
    // keeps them from desynchronizing
    import org.apache.spark.sql.functions.{col, element_at}
    val cents = Array(
      Array(0.0, 0.0, 0.5, 1.0), Array(10.0, 10.0, 10.5, 1.0),
      Array(-3.0, 7.0, 0.0, 2.0))
    val vecs = (1L to 40L).map(i => (i, Seq(
      (i % 11).toDouble - 5.0, (i % 7).toDouble, (i % 13).toDouble - 6.0, 1.0)))
    val q = vecs.toDF("qid", "qv")
    val viaRank = q.select(col("qid"),
        element_at(Similarity.cellRank(col("qv"), cents), 1).getField("ci").as("cell"))
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    val viaProbe = Similarity.probeCells(q, cents, nprobe = 1)
      .select(col("qid"), col("cell"))
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(viaRank == viaProbe, s"cellRank != probeCells: $viaRank vs $viaProbe")
  }

  test("binary append: appended index == rebuild exactly (no fitted state at all)") {
    import org.apache.spark.sql.functions.col
    val base = mkTable(baseRows)
    val delta = mkTable(deltaRows)
    val full = mkTable(baseRows ++ deltaRows)
    val idxA = tempDir("graft_annapp_bin_a").toString
    val idxR = tempDir("graft_annapp_bin_r").toString
    // no silent v0 restart applies here too (shared guard)
    intercept[IllegalStateException] {
      AnnIndex.appendBinaryIndex(spark, spark.read.parquet(delta), delta, idxA, base)
    }
    AnnIndex.writeBinaryIndex(spark, spark.read.parquet(base), base, idxA,
      "vec_id", "embedding", dims)
    AnnIndex.appendBinaryIndex(spark, spark.read.parquet(delta), delta, idxA, base)
    AnnIndex.writeBinaryIndex(spark, spark.read.parquet(full), full, idxR,
      "vec_id", "embedding", dims)
    val meta = AnnIndex.readMeta(spark, idxA).get
    assert(meta.version == 1 && meta.parts.map(_._1) == Seq(delta))
    val corpus = spark.read.parquet(full)
    val queries = corpus.filter(col("vec_id") <= 6L)
    def probe(tbl: String, idx: String) =
      AnnIndex.binaryLookupIndexed(spark, queries, corpus, tbl, idx,
          k = 3, rerank = 8, rerankFrac = 0.3)
        .select(col("qid"), col("nid"), col("rank"))
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    assert(probe(base, idxA) == probe(full, idxR),
      "appended binary index diverged from a full rebuild")
  }

  test("pq append: frozen codebooks, appended == rebuild at exhaustive probe settings") {
    val m = 2; val ksub = 4
    val base = mkTable(baseRows)
    val delta = mkTable(deltaRows)
    val full = mkTable(baseRows ++ deltaRows)
    val idxA = tempDir("graft_annapp_pq_a").toString
    val idxR = tempDir("graft_annapp_pq_r").toString
    AnnIndex.writePqIndex(spark, spark.read.parquet(base), base, idxA,
      "vec_id", "embedding", dims, nlist, m, ksub)
    AnnIndex.appendPqIndex(spark, spark.read.parquet(delta), delta, idxA, base)
    AnnIndex.writePqIndex(spark, spark.read.parquet(full), full, idxR,
      "vec_id", "embedding", dims, nlist, m, ksub)
    val meta = AnnIndex.readMeta(spark, idxA).get
    assert(meta.version == 1 && meta.parts.map(_._1) == Seq(delta))
    val corpus = spark.read.parquet(full)
    // nprobe = nlist and a rerank set covering every candidate: the
    // (frozen vs refit) quantizers cannot drop anything; the exact
    // re-rank decides alone
    def probe(tbl: String, idx: String) =
      AnnIndex.pqTopKIndexed(spark, corpus, tbl, idx,
          k = 3, nprobe = nlist, rerankFactor = 1000)
        .collect().map(r => (r.getAs[Long]("qid"), r.getAs[Long]("nid"),
          r.getAs[Int]("rank"))).toSet
    assert(probe(base, idxA) == probe(full, idxR),
      "appended pq index diverged from a full rebuild at exhaustive settings")
    // drift guard fires on a far delta (baseline sampled from the
    // stamped TABLE — pq codes carry no float vectors)
    val far = mkTable((401L to 410L).map(i => (i, Seq(9e3 + i, -9e3, 42.0, 1.0))))
    val e = intercept[IllegalStateException] {
      AnnIndex.appendPqIndex(spark, spark.read.parquet(far), far, idxA, base)
    }
    assert(e.getMessage.contains("DRIFT"), e.getMessage)
  }

  test("pq compaction: probe rows identical, fewer code files, parts preserved") {
    val m = 2; val ksub = 4
    val base = mkTable(baseRows)
    val d1 = mkTable(deltaRows)
    val d2 = mkTable((301L to 310L).map(i => vec(i, (i % 2).toInt)))
    val idx = tempDir("graft_annapp_pqcp").toString
    AnnIndex.writePqIndex(spark, spark.read.parquet(base), base, idx,
      "vec_id", "embedding", dims, nlist, m, ksub)
    AnnIndex.appendPqIndex(spark, spark.read.parquet(d1), d1, idx, base)
    AnnIndex.appendPqIndex(spark, spark.read.parquet(d2), d2, idx, base)
    val corpus = spark.read.parquet(mkTable(baseRows ++ deltaRows))
    def probe() = AnnIndex.pqTopKIndexed(spark, corpus, base, idx,
        k = 3, nprobe = nlist, rerankFactor = 1000)
      .collect().map(r => (r.getAs[Long]("qid"), r.getAs[Long]("nid"),
        r.getAs[Int]("rank"))).toSet
    val before = probe()
    def nFiles: Int = {
      val fs = new org.apache.hadoop.fs.Path(idx)
        .getFileSystem(spark.sparkContext.hadoopConfiguration)
      val it = fs.listFiles(new org.apache.hadoop.fs.Path(s"$idx/codes"), true)
      var n = 0
      while (it.hasNext) { if (it.next().getPath.getName.endsWith(".parquet")) n += 1 }
      n
    }
    val filesBefore = nFiles
    AnnIndex.compactPqIndex(spark, idx, base)
    val meta = AnnIndex.readMeta(spark, idx).get
    assert(meta.version == 3 && meta.parts.map(_._1) == Seq(d1, d2),
      s"pq compaction must preserve the part list, got $meta")
    assert(nFiles < filesBefore && nFiles <= nlist,
      s"pq compaction must land one file per cell ($filesBefore -> $nFiles)")
    assert(probe() == before, "pq compaction changed probe results")
  }

  test("binary compaction: probe rows identical, bounded file count") {
    import org.apache.spark.sql.functions.col
    val base = mkTable(baseRows)
    val d1 = mkTable(deltaRows)
    val d2 = mkTable((301L to 310L).map(i => vec(i, (i % 2).toInt)))
    val idx = tempDir("graft_annapp_bincp").toString
    AnnIndex.writeBinaryIndex(spark, spark.read.parquet(base), base, idx,
      "vec_id", "embedding", dims)
    AnnIndex.appendBinaryIndex(spark, spark.read.parquet(d1), d1, idx, base)
    AnnIndex.appendBinaryIndex(spark, spark.read.parquet(d2), d2, idx, base)
    val corpus = spark.read.parquet(mkTable(baseRows ++ deltaRows))
    val queries = corpus.filter(col("vec_id") <= 6L)
    def probe() = AnnIndex.binaryLookupIndexed(spark, queries, corpus, base, idx,
        k = 3, rerank = 8, rerankFrac = 0.3)
      .select(col("qid"), col("nid"), col("rank"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    val before = probe()
    def nFiles: Int = {
      val fs = new org.apache.hadoop.fs.Path(idx)
        .getFileSystem(spark.sparkContext.hadoopConfiguration)
      val it = fs.listFiles(new org.apache.hadoop.fs.Path(s"$idx/codes"), true)
      var n = 0
      while (it.hasNext) { if (it.next().getPath.getName.endsWith(".parquet")) n += 1 }
      n
    }
    val filesBefore = nFiles
    AnnIndex.compactBinaryIndex(spark, idx, base)
    val meta = AnnIndex.readMeta(spark, idx).get
    assert(meta.version == 3 && meta.parts.map(_._1) == Seq(d1, d2))
    assert(nFiles < filesBefore && nFiles == 1,
      s"tiny binary codes must compact to one file ($filesBefore -> $nFiles)")
    assert(probe() == before, "binary compaction changed probe results")
  }

  test("lsh: persisted probe == in-session lshTopK; append == rebuild; compaction stable") {
    import org.apache.spark.sql.functions.col
    val base = mkTable(baseRows)
    val delta = mkTable(deltaRows)
    val full = mkTable(baseRows ++ deltaRows)
    val idxA = tempDir("graft_annapp_lsh_a").toString
    val idxR = tempDir("graft_annapp_lsh_r").toString
    // shared guard: no silent v0 restart
    intercept[IllegalStateException] {
      AnnIndex.appendLshIndex(spark, spark.read.parquet(delta), delta, idxA, base)
    }
    AnnIndex.writeLshIndex(spark, spark.read.parquet(base), base, idxA,
      "vec_id", "embedding", dims, planes = 4, tables = 3)
    // vecTbl covers the INDEX CONTENTS (base ∪ appended parts) — the
    // rerank fetches vectors from the caller's view of the stamped
    // files, which after an append includes every part (the same
    // convention the pq/binary append checks use)
    def loadedPairs(vecTbl: String, tblPath: String, idx: String) = {
      val corpus = spark.read.parquet(vecTbl)
      AnnIndex.lshTopKIndexed(spark, corpus, tblPath, idx, k = 3)
        .select(col("qid"), col("nid"), col("rank"))
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    }
    // loaded == in-session row-exactly (no fitted state: the persisted
    // buckets ARE the deterministic hyperplane values lshTopK computes)
    val inSession = Similarity.lshTopK(spark.read.parquet(base),
        "vec_id", "embedding", dims, k = 3, planes = 4, tables = 3)
      .select(col("qid"), col("nid"), col("rank"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    CachedRelations.releaseAll()
    assert(loadedPairs(base, base, idxA) == inSession,
      "loaded lsh probe diverged from the in-session build")
    // appended == rebuild EXACTLY at every operating point
    AnnIndex.appendLshIndex(spark, spark.read.parquet(delta), delta, idxA, base)
    AnnIndex.writeLshIndex(spark, spark.read.parquet(full), full, idxR,
      "vec_id", "embedding", dims, planes = 4, tables = 3)
    val meta = AnnIndex.readMeta(spark, idxA).get
    assert(meta.version == 1 && meta.parts.map(_._1) == Seq(delta) &&
      meta.planes == 4 && meta.tables == 3, s"stamp must carry lsh geometry: $meta")
    assert(loadedPairs(full, base, idxA) == loadedPairs(full, full, idxR),
      "appended lsh index diverged from a full rebuild")
    // compaction: row-identity + bounded file count
    val before = loadedPairs(full, base, idxA)
    AnnIndex.compactLshIndex(spark, idxA, base)
    val fs = new org.apache.hadoop.fs.Path(idxA)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val it = fs.listFiles(new org.apache.hadoop.fs.Path(s"$idxA/codes"), true)
    var n = 0
    while (it.hasNext) { if (it.next().getPath.getName.endsWith(".parquet")) n += 1 }
    assert(n == 1, s"tiny lsh codes must compact to one file, got $n")
    assert(AnnIndex.readMeta(spark, idxA).get.version == 2)
    assert(loadedPairs(full, base, idxA) == before, "lsh compaction changed probe results")
  }

  test("a death window mid-append leaves a loudly unverifiable index") {
    val base = mkTable(baseRows)
    val delta = mkTable(deltaRows)
    val idx = tempDir("graft_annapp_dd").toString
    AnnIndex.writeIvfIndex(spark, spark.read.parquet(base), base, idx,
      "vec_id", "embedding", dims, nlist)
    AnnIndex.appendIvfIndex(spark, spark.read.parquet(delta), delta, idx, base)
    // simulate the mid-lifecycle death: stamp dropped (as append does
    // FIRST), codes half-appended — verification must refuse
    val fs = new org.apache.hadoop.fs.Path(idx)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(fs.delete(new org.apache.hadoop.fs.Path(idx, "_graft_ann_meta.json"), false))
    val e = intercept[IllegalStateException] {
      AnnIndex.ivfLookupIndexed(spark, spark.read.parquet(base), base, idx,
        k = 3, nprobe = nlist)
    }
    assert(e.getMessage.contains("no _graft_ann_meta.json"))
  }
}
