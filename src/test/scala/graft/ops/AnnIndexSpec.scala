package graft.ops

import graft.SparkTestBase
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/**
 * [[AnnIndex]]: a loaded-index probe must return EXACTLY the rows of
 * its in-session twin (same seeded fit persisted, centroids/codebooks
 * round-tripping bit-exactly through parquet), and the coherence
 * lifecycle must fail loudly on a stale/unstamped/wrong-kind index
 * and heal on rebuild — the bloom side-index contract applied to the
 * ANN family.
 */
class AnnIndexSpec extends SparkTestBase with graft.TempDirs {
  import spark.implicits._

  private val dims = 8

  /** Deterministic synthetic embeddings written to a fresh table dir. */
  private def mkTable(n: Int): (String, DataFrame) = {
    val dir = tempDir("graft_annidx_tbl").toString
    val rows = (0 until n).map { id =>
      (id.toLong, (0 until dims).map(i => math.sin(id * 31.0 + i * 7.0)))
    }
    rows.toDF("vec_id", "embedding").repartition(3)
      .write.mode("overwrite").parquet(dir)
    (dir, spark.read.parquet(dir))
  }

  private def pairs(df: DataFrame): Set[(Long, Long, Int, Double)] =
    df.select(col("qid"), col("nid"), col("rank"), col("cos")).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getDouble(3))).toSet

  test("ivf: loaded-index lookup is row-exact vs the in-session fit (both shapes)") {
    val (tbl, table) = mkTable(120)
    val idx = tempDir("graft_annidx_ivf").toString
    AnnIndex.writeIvfIndex(spark, table, tbl, idx, "vec_id", "embedding",
      dims, nlist = 4)
    val queries = table.filter(col("vec_id") < 15)
    val loaded = pairs(AnnIndex.ivfLookupIndexed(spark, queries, tbl, idx,
      k = 3, nprobe = 2))
    val twin = pairs(Similarity.ivfLookup(queries, table, "vec_id", "embedding",
      dims, k = 3, nlist = 4, nprobe = 2))
    assert(loaded == twin, "loaded ivf lookup != in-session ivfLookup")
    // self shape: excludeSelf=true over the full table == ivfTopK
    val loadedSelf = pairs(AnnIndex.ivfLookupIndexed(spark, table, tbl, idx,
      k = 3, nprobe = 2, excludeSelf = true))
    val twinSelf = pairs(Similarity.ivfTopK(table, "vec_id", "embedding",
      dims, k = 3, nlist = 4, nprobe = 2))
    assert(loadedSelf == twinSelf, "loaded self-probe != in-session ivfTopK")
  }

  test("pq: loaded centroids+codebooks+codes are row-exact vs ivfPqTopK") {
    val (tbl, table) = mkTable(120)
    val idx = tempDir("graft_annidx_pq").toString
    AnnIndex.writePqIndex(spark, table, tbl, idx, "vec_id", "embedding",
      dims, nlist = 2, m = 2, ksub = 4)
    val loaded = pairs(AnnIndex.pqTopKIndexed(spark, table, tbl, idx,
      k = 3, nprobe = 2, rerankFactor = 4))
    val twin = pairs(Similarity.ivfPqTopK(table, "vec_id", "embedding",
      dims, k = 3, nlist = 2, nprobe = 2, m = 2, ksub = 4, rerankFactor = 4))
    assert(loaded == twin, "loaded pq probe != in-session ivfPqTopK")
  }

  test("binary: loaded bits are row-exact vs binaryTopK incl. rerankFrac scaling") {
    val (tbl, table) = mkTable(150)
    val idx = tempDir("graft_annidx_bin").toString
    AnnIndex.writeBinaryIndex(spark, table, tbl, idx, "vec_id", "embedding", dims)
    val queries = table.filter(col("vec_id") < 12)
    val loaded = pairs(AnnIndex.binaryLookupIndexed(spark, queries, table, tbl, idx,
      k = 3, rerank = 10, rerankFrac = 0.1))
    val twin = pairs(Similarity.binaryTopK(queries, table, "vec_id", "embedding",
      dims, k = 3, rerank = 10, rerankFrac = 0.1))
    assert(loaded == twin, "loaded binary probe != in-session binaryTopK")
  }

  test("binary: null vectors are not candidates on either path (twin stays exact)") {
    val (tbl, _) = mkTable(60)
    // append a null-embedding row to the TABLE FILES so both the index
    // build and the in-session pass see it
    import spark.implicits._
    Seq((999L, null: Seq[Double])).toDF("vec_id", "embedding")
      .write.mode("append").parquet(tbl)
    val table = spark.read.parquet(tbl)
    val idx = tempDir("graft_annidx_binnull").toString
    AnnIndex.writeBinaryIndex(spark, table, tbl, idx, "vec_id", "embedding", dims)
    val queries = table.filter(col("vec_id") < 8 || col("vec_id") === 999L)
    val loaded = pairs(AnnIndex.binaryLookupIndexed(spark, queries, table, tbl, idx,
      k = 3, rerank = 5))
    val twin = pairs(Similarity.binaryTopK(queries, table, "vec_id", "embedding",
      dims, k = 3, rerank = 5))
    assert(loaded == twin, "null-vector corpus broke the loaded/in-session twin")
    // the null row is neither a query nor a neighbor anywhere
    assert(!loaded.exists(p => p._1 == 999L || p._2 == 999L))
    intercept[IllegalArgumentException] {
      AnnIndex.binaryLookupIndexed(spark, queries, table, tbl, idx,
        k = 3, rerank = 5, rerankFrac = 1.5)
    }
  }

  test("lifecycle: new data file -> loud STALE; rebuild heals and sees the new row") {
    val (tbl, table) = mkTable(60)
    val idx = tempDir("graft_annidx_stale").toString
    AnnIndex.writeIvfIndex(spark, table, tbl, idx, "vec_id", "embedding",
      dims, nlist = 2)
    // a probe against the coherent index works
    val q = table.filter(col("vec_id") === 0)
    assert(AnnIndex.ivfLookupIndexed(spark, q, tbl, idx, k = 3, nprobe = 2)
      .count() == 3)
    // append one vector DESIGNED to be id 0's nearest neighbor
    val id0 = (0 until dims).map(i => math.sin(0 * 31.0 + i * 7.0))
    Seq((9999L, id0.map(_ * 0.999)))
      .toDF("vec_id", "embedding").write.mode("append").parquet(tbl)
    val ex = intercept[IllegalStateException] {
      AnnIndex.ivfLookupIndexed(spark, q, tbl, idx, k = 3, nprobe = 2).count()
    }
    assert(ex.getMessage.contains("STALE"), s"wrong error: ${ex.getMessage}")
    // rebuild on the grown table heals the probe and indexes the new row
    val grown = spark.read.parquet(tbl)
    AnnIndex.writeIvfIndex(spark, grown, tbl, idx, "vec_id", "embedding",
      dims, nlist = 2)
    val healed = AnnIndex.ivfLookupIndexed(spark,
      grown.filter(col("vec_id") === 0), tbl, idx, k = 3, nprobe = 2,
      excludeSelf = true)
    val top = healed.filter(col("rank") === 1).select("nid").head().getLong(0)
    assert(top == 9999L, s"rebuilt index should surface the planted neighbor, got $top")
  }

  test("lifecycle: missing stamp and wrong kind fail with pointed errors") {
    val (tbl, table) = mkTable(40)
    val empty = tempDir("graft_annidx_nostamp").toString
    val exNone = intercept[IllegalStateException] {
      AnnIndex.ivfLookupIndexed(spark, table, tbl, empty, k = 3)
    }
    assert(exNone.getMessage.contains("coherence stamp"))
    val idx = tempDir("graft_annidx_kind").toString
    AnnIndex.writeBinaryIndex(spark, table, tbl, idx, "vec_id", "embedding", dims)
    val exKind = intercept[IllegalStateException] {
      AnnIndex.ivfLookupIndexed(spark, table, tbl, idx, k = 3)
    }
    assert(exKind.getMessage.contains("kind 'binary'"))
  }

  test("malformed numeric stamp field -> 'does not parse', not NumberFormatException") {
    val (tbl, table) = mkTable(40)
    val idx = tempDir("graft_annidx_badnum").toString
    AnnIndex.writeIvfIndex(spark, table, tbl, idx, "vec_id", "embedding",
      dims, nlist = 2)
    // a foreign/corrupt stamp can carry a non-integer where the schema
    // says integer ('1.5', '1e3') — numField's class matches it, so the
    // int parse must yield None and route to the rebuild message
    // instead of throwing NumberFormatException (r14 advisory)
    val metaPath = new org.apache.hadoop.fs.Path(idx, "_graft_ann_meta.json")
    val fs = metaPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val text = {
      val in = fs.open(metaPath)
      try scala.io.Source.fromInputStream(in, "UTF-8").mkString finally in.close()
    }
    val out = fs.create(metaPath, true)
    try out.write(text.replace("\"nlist\":2", "\"nlist\":1.5")
      .getBytes(java.nio.charset.StandardCharsets.UTF_8))
    finally out.close()
    val ex = intercept[IllegalStateException] {
      AnnIndex.ivfLookupIndexed(spark, table, tbl, idx, k = 3)
    }
    assert(ex.getMessage.contains("does not parse"), ex.getMessage)
  }

  test("rebuild drops the old stamp first: a dead half-rebuild cannot pass verify") {
    val (tbl, table) = mkTable(40)
    val idx = tempDir("graft_annidx_half").toString
    AnnIndex.writeIvfIndex(spark, table, tbl, idx, "vec_id", "embedding",
      dims, nlist = 2)
    // simulate the first step of a rebuild that then dies: the stamp
    // must already be gone, so the index fails verification rather
    // than serving codes of unknown vintage under a valid-looking stamp
    val metaPath = new org.apache.hadoop.fs.Path(idx, "_graft_ann_meta.json")
    val fs = metaPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(fs.exists(metaPath))
    // a second write to the same dir re-stamps only AFTER the codes land
    AnnIndex.writeIvfIndex(spark, table, tbl, idx, "vec_id", "embedding",
      dims, nlist = 2)
    assert(AnnIndex.verify(spark, tbl, idx, "ivf").kind == "ivf")
  }
}
