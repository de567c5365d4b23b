package graft.ops

import graft.{FailSwapRenameFs, SparkTestBase}
import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._

/**
 * [[StampedArtifact]]: the restore path of the one staged swap, through
 * the two stamped callers that use it (the LM append over four tables,
 * the ANN compaction over one), and a source scan that keeps the
 * protocol in one module. [[FailSwapRenameFs]] fails exactly one
 * staged→live rename per caller; everything else renames normally.
 */
class StampedArtifactSpec extends SparkTestBase with graft.TempDirs {
  import spark.implicits._

  private def failswap(): Unit = spark.sparkContext.hadoopConfiguration.set(
    "fs.failswap.impl", classOf[FailSwapRenameFs].getName)

  private def rows(path: String): Set[String] =
    spark.read.parquet(path).collect().map(_.toString).toSet

  test("a failed LM append rename restores all four tables and the pre-append stamp") {
    failswap()
    def corpus(docs: Seq[(Long, String)]): String = {
      val dir = tempDir("graft_swaplm_tbl").toString
      docs.toDF("doc_id", "text").write.mode("overwrite").parquet(dir)
      dir
    }
    val base = corpus(Seq((1L, "m n o m n o p"), (2L, "n o m"), (3L, "o p q n")))
    val delta = corpus(Seq((101L, "o p q rr"), (102L, "rr ss o")))
    val idx = tempDir("graft_swaplm_idx").toString
    LmIndex.writeMknIndex(spark, base, idx, "doc_id", "text")
    val tables = Seq("tri", "big", "uni", "disc")
    val before = tables.map(t => t -> rows(s"$idx/$t")).toMap
    val e = intercept[java.io.IOException] {
      LmIndex.appendMknIndex(spark, delta, "failswap:" + idx, base, "doc_id", "text")
    }
    assert(e.getMessage.contains("restored") && e.getMessage.contains("re-stamped"),
      e.getMessage)
    tables.foreach { t =>
      assert(rows(s"$idx/$t") == before(t), s"$t does not hold its pre-append rows")
      // the error names the staged merge, which is still there
      assert(e.getMessage.contains(s"$idx/${t}_appending"), e.getMessage)
      assert(new java.io.File(s"$idx/${t}_appending").isDirectory, s"${t}_appending")
    }
    assert(LmIndex.verify(spark, base, idx, "mkn3", "text").version == 0)
    // the restored artifact heals by a plain retry
    LmIndex.appendMknIndex(spark, delta, idx, base, "doc_id", "text")
    assert(LmIndex.verify(spark, base, idx, "mkn3", "text").version == 1)
  }

  test("a failed ANN compaction rename restores the codes and the pre-compaction stamp") {
    failswap()
    def table(ids: Seq[Long]): String = {
      val dir = tempDir("graft_swapann_tbl").toString
      ids.map(i => (i, Seq(if (i % 2 == 0) 0.0 else 10.0, 0.01 * (i % 7), 0.5, 1.0)))
        .toDF("vec_id", "embedding").repartition(2).write.mode("overwrite").parquet(dir)
      dir
    }
    val base = table(1L to 20L)
    val delta = table(101L to 110L)
    val idx = tempDir("graft_swapann_idx").toString
    AnnIndex.writeIvfIndex(spark, spark.read.parquet(base), base, idx,
      "vec_id", "embedding", dims = 4, nlist = 2)
    AnnIndex.appendIvfIndex(spark, spark.read.parquet(delta), delta, idx, base)
    val codes = rows(s"$idx/codes")
    val e = intercept[java.io.IOException] {
      AnnIndex.compactIvfIndex(spark, "failswap:" + idx, base)
    }
    assert(e.getMessage.contains("restored") && e.getMessage.contains("re-stamped"),
      e.getMessage)
    assert(e.getMessage.contains(s"$idx/codes_compacting"), e.getMessage)
    assert(new java.io.File(s"$idx/codes_compacting").isDirectory)
    assert(rows(s"$idx/codes") == codes, "codes do not hold their pre-compaction rows")
    val meta = AnnIndex.verify(spark, base, idx, "ivf")
    assert(meta.version == 1 && meta.parts.map(_._1) == Seq(delta), meta.toString)
  }

  test("no source but StampedArtifact.scala renames or names a stamp file") {
    // Layout's per-file journaled compaction is a different protocol
    val stampName = "_graft_[a-z_]*meta\\.json".r
    val hits = Files.walk(Paths.get("src/main")).iterator().asScala
      .filter(_.toString.endsWith(".scala"))
      .filterNot(_.getFileName.toString == "StampedArtifact.scala")
      .flatMap { p =>
        val text = new String(Files.readAllBytes(p), "UTF-8")
        val renames = if (p.getFileName.toString == "Layout.scala") Nil
          else if (text.contains(".rename(")) Seq(s"$p: .rename(") else Nil
        renames ++ stampName.findAllIn(text).map(n => s"$p: $n")
      }.toSeq
    assert(hits.isEmpty, hits.mkString("\n"))
  }
}
