package graft.ops

import graft.SparkTestBase
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/**
 * [[LmIndex.appendMknIndex]]: n-gram count tables are additive, so a
 * persisted mkn3 model absorbs a delta corpus by count-merge plus a
 * discount re-derivation from the MERGED tables — and because every
 * merged integer equals its refit twin, the appended model must score
 * EXACTLY like a full refit on the union corpus (the strongest
 * equivalence in the append family; q_llm_mkn_append_check pins the
 * same thing against the DuckDB-oracled doc count at corpus scale).
 * Rails: no silent v0 restart, one append per delta, parts verified
 * at score time, pre-uni artifacts refuse with a rebuild hint.
 */
class LmIndexAppendSpec extends SparkTestBase with graft.TempDirs {
  import spark.implicits._

  private def mkCorpus(rows: Seq[(Long, String)]): String = {
    val dir = tempDir("graft_lmapp_tbl").toString
    rows.toDF("doc_id", "text").repartition(2)
      .write.mode("overwrite").parquet(dir)
    dir
  }

  private val baseDocs = Seq(
    (1L, "m n o m n o p"), (2L, "n o m"), (3L, "o p q o p q n"),
    (4L, "m n o p q"), (5L, "q p o n m"))
  private val deltaDocs = Seq(
    (101L, "o p q rr"), (102L, "rr ss o"), (103L, "m"), (104L, "n o p n o p"))
  private val scored = Seq(
    (11L, "m n o m"), (12L, "m n q rr"), (13L, "p m o ss"),
    (14L, "zz yy xx"), (15L, "o"), (16L, "rr ss"))

  private def rows(df: DataFrame): Map[Long, (Long, Long, Long)] = {
    val out = df.collect().map(r => r.getLong(0) ->
      ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    CachedRelations.releaseAll()
    out
  }

  test("appended model scores EXACTLY like a refit on the union corpus") {
    val base = mkCorpus(baseDocs)
    val delta = mkCorpus(deltaDocs)
    val full = mkCorpus(baseDocs ++ deltaDocs)
    val idxA = tempDir("graft_lmapp_a").toString
    val idxR = tempDir("graft_lmapp_r").toString
    LmIndex.writeMknIndex(spark, base, idxA, "doc_id", "text")
    LmIndex.appendMknIndex(spark, delta, idxA, base, "doc_id", "text")
    LmIndex.writeMknIndex(spark, full, idxR, "doc_id", "text")
    val meta = LmIndex.readMeta(spark, idxA).get
    assert(meta.version == 1 && meta.parts.map(_._1) == Seq(delta),
      s"stamp must record the appended part, got $meta")
    // two-pass swap (r15 advisory): backups are deleted only after ALL
    // four tables renamed in, and a clean append leaves neither
    // _preappend backups nor _appending staging behind
    val fsA = new org.apache.hadoop.fs.Path(idxA)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val leftovers = fsA.listStatus(new org.apache.hadoop.fs.Path(idxA))
      .map(_.getPath.getName)
      .filter(n => n.endsWith("_preappend") || n.endsWith("_appending"))
    assert(leftovers.isEmpty, s"swap leftovers: ${leftovers.mkString(", ")}")
    val df = scored.toDF("doc_id", "text")
    val appended = rows(LmIndex.scoreMknIndexed(spark, df, "doc_id", "text", base, idxA))
    val refit = rows(LmIndex.scoreMknIndexed(spark, df, "doc_id", "text", full, idxR))
    assert(appended == refit,
      s"appended model diverged from the union refit: $appended vs $refit")
    // the merged tables must equal the refit tables integer for integer
    def tbl(idx: String, name: String, keyCols: Seq[String], cnt: String) =
      spark.read.parquet(s"$idx/$name")
        .collect().map(r => keyCols.map(r.getAs[String]) -> r.getAs[Long](cnt)).toMap
    assert(tbl(idxA, "tri", Seq("u", "v", "w"), "_cuvw") ==
      tbl(idxR, "tri", Seq("u", "v", "w"), "_cuvw"), "merged tri != refit tri")
    assert(tbl(idxA, "big", Seq("prev", "cur"), "_cab") ==
      tbl(idxR, "big", Seq("prev", "cur"), "_cab"), "merged big != refit big")
    assert(tbl(idxA, "uni", Seq("w"), "_cw") ==
      tbl(idxR, "uni", Seq("w"), "_cw"), "merged uni != refit uni")
  }

  test("rails: no silent v0 restart, one append per delta, stale delta at score time") {
    val base = mkCorpus(baseDocs)
    val delta = mkCorpus(deltaDocs)
    val idx = tempDir("graft_lmapp_rails").toString
    val e0 = intercept[IllegalStateException] {
      LmIndex.appendMknIndex(spark, delta, idx, base, "doc_id", "text")
    }
    assert(e0.getMessage.contains("no silent v0 restart"), e0.getMessage)
    LmIndex.writeMknIndex(spark, base, idx, "doc_id", "text")
    LmIndex.appendMknIndex(spark, delta, idx, base, "doc_id", "text")
    val e1 = intercept[IllegalArgumentException] {
      LmIndex.appendMknIndex(spark, delta, idx, base, "doc_id", "text")
    }
    assert(e1.getMessage.contains("already part"), e1.getMessage)
    // an empty delta refuses BEFORE the version bumps — otherwise the
    // stamp couples to an empty listing and the delta's real files
    // arriving later would spuriously STALE the whole artifact
    val emptyDelta = mkCorpus(Seq.empty)
    val eEmpty = intercept[IllegalArgumentException] {
      LmIndex.appendMknIndex(spark, emptyDelta, idx, base, "doc_id", "text")
    }
    assert(eEmpty.getMessage.contains("nothing to append"), eEmpty.getMessage)
    assert(LmIndex.readMeta(spark, idx).get.version == 1, "empty delta must not bump")
    // a delta that changes after the append fails STALE before scoring
    Seq((999L, "mutation")).toDF("doc_id", "text")
      .write.mode("append").parquet(delta)
    val e2 = intercept[IllegalStateException] {
      LmIndex.scoreMknIndexed(spark, scored.toDF("doc_id", "text"),
        "doc_id", "text", base, idx)
    }
    assert(e2.getMessage.contains("STALE") && e2.getMessage.contains(delta),
      e2.getMessage)
  }

  test("an artifact without uni/ (pre-append vintage) refuses with a rebuild hint") {
    val base = mkCorpus(baseDocs)
    val delta = mkCorpus(deltaDocs)
    val idx = tempDir("graft_lmapp_pre").toString
    LmIndex.writeMknIndex(spark, base, idx, "doc_id", "text")
    val fs = new org.apache.hadoop.fs.Path(idx)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(fs.delete(new org.apache.hadoop.fs.Path(s"$idx/uni"), true))
    val e = intercept[IllegalStateException] {
      LmIndex.appendMknIndex(spark, delta, idx, base, "doc_id", "text")
    }
    assert(e.getMessage.contains("predates the append face"), e.getMessage)
    // scoring does NOT need uni — the pre-append artifact still scores
    assert(rows(LmIndex.scoreMknIndexed(spark, scored.toDF("doc_id", "text"),
      "doc_id", "text", base, idx)).nonEmpty)
  }

  test("a death window mid-swap leaves a loudly unverifiable artifact") {
    val base = mkCorpus(baseDocs)
    val delta = mkCorpus(deltaDocs)
    val idx = tempDir("graft_lmapp_dw").toString
    LmIndex.writeMknIndex(spark, base, idx, "doc_id", "text")
    LmIndex.appendMknIndex(spark, delta, idx, base, "doc_id", "text")
    // simulate the mid-lifecycle death: stamp dropped (as append does
    // FIRST), tables half-swapped — verification must refuse loudly
    val fs = new org.apache.hadoop.fs.Path(idx)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(fs.delete(new org.apache.hadoop.fs.Path(idx, "_graft_lm_meta.json"), false))
    val e = intercept[IllegalStateException] {
      LmIndex.scoreMknIndexed(spark, scored.toDF("doc_id", "text"),
        "doc_id", "text", base, idx)
    }
    assert(e.getMessage.contains("no _graft_lm_meta.json"), e.getMessage)
  }
}
