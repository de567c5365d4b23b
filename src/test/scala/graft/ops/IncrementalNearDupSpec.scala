package graft.ops

import graft.SparkTestBase
import org.apache.spark.sql.functions._

/** [[Dedup.incrementalNearDupVerdicts]]: the corpus-version dedup-state
  * carry-forward. Verdict semantics on closed-form fixtures, plus the
  * property the operator exists for: the kept rows' signatures ARE the
  * state delta — union them into the state and a re-sent duplicate of
  * a kept doc resolves as dup_of_ref on the next batch with no access
  * to any earlier text. */
class IncrementalNearDupSpec extends SparkTestBase with graft.TempDirs {
  import spark.implicits._

  private def sigs(rows: Seq[(Long, String)]) =
    Dedup.minhashSignatures(rows.toDF("doc_id", "text"), "doc_id", "text",
      shingleSize = 4, numHashes = 8)

  private val refText = "the quick brown fox jumps over the lazy dog again and again"
  private val uniqueA = "completely different subject matter about spark physical plans"
  private val uniqueB = "unrelated third topic entirely focused on parquet column pruning"

  test("verdicts: dup_of_ref, dup_of_new canonical-min, kept") {
    val ref = sigs(Seq(1L -> refText, 2L -> uniqueB))
    val nw = sigs(Seq(
      30L -> refText,   // exact copy of ref doc 1 -> dup_of_ref(1)
      33L -> uniqueA,   // twin of 36 -> canonical (kept)
      36L -> uniqueA,   // -> dup_of_new(33)
      39L -> "singleton text with no relatives whatsoever in any corpus"))
    val got = Dedup.incrementalNearDupVerdicts(nw, ref,
        numHashes = 8, bands = 4, threshold = 0.5)
      .collect().map(r => r.getLong(0) ->
        ((r.getString(1), if (r.isNullAt(2)) null else r.getLong(2)))).toMap
    assert(got == Map(
      30L -> (("dup_of_ref", 1L)),
      33L -> (("kept", null)),
      36L -> (("dup_of_new", 33L)),
      39L -> (("kept", null))))
  }

  test("ref screen precedes new-new clustering: a ref-dup never anchors a new cluster") {
    // 30 dups ref; 33 dups 30 (same text) — but 30 is removed by the
    // ref screen FIRST, so 33 also resolves against ref (same sig),
    // not against 30.
    val ref = sigs(Seq(5L -> refText))
    val nw = sigs(Seq(30L -> refText, 33L -> refText))
    val got = Dedup.incrementalNearDupVerdicts(nw, ref,
        numHashes = 8, bands = 4, threshold = 0.5)
      .collect().map(r => r.getLong(0) -> ((r.getString(1), r.getLong(2)))).toMap
    assert(got == Map(30L -> (("dup_of_ref", 5L)), 33L -> (("dup_of_ref", 5L))))
  }

  test("state carry-forward: state' = state ∪ kept sigs catches the next batch's dups") {
    val ref = sigs(Seq(1L -> refText))
    val batch1 = sigs(Seq(30L -> uniqueA, 33L -> refText))
    val v1 = Dedup.incrementalNearDupVerdicts(batch1, ref,
      numHashes = 8, bands = 4, threshold = 0.5)
    val keptIds = v1.filter(col("status") === "kept").select(col("id"))
    val state2 = ref.unionByName(batch1.join(keptIds, Seq("id")))
    // batch 2 re-sends uniqueA (kept in batch 1) and refText
    val batch2 = sigs(Seq(60L -> uniqueA, 63L -> refText))
    val v2 = Dedup.incrementalNearDupVerdicts(batch2, state2,
        numHashes = 8, bands = 4, threshold = 0.5)
      .collect().map(r => r.getLong(0) -> ((r.getString(1), r.getLong(2)))).toMap
    assert(v2 == Map(
      60L -> (("dup_of_ref", 30L)), // matched the carried batch-1 state
      63L -> (("dup_of_ref", 1L))))
  }

  test("3-batch version chain: append/compact carry state; a re-registered id supersedes its old signature") {
    import org.apache.spark.sql.DataFrame
    val uniqueC = "yet another wholly distinct passage concerning shuffle partition sizing"
    def verdictMap(v: DataFrame) =
      v.collect().map(r => r.getLong(0) ->
        ((r.getString(1), if (r.isNullAt(2)) null else r.getLong(2)))).toMap

    // two inputs advance one version, (state, batch, n) => (verdicts,
    // next state): the screen/append/compact calls written out, and
    // Dedup.nearDupStep, which the chain query and the CLI stage use
    val byHand = (state: DataFrame, b: DataFrame, n: Int) => {
      val v = Dedup.incrementalNearDupVerdicts(b, state.select("id", "sig"),
        numHashes = 8, bands = 4, threshold = 0.5)
      (v, Dedup.nearDupStateCompact(Dedup.nearDupStateAppend(state, b, v, n)))
    }
    val byStep = (state: DataFrame, b: DataFrame, n: Int) => {
      val step = Dedup.nearDupStep(Some(state), b, n,
        numHashes = 8, bands = 4, threshold = 0.5)
      val next = step.next // first, so the verdicts read its stage
      (step.verdicts, next)
    }
    for ((input, advance) <- Seq("by hand" -> byHand, "nearDupStep" -> byStep)) {
      withClue(s"[$input] ") {
        // version 0: initial corpus = doc 1 (refText)
        val s0 = sigs(Seq(1L -> refText))
          .select(col("id"), col("sig"), lit(0).as("version"))

        // version 1: 10 kept (uniqueA), 11 dup of the v0 corpus
        val (v1, s1) = advance(s0, sigs(Seq(10L -> uniqueA, 11L -> refText)), 1)
        assert(verdictMap(v1) == Map(
          10L -> (("kept", null)), 11L -> (("dup_of_ref", 1L))))

        // version 2: 20 dups the v1-kept doc; 21 is new; id 10 RE-REGISTERS
        // with new accepted content (uniqueC) — supersedes its v1 signature
        val (v2, s2) = advance(s1,
          sigs(Seq(20L -> uniqueA, 21L -> uniqueB, 10L -> uniqueC)), 2)
        assert(verdictMap(v2) == Map(
          20L -> (("dup_of_ref", 10L)), // matched id 10's OLD (v1) signature
          21L -> (("kept", null)),
          10L -> (("kept", null))))     // new content, no near-dup

        // compaction: one row per id; id 10 carries version 2 (uniqueC)
        val rows = s2.collect()
          .map(r => r.getLong(0) -> r.getInt(2)).toMap
        assert(rows == Map(1L -> 0, 10L -> 2, 21L -> 2))

        // version 3: uniqueA is GONE from the state (superseded) — a
        // re-send is now kept; uniqueC and uniqueB match their carriers
        val (v3, s3) = advance(s2,
          sigs(Seq(30L -> uniqueA, 31L -> uniqueC, 32L -> uniqueB)), 3)
        assert(verdictMap(v3) == Map(
          30L -> (("kept", null)),
          31L -> (("dup_of_ref", 10L)),
          32L -> (("dup_of_ref", 21L))))
        // state stays bounded by distinct kept ids, not versions
        assert(s3.count() == 4)
      }
    }
    CachedRelations.releaseAll()
  }

  test("empty reference degenerates to plain batch near-dup clustering") {
    val ref = sigs(Seq.empty[(Long, String)])
    val nw = sigs(Seq(30L -> uniqueA, 33L -> uniqueA, 36L -> uniqueB))
    val got = Dedup.incrementalNearDupVerdicts(nw, ref,
        numHashes = 8, bands = 4, threshold = 0.5)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(got == Map(30L -> "kept", 33L -> "dup_of_new", 36L -> "kept"))
  }

  test("nearDupStateLatest: resolves highest COMMITTED version, ignores crashed writes") {
    import org.apache.spark.sql.functions._
    val dir = tempDir("graft_state_commit").toString + "/st"
    assert(Dedup.nearDupStateLatest(spark, dir).isEmpty) // absent dir
    val s0 = sigs(Seq(1L -> uniqueA)).withColumn("version", lit(0))
    Dedup.nearDupStateWrite(s0, dir, 0)
    Dedup.nearDupStateWrite(s0.withColumn("version", lit(3)), dir, 3)
    // forge a crashed v7: parquet bytes present, no _SUCCESS marker
    val v7 = new java.io.File(s"$dir/v7"); v7.mkdirs()
    java.nio.file.Files.copy(
      new java.io.File(s"$dir/v3").listFiles().filter(_.getName.endsWith(".parquet")).head.toPath,
      new java.io.File(v7, "part-crashed.parquet").toPath)
    // and an unrelated non-version dir that must not confuse the listing
    new java.io.File(s"$dir/scratch").mkdirs()
    val Some((v, df)) = Dedup.nearDupStateLatest(spark, dir)
    assert(v == 3, s"resolved v$v")
    assert(df.select("version").distinct().head().getInt(0) == 3)
    // the next committed write supersedes the crashed leftover's slot
    Dedup.nearDupStateWrite(s0.withColumn("version", lit(7)), dir, 7)
    assert(Dedup.nearDupStateLatest(spark, dir).exists(_._1 == 7))
  }

  test("nearDupStateLatest: version dirs with NO commit marker anywhere fail loudly") {
    import org.apache.spark.sql.functions._
    val dir = tempDir("graft_state_nomark").toString + "/st"
    Dedup.nearDupStateWrite(
      sigs(Seq(1L -> uniqueA)).withColumn("version", lit(0)), dir, 0)
    Dedup.nearDupStateWrite(
      sigs(Seq(1L -> uniqueA)).withColumn("version", lit(1)), dir, 1)
    // strip every _SUCCESS marker: the marksuccessfuljobs=false /
    // all-writes-crashed ambiguity. Returning None here would silently
    // restart the chain at v0 and overwrite committed state.
    val hPath = new org.apache.hadoop.fs.Path(dir)
    val fs = hPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    Seq(0, 1).foreach(v =>
      fs.delete(new org.apache.hadoop.fs.Path(s"$dir/v$v/_SUCCESS"), false))
    val e = intercept[IllegalStateException](Dedup.nearDupStateLatest(spark, dir))
    assert(e.getMessage.contains("_SUCCESS"), e.getMessage)
    assert(e.getMessage.contains("marksuccessfuljobs"), e.getMessage)
    // restoring a marker restores normal latest-wins resolution
    fs.create(new org.apache.hadoop.fs.Path(s"$dir/v1/_SUCCESS"), true).close()
    assert(Dedup.nearDupStateLatest(spark, dir).exists(_._1 == 1))
  }
}
