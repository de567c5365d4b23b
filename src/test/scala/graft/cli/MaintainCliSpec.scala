package graft.cli

import graft.SparkTestBase
import org.apache.spark.sql.functions._

/** The maintenance CLI end-to-end over real temp tables: bloom-index
  * build, coherent verify, compaction with automatic index rebuild,
  * stale-index detection (exit 1 with the precise reason), and a
  * Z-order rewrite — the OPTIMIZE lifecycle a platform schedules. */
class MaintainCliSpec extends SparkTestBase with graft.TempDirs {
  import spark.implicits._

  test("bloom-index -> verify -> compact(auto-rebuild) -> verify; stale detected after out-of-band rewrite") {
    val tmp = tempDir("graft_maintain").toString
    val tbl = s"$tmp/tbl"
    val df = (0 until 6000).map(i => (i.toLong % 100, i.toLong)).toDF("k", "v")
    df.repartition(12, col("k")).write.parquet(tbl)

    // build under the default sibling convention
    assert(Maintain.run(spark, "bloom-index",
      Map("path" -> tbl, "column" -> "k", "items" -> "10000")) == 0)
    val idx = s"${tbl}_bloomidx_k"
    assert(new java.io.File(idx, "_graft_index_meta.json").exists())
    assert(Maintain.run(spark, "verify-index",
      Map("path" -> tbl, "column" -> "k")) == 0)

    // compaction merges files AND rebuilds the discovered index
    val total = new org.apache.hadoop.fs.Path(tbl)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
      .getContentSummary(new org.apache.hadoop.fs.Path(tbl)).getLength
    assert(Maintain.run(spark, "compact",
      Map("path" -> tbl, "target-bytes" -> total.toString,
        "small-bytes" -> total.toString)) == 0)
    assert(Maintain.run(spark, "verify-index",
      Map("path" -> tbl, "column" -> "k")) == 0,
      "index must be coherent after compact's auto-rebuild")
    // the pruned read still answers exactly
    val got = graft.ops.Layout.bloomPrunedRead(spark, tbl, idx, "k", Seq(7L))
      .count()
    assert(got == 60)

    // out-of-band rewrite: verify-index reports stale with exit 1
    df.repartition(3, col("v")).write.mode("overwrite").parquet(tbl)
    assert(Maintain.run(spark, "verify-index",
      Map("path" -> tbl, "column" -> "k")) == 1)
    // the named recovery heals it
    assert(Maintain.run(spark, "bloom-index",
      Map("path" -> tbl, "column" -> "k", "items" -> "10000")) == 0)
    assert(Maintain.run(spark, "verify-index",
      Map("path" -> tbl, "column" -> "k")) == 0)
  }

  test("zorder rewrite preserves rows; usage errors exit 2") {
    val tmp = tempDir("graft_maintain_z").toString
    (0 until 4096).map(i => ((i * 37) % 64L, (i * 91) % 64L, i.toLong))
      .toDF("x", "y", "id").write.parquet(s"$tmp/in")
    assert(Maintain.run(spark, "zorder",
      Map("in" -> s"$tmp/in", "out" -> s"$tmp/out", "by" -> "x,y",
        "bits" -> "6", "files" -> "8")) == 0)
    val back = spark.read.parquet(s"$tmp/out")
    assert(back.count() == 4096 && !back.columns.contains("zval"))

    assert(Maintain.run(spark, "compact", Map("path" -> s"$tmp/in")) == 2)
    assert(Maintain.run(spark, "nonsense", Map.empty) == 2)
  }

  private def vecRows(ids: Range): Seq[(Long, Array[Double])] =
    ids.map(i => (i.toLong,
      Array.tabulate(8)(d => math.sin(i * 0.37 + d) + (i % 5) * 0.1)))

  test("ann lifecycle from the shell: build -> verify -> append -> compact; refusals exit 1 verbatim") {
    val tmp = tempDir("graft_maintain_ann").toString
    val (tbl, delta, idx) = (s"$tmp/tbl", s"$tmp/delta", s"$tmp/idx")
    vecRows(0 until 200).toDF("vec_id", "embedding").repartition(2).write.parquet(tbl)
    vecRows(200 until 260).toDF("vec_id", "embedding").repartition(1).write.parquet(delta)

    // append before any build: refusal names the build command
    val (rcNoIdx, errNoIdx) = stderrOf(Maintain.run(spark, "ann-append",
      Map("table" -> tbl, "index" -> idx, "delta" -> delta)))
    assert(rcNoIdx == 1 && errNoIdx.contains("ann-build"), errNoIdx)

    assert(Maintain.run(spark, "ann-build",
      Map("table" -> tbl, "index" -> idx, "kind" -> "ivf", "id" -> "vec_id",
        "vec" -> "embedding", "dims" -> "8", "nlist" -> "4")) == 0)
    // verify with the kind read from the stamp (no -kind)
    assert(Maintain.run(spark, "ann-verify",
      Map("table" -> tbl, "index" -> idx)) == 0)
    // wrong -kind: the operator's own precise refusal, exit 1
    val (rcKind, errKind) = stderrOf(Maintain.run(spark, "ann-verify",
      Map("table" -> tbl, "index" -> idx, "kind" -> "pq")))
    assert(rcKind == 1 && errKind.contains("is kind 'ivf'"), errKind)

    assert(Maintain.run(spark, "ann-append",
      Map("table" -> tbl, "index" -> idx, "delta" -> delta)) == 0)
    assert(graft.ops.AnnIndex.readMeta(spark, idx).get.version == 1)
    // re-appending the same delta refuses (would duplicate codes)
    val (rcDup, errDup) = stderrOf(Maintain.run(spark, "ann-append",
      Map("table" -> tbl, "index" -> idx, "delta" -> delta)))
    assert(rcDup == 1 && errDup.contains("already part"), errDup)

    assert(Maintain.run(spark, "ann-compact",
      Map("table" -> tbl, "index" -> idx)) == 0)
    assert(Maintain.run(spark, "ann-verify",
      Map("table" -> tbl, "index" -> idx)) == 0,
      "index must verify after append + compact")
    // a probe through the CLI-maintained index answers (full lifecycle
    // equivalence is pinned by q_llm_ann_append_check / the specs)
    assert(graft.ops.AnnIndex.ivfLookupIndexed(spark,
      spark.read.parquet(tbl).limit(5), tbl, idx, k = 3, nprobe = 4).count() == 15)

    // out-of-band rewrite of the base table: STALE with the rebuild hint
    vecRows(0 until 200).toDF("vec_id", "embedding").repartition(3)
      .write.mode("overwrite").parquet(tbl)
    val (rcStale, errStale) = stderrOf(Maintain.run(spark, "ann-verify",
      Map("table" -> tbl, "index" -> idx)))
    assert(rcStale == 1 && errStale.contains("STALE") &&
      errStale.contains("writeIvfIndex"), errStale)
    // missing operands exit 2
    assert(Maintain.run(spark, "ann-build", Map("table" -> tbl)) == 2)
  }

  test("lm lifecycle from the shell: build -> verify -> append; refusals exit 1") {
    val tmp = tempDir("graft_maintain_lm").toString
    val (train, delta, idx) = (s"$tmp/train", s"$tmp/delta", s"$tmp/idx")
    Seq((1L, "m n o m n o p"), (2L, "n o m"), (3L, "o p q o p q n"))
      .toDF("doc_id", "text").repartition(1).write.parquet(train)
    Seq((11L, "o p q rr"), (12L, "rr ss o"))
      .toDF("doc_id", "text").repartition(1).write.parquet(delta)

    assert(Maintain.run(spark, "lm-build",
      Map("train" -> train, "index" -> idx, "id" -> "doc_id", "text" -> "text")) == 0)
    // -text defaults from the stamp
    assert(Maintain.run(spark, "lm-verify",
      Map("train" -> train, "index" -> idx)) == 0)
    assert(Maintain.run(spark, "lm-append",
      Map("train" -> train, "index" -> idx, "delta" -> delta,
        "id" -> "doc_id", "text" -> "text")) == 0)
    assert(graft.ops.LmIndex.readMeta(spark, idx).get.version == 1)
    val (rcDup, errDup) = stderrOf(Maintain.run(spark, "lm-append",
      Map("train" -> train, "index" -> idx, "delta" -> delta,
        "id" -> "doc_id", "text" -> "text")))
    assert(rcDup == 1 && errDup.contains("already part"), errDup)
    // delta mutated after append: verify reports STALE naming the delta
    Seq((99L, "mutation")).toDF("doc_id", "text").write.mode("append").parquet(delta)
    val (rcStale, errStale) = stderrOf(Maintain.run(spark, "lm-verify",
      Map("train" -> train, "index" -> idx)))
    assert(rcStale == 1 && errStale.contains("STALE") && errStale.contains(delta),
      errStale)
    assert(Maintain.run(spark, "lm-append", Map("train" -> train)) == 2)
  }

  test("tok lifecycle from the shell: build stamps fit fertility; drift telemetry warns past the band") {
    val tmp = tempDir("graft_maintain_tok").toString
    val (train, idx) = (s"$tmp/train", s"$tmp/idx")
    // short words -> low fertility under a small merge table
    Seq((1L, "aa bb aa bb cc"), (2L, "aa cc bb aa"), (3L, "bb bb aa cc aa"))
      .toDF("doc_id", "text").repartition(1).write.parquet(train)

    assert(Maintain.run(spark, "tok-build",
      Map("train" -> train, "index" -> idx, "family" -> "bpe",
        "text" -> "text", "param" -> "8")) == 0)
    val meta = graft.ops.TokenizerIndex.readMeta(spark, idx).get
    assert(meta.fitFertMicro > 0, s"fit fertility must be stamped: $meta")

    // probing the train corpus itself: within band, no warning
    val (rcSelf, errSelf) = stderrOf(Maintain.run(spark, "tok-verify",
      Map("train" -> train, "index" -> idx, "probe" -> train)))
    assert(rcSelf == 0 && !errSelf.contains("DRIFT WARNING"), errSelf)

    // a drifted corpus (long unseen gibberish words shred to characters):
    // fertility creeps far past the band -> WARN on stderr, still exit 0
    // (telemetry about the data, not artifact corruption)
    val drifted = s"$tmp/drifted"
    Seq((1L, "zqxvwpkjh mnbvcxlkj qwertyzxcv"), (2L, "pkjhzqxvw lkjmnbvcx"))
      .toDF("doc_id", "text").repartition(1).write.parquet(drifted)
    val (rcDrift, errDrift) = stderrOf(Maintain.run(spark, "tok-verify",
      Map("train" -> train, "index" -> idx, "probe" -> drifted)))
    assert(rcDrift == 0, "drift is a warning, not a refusal")
    assert(errDrift.contains("DRIFT WARNING") && errDrift.contains("tok-build"),
      errDrift)

    // an artifact stamped before the telemetry (no fit_fert_micro field)
    // verifies and says the baseline is missing instead of comparing
    val fs = new org.apache.hadoop.fs.Path(idx)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val mp = new org.apache.hadoop.fs.Path(idx, "_graft_tok_meta.json")
    val in = fs.open(mp)
    val stamp = try scala.io.Source.fromInputStream(in, "UTF-8").mkString finally in.close()
    val preR16 = stamp.replaceAll(""""fit_fert_micro":-?\d+,""", "")
    val out = fs.create(mp, true)
    try out.write(preR16.getBytes("UTF-8")) finally out.close()
    val (rcPre, _) = stderrOf(Maintain.run(spark, "tok-verify",
      Map("train" -> train, "index" -> idx, "probe" -> train)))
    assert(rcPre == 0)
    assert(graft.ops.TokenizerIndex.readMeta(spark, idx).get.fitFertMicro == -1L)

    // train table mutated: verify refuses STALE before any telemetry
    Seq((9L, "dd ee")).toDF("doc_id", "text").write.mode("append").parquet(train)
    val (rcStale, errStale) = stderrOf(Maintain.run(spark, "tok-verify",
      Map("train" -> train, "index" -> idx)))
    assert(rcStale == 1 && errStale.contains("STALE"), errStale)
    assert(Maintain.run(spark, "tok-build", Map("train" -> train)) == 2)
  }
}
