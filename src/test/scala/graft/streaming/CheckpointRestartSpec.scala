package graft.streaming

import graft.SparkTestBase
import org.apache.spark.sql.DataFrame
import java.sql.Timestamp

/** Checkpoint-RESTART end-to-end: real file source → real file sink
  * with a real checkpointLocation, hard-stopped between batches, then
  * resumed from the same checkpoint while NEW input has appeared. The
  * contract under test is the production one: the resumed run must
  * (1) not reprocess committed offsets (exactly-once output — every
  * id lands exactly once), (2) recover operator STATE from the state
  * store (the URL dedup must still drop a canonical key it admitted
  * before the stop), and (3) end value-identical to an uninterrupted
  * run over the same total input with a fresh checkpoint. */
class CheckpointRestartSpec extends SparkTestBase with graft.TempDirs {
  import spark.implicits._

  private def ts(minute: Int) = Timestamp.valueOf(f"2024-01-01 10:$minute%02d:00")

  /** Start → drain → stop: one "run segment" of a restartable query. */
  private def runSegment(out: DataFrame, path: String, ck: String): Unit = {
    val q = out.writeStream.format("parquet")
      .option("path", path).option("checkpointLocation", ck)
      .outputMode("append").start()
    try q.processAllAvailable() finally q.stop()
  }

  test("incrementalDedupStream: stop between batches, restart, exactly-once vs uninterrupted") {
    val base = tempDir("graft-ck-inc").toString
    val in = s"$base/in"
    val ref = (1 to 20).map(i => (i.toLong, s"ref_$i")).toDF("rid", "k")
    val sch = new org.apache.spark.sql.types.StructType()
      .add("id", "long").add("k", "string")
    def plan() = StreamOps.incrementalDedupStream(
      spark.readStream.schema(sch).parquet(in), ref, Seq("k"),
      expectedRefDistinct = 20L, fpp = 0.2)

    // phase 1: 10 ref-dup keys (dropped) + 10 fresh keys (kept)
    ((101 to 110).map(i => (i.toLong, s"ref_${i - 100}")) ++
      (111 to 120).map(i => (i.toLong, s"x_$i")))
      .toDF("id", "k").repartition(1).write.mode("append").parquet(in)
    runSegment(plan(), s"$base/out", s"$base/ck")   // hard stop between batches

    // new input lands while the query is DOWN
    ((121 to 125).map(i => (i.toLong, s"ref_${i - 110}")) ++
      (126 to 130).map(i => (i.toLong, s"x_$i")))
      .toDF("id", "k").repartition(1).write.mode("append").parquet(in)
    runSegment(plan(), s"$base/out", s"$base/ck")   // resume from the checkpoint

    // uninterrupted twin: fresh checkpoint + sink over the SAME input
    runSegment(plan(), s"$base/out2", s"$base/ck2")

    val resumed = spark.read.parquet(s"$base/out").collect()
      .map(r => (r.getAs[Long]("id"), r.getAs[String]("k"))).toSeq
    val straight = spark.read.parquet(s"$base/out2").collect()
      .map(r => (r.getAs[Long]("id"), r.getAs[String]("k"))).toSeq
    assert(resumed.sorted == straight.sorted, "resumed != uninterrupted")
    assert(resumed.map(_._1).distinct.size == resumed.size,
      "a committed batch was reprocessed after restart")
    assert(resumed.map(_._1).toSet == ((111 to 120) ++ (126 to 130)).map(_.toLong).toSet)
  }

  test("nearDupVerdictStream: restart recovers the stateful verdict query mid-corpus") {
    val base = tempDir("graft-ck-ndv").toString
    val in = s"$base/in"
    val refText = "the quick brown fox jumps over the lazy dog again and again"
    val refSig = graft.ops.Dedup.minhashSignatures(
      Seq(9L -> refText, 1L -> refText,
        2L -> "completely different subject matter about spark physical plans")
        .toDF("doc_id", "text"),
      "doc_id", "text", shingleSize = 4, numHashes = 8)
    val sch = new org.apache.spark.sql.types.StructType()
      .add("doc_id", "long").add("text", "string")
    def plan() = StreamOps.nearDupVerdictStream(
      spark.readStream.schema(sch).parquet(in), refSig, "doc_id", "text",
      shingleSize = 4, numHashes = 8, bands = 4, threshold = 0.5)

    Seq(30L -> refText,
      33L -> "a singleton text with no relatives in the frozen state")
      .toDF("doc_id", "text").repartition(1).write.mode("append").parquet(in)
    runSegment(plan(), s"$base/out", s"$base/ck")

    Seq(36L -> "another singleton nothing in the reference looks like this",
      40L -> refText)
      .toDF("doc_id", "text").repartition(1).write.mode("append").parquet(in)
    runSegment(plan(), s"$base/out", s"$base/ck")
    runSegment(plan(), s"$base/out2", s"$base/ck2")

    def rows(p: String) = spark.read.parquet(p).collect()
      .map(r => (r.getAs[Long]("id"), r.getAs[String]("status"),
        if (r.isNullAt(2)) -1L else r.getAs[Long]("match_id"))).toSeq
    val resumed = rows(s"$base/out")
    assert(resumed.sorted == rows(s"$base/out2").sorted, "resumed != uninterrupted")
    assert(resumed.map(_._1).distinct.size == resumed.size, "duplicate verdicts")
    assert(resumed.toSet == Set((30L, "dup_of_ref", 1L), (33L, "kept", -1L),
      (36L, "kept", -1L), (40L, "dup_of_ref", 1L)))
    graft.ops.CachedRelations.releaseAll()
  }

  test("urlDedupStream: dedup STATE survives the restart (post-restart repeat is dropped)") {
    val base = tempDir("graft-ck-url").toString
    val in = s"$base/in"
    val sch = new org.apache.spark.sql.types.StructType()
      .add("id", "long").add("url", "string").add("ts", "timestamp")
    def plan() = StreamOps.urlDedupStream(
      spark.readStream.schema(sch).parquet(in), "url", "ts")

    Seq((1L, "http://WWW.a.com/x/?utm_source=s", ts(1)),
      (2L, "http://b.com/y", ts(2)))
      .toDF("id", "url", "ts").repartition(1).write.mode("append").parquet(in)
    runSegment(plan(), s"$base/out", s"$base/ck")

    // id 3 canonicalizes to id 1's key: it arrives AFTER the restart,
    // so dropping it REQUIRES the dedup state store to have been
    // recovered from the checkpoint — a fresh state would keep it
    Seq((3L, "http://a.com/x", ts(3)), (4L, "junk", ts(4)))
      .toDF("id", "url", "ts").repartition(1).write.mode("append").parquet(in)
    runSegment(plan(), s"$base/out", s"$base/ck")
    runSegment(plan(), s"$base/out2", s"$base/ck2")

    def ids(p: String) = spark.read.parquet(p).collect()
      .map(_.getAs[Long]("id")).toSeq
    val resumed = ids(s"$base/out")
    assert(resumed.sorted == ids(s"$base/out2").sorted, "resumed != uninterrupted")
    assert(resumed.toSet == Set(1L, 2L, 4L), s"state lost across restart: $resumed")
  }
}
