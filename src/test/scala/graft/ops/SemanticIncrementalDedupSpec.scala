package graft.ops

import graft.SparkTestBase

class SemanticIncrementalDedupSpec extends SparkTestBase {
  import spark.implicits._

  private def vecs = Seq(
    // cluster A: three near-identical directions
    (1L, Array(1.0, 0.0, 0.0, 0.01), 0),
    (2L, Array(0.99, 0.01, 0.0, 0.0), 0),
    (3L, Array(1.0, 0.02, 0.01, 0.0), 0),
    // cluster B: two aligned on the second axis
    (10L, Array(0.0, 1.0, 0.0, 0.0), 1),
    (11L, Array(0.01, 0.98, 0.0, 0.02), 1),
    // singleton, orthogonal-ish
    (20L, Array(0.0, 0.0, 1.0, 0.0), 2)
  ).toDF("vec_id", "embedding", "label")

  test("semanticDedup (exact pairs): one representative per cosine cluster, singletons kept") {
    val kept = Dedup.semanticDedup(vecs, "vec_id", "embedding",
        threshold = 0.9, dims = 4, exactPairs = true)
      .select("vec_id").as[Long].collect().toSet
    assert(kept == Set(1L, 10L, 20L)) // min id per cluster + the singleton
  }

  test("embeddingNearDupPairsLsh: subset of brute-force pairs, identical cos values") {
    val exact = Dedup.embeddingNearDupPairs(vecs, "vec_id", "embedding", 0.9)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    val lsh = Dedup.embeddingNearDupPairsLsh(vecs, "vec_id", "embedding", 0.9,
      dims = 4, planes = 2, tables = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    assert(lsh.keySet.subsetOf(exact.keySet))
    lsh.foreach { case (k, cos) => assert(cos == exact(k)) }
    // semanticDedup via LSH keeps a superset (missed pairs only split clusters)
    val keptLsh = Dedup.semanticDedup(vecs, "vec_id", "embedding",
      threshold = 0.9, dims = 4).select("vec_id").as[Long].collect().toSet
    assert(Set(1L, 10L, 20L).subsetOf(keptLsh))
  }

  test("incrementalDedup equals the plain anti-join, including bloom false positives") {
    val ref = (1 to 400).map(i => (i.toLong, s"key_${i % 120}")).toDF("id", "k")
    val batch = (1000 to 1300).map(i => (i.toLong, s"key_${i % 300}")).toDF("id", "k")
    // tiny sketch + high fpp forces bloom false positives; the exact
    // anti-join must resolve every one of them
    val got = Dedup.incrementalDedup(batch, ref, Seq("k"),
        expectedRefDistinct = 50L, fpp = 0.3)
      .select("id").as[Long].collect().toSet
    val want = batch.join(ref.select("k").distinct(), Seq("k"), "left_anti")
      .select("id").as[Long].collect().toSet
    assert(got == want)
    assert(want.nonEmpty && want.size < 301) // fixture has both dups and survivors
  }

  test("incrementalDedup: clean rows skip the join (plan keeps one join branch only)") {
    val ref = (1 to 50).map(i => (i.toLong, s"k$i")).toDF("id", "k")
    val batch = (40 to 90).map(i => (i.toLong, s"k$i")).toDF("id", "k")
    val out = Dedup.incrementalDedup(batch, ref, Seq("k"))
    // bloom prefilter present before optimization (ConvertToLocalRelation
    // folds literal-backed branches, so check the analyzed plan) and the
    // whole pipeline pays exactly ONE join — the clean branch is join-free
    val analyzed = out.queryExecution.analyzed.toString
    assert(analyzed.contains("bloom_might_contain"), s"bloom prefilter expected:\n$analyzed")
    assert("(?i)join".r.findAllIn(analyzed).size == 1,
      s"exactly one (anti) join expected — the clean branch must be join-free:\n$analyzed")
    assert(out.select("id").as[Long].collect().toSet == (51L to 90L).toSet)
  }
}
