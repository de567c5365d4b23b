package graft.ops

import graft.SparkTestBase
import graft.tools.Recorded.recorded
import org.apache.spark.sql.functions._

class ClustersSpec extends SparkTestBase {

  test("connected components: chains merge, singletons keep own label") {
    import spark.implicits._
    // 1-2, 2-3 (one component), 5-6, isolated node 9 appears via self-pair? no — only edges
    val edges = Seq((1L, 2L), (2L, 3L), (5L, 6L)).toDF("a", "b")
    val comp = Clusters.connectedComponents(edges, "a", "b")
      .collect().map(r => r.getAs[Long]("id") -> r.getAs[Long]("component")).toMap
    assert(comp == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 5L -> 5L, 6L -> 5L))
  }

  test("connected components: long chain converges past one round (distributed path)") {
    import spark.implicits._
    val edges = (1L until 10L).map(i => (i, i + 1)).toDF("a", "b")
    // driverEdgeLimit = 0 forces the distributed star contraction
    val comp = Clusters.connectedComponents(edges, "a", "b", driverEdgeLimit = 0L)
      .collect().map(r => r.getAs[Long]("component")).toSet
    assert(comp == Set(1L)) // all ten nodes in component 1
  }

  test("connected components: 30-node path on the distributed branch has no diameter limit") {
    import spark.implicits._
    // a path longer than any fixed per-hop round budget: every node must
    // still get the path's minimum id
    val edges = (101L until 130L).map(i => (i, i + 1)).toDF("a", "b")
    val comp = Clusters.connectedComponents(edges, "a", "b", driverEdgeLimit = 0L)
      .collect().map(r => r.getAs[Long]("id") -> r.getAs[Long]("component")).toMap
    assert(comp == (101L to 130L).map(_ -> 101L).toMap)
  }

  test("connected components: driver union-find path agrees with distributed") {
    import spark.implicits._
    val edges = Seq((1L, 2L), (2L, 3L), (5L, 6L), (8L, 9L), (9L, 5L)).toDF("a", "b")
    val small = Clusters.connectedComponents(edges, "a", "b")
      .collect().map(r => r.getAs[Long]("id") -> r.getAs[Long]("component")).toMap
    val dist = Clusters.connectedComponents(edges, "a", "b", driverEdgeLimit = 0L)
      .collect().map(r => r.getAs[Long]("id") -> r.getAs[Long]("component")).toMap
    assert(small == dist)
    assert(small == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 5L -> 5L, 6L -> 5L, 8L -> 5L, 9L -> 5L))
  }

  test("engine choice runs no full edge-volume job: the take probe stops after one partition") {
    import spark.implicits._
    // star graph (hub 0): diameter 2, so the forced distributed path
    // converges in a couple of rounds; 4000 edges >> driverEdgeLimit=8.
    // 16 range partitions, so the checkpointed edges have 16 partitions
    // and a full pass over them is 16 tasks against the probe's one.
    val parts = 16
    val edges = spark.range(1, 4001, 1, parts).select(lit(0L).as("a"), $"id".as("b"))
    // AQE both splits the materialization into several jobs (unstable
    // job indexes) and can coalesce the 16 partitions away — pin the
    // classic planner so "one partition of sixteen" is observable
    val (_, rec) = withConf("spark.sql.shuffle.partitions" -> "16",
        "spark.sql.adaptive.enabled" -> "false") {
      recorded(spark) {
        val comp = Clusters.connectedComponents(edges, "a", "b", driverEdgeLimit = 8L)
        assert(comp.filter($"component" === 0L).count() == 4001L)
      }
    }
    val tasks = rec.jobs.map(_.tasks)
    // Job 0 is the take(lim + 1) engine-choice probe over the lazily
    // checkpointed edges. Their first partition already holds more
    // than lim + 1 = 9 rows, so the probe runs one task and stops. The
    // jobs after it are the star contraction's and the final count's.
    // A full pass over the checkpoint, or engine work placed before
    // the probe, runs at least `parts` tasks in job 0.
    assert(tasks.length >= 2, s"expected probe + engine jobs, saw $tasks")
    assert(tasks(0) < parts,
      s"engine-choice probe ran ${tasks(0)} tasks of $parts partitions — " +
        s"the probe no longer stops early; jobs: $tasks")
  }

  test("star contraction: non-convergence throws") {
    import spark.implicits._
    // one contraction round cannot turn a 6-node path into a fixpoint
    val edges = (1L until 6L).map(i => (i, i + 1)).toDF("a", "b")
    val ex = intercept[IllegalStateException] {
      Clusters.connectedComponentsStar(edges, "a", "b", maxIter = 1).collect()
    }
    assert(ex.getMessage.contains("did not converge"))
    // with the default round budget the same graph converges to one component
    val full = Clusters.connectedComponentsStar(edges, "a", "b")
      .collect().map(r => r.getAs[Long]("component")).toSet
    assert(full == Set(1L))
  }

  test("dedupByPairs keeps min-id representative plus untouched docs") {
    import spark.implicits._
    val docs = Seq((1L, "x"), (2L, "x2"), (3L, "x3"), (7L, "solo")).toDF("doc_id", "text")
    val pairs = Seq((1L, 2L), (2L, 3L)).toDF("id_a", "id_b")
    val kept = Clusters.dedupByPairs(docs, "doc_id", pairs, "id_a", "id_b")
      .collect().map(_.getAs[Long]("doc_id")).toSet
    assert(kept == Set(1L, 7L)) // cluster {1,2,3} -> 1; 7 untouched
  }

  test("sessionize splits on gaps and aggregates per session") {
    import spark.implicits._
    def ts(m: Int) = java.sql.Timestamp.valueOf(f"2024-01-01 10:$m%02d:00")
    val ev = Seq(
      (1L, 1L, ts(0), 1.0), (1L, 2L, ts(10), 2.0),   // session 1 (gap 10m)
      (1L, 3L, ts(50), 4.0),                          // session 2 (gap 40m > 30m)
      (2L, 4L, ts(5), 8.0))
      .toDF("user_id", "event_id", "ts", "value")
    val out = Sessions.sessionStats(ev, "user_id", "ts", "value",
      gapSeconds = 1800, tiebreak = Seq("event_id"))
      .collect()
      .map(r => (r.getAs[Long]("user_id"), r.getAs[Long]("session_idx")) ->
        (r.getAs[Long]("n_events"), r.getAs[Long]("span_secs"), r.getAs[Double]("total_value")))
      .toMap
    assert(out == Map(
      (1L, 1L) -> (2L, 600L, 3.0),
      (1L, 2L) -> (1L, 0L, 4.0),
      (2L, 1L) -> (1L, 0L, 8.0)))
  }

  test("ivf ANN finds the exact-duplicate vector in its probe cells") {
    import spark.implicits._
    val rnd = new scala.util.Random(7)
    val base = Array.fill(8)(rnd.nextFloat())
    val vecs = ((1L, base) +: (2L, base) +:
      (3L to 30L).map(i => (i, Array.fill(8)(rnd.nextFloat()))).toSeq)
      .toDF("vec_id", "embedding")
    val top = Similarity.ivfTopK(vecs, "vec_id", "embedding", dims = 8,
      k = 1, nlist = 3, nprobe = 2)
      .collect().map(r => r.getAs[Long]("qid") -> r.getAs[Long]("nid")).toMap
    assert(top(1L) == 2L && top(2L) == 1L) // identical vectors share a cell
  }

  test("ivfLookup at nprobe = nlist equals exact brute-force top-k, keeps id collisions") {
    import spark.implicits._
    val rnd = new scala.util.Random(11)
    val cvecs = (1L to 25L).map(i => (i, Array.fill(8)(rnd.nextFloat())))
    val corpus = cvecs.toDF("vec_id", "embedding")
    // disjoint query ids: probing ALL cells must reproduce exact
    // brute-force top-k, rank for rank
    val queries = (101L to 105L).map(i => (i, Array.fill(8)(rnd.nextFloat())))
      .toDF("vec_id", "embedding")
    val got = Similarity.ivfLookup(queries, corpus, "vec_id", "embedding",
        dims = 8, k = 3, nlist = 3, nprobe = 3)
      .collect().map(r => (r.getAs[Long]("qid"), r.getAs[Int]("rank")) ->
        r.getAs[Long]("nid")).toMap
    val expect = Similarity.bruteForceTopK(queries, corpus, "vec_id", "embedding", k = 3)
      .collect().map(r => (r.getAs[Long]("qid"), r.getAs[Int]("rank")) ->
        r.getAs[Long]("nid")).toMap
    assert(got == expect && got.size == 15)
    // a query whose id AND vector collide with a corpus row: a lookup
    // must NOT self-exclude (different namespaces, unlike the
    // self-join) — the identical twin wins rank 1
    val twin = Seq((7L, cvecs(6)._2)).toDF("vec_id", "embedding")
    val t = Similarity.ivfLookup(twin, corpus, "vec_id", "embedding",
        dims = 8, k = 1, nlist = 3, nprobe = 3)
      .collect().map(r => (r.getAs[Long]("qid"), r.getAs[Long]("nid"), r.getAs[Double]("cos")))
    assert(t.length == 1 && t.head._1 == 7L && t.head._2 == 7L && t.head._3 > 0.9999)
  }

  test("int8 IVF ANN agrees with the float path on the duplicate-vector fixture") {
    import spark.implicits._
    val rnd = new scala.util.Random(7)
    val base = Array.fill(8)(rnd.nextFloat())
    val vecs = ((1L, base) +: (2L, base) +:
      (3L to 30L).map(i => (i, Array.fill(8)(rnd.nextFloat()))).toSeq)
      .toDF("vec_id", "embedding")
    val top = Similarity.ivfTopKInt8(vecs, "vec_id", "embedding", dims = 8,
      k = 1, nlist = 3, nprobe = 2)
      .collect().map(r => r.getAs[Long]("qid") -> r.getAs[Long]("nid")).toMap
    // the coarse int8 pass can't miss an exact duplicate (identical
    // codes -> max approximate cosine), and the exact re-rank scores it 1.0
    assert(top(1L) == 2L && top(2L) == 1L)
  }

  test("GraftExtensions injects vec_dot; SQL-level evaluation works") {
    // the injector accepts a real extensions instance without error
    new graft.GraftExtensions().apply(new org.apache.spark.sql.SparkSessionExtensions)
    // and the function evaluates through SQL on a registered session
    graft.functions.Registry.ensure(spark)
    val v = spark.sql("SELECT vec_dot(array(1.0d, 2.0d), array(3.0d, 4.0d)) AS d")
      .collect().head.getDouble(0)
    assert(v == 11.0)
  }

  test("winnowing: shared long substring yields overlapping fingerprints") {
    import spark.implicits._
    val common = "the quick brown fox jumps over the lazy dog repeatedly"
    val docs = Seq(
      (1L, common + " alpha beta"),
      (2L, "gamma delta " + common),
      (3L, "entirely unrelated text about query engines and shuffles"))
      .toDF("doc_id", "text")
    val fps = TextAnalysis.winnowingFingerprint(docs, "doc_id", "text")
      .collect().map(r => r.getAs[Long]("doc_id") -> r.getAs[String]("fp").split(",").toSet).toMap
    assert((fps(1L) intersect fps(2L)).nonEmpty)
    assert((fps(1L) intersect fps(3L)).isEmpty)
  }

  test("dedupByPairsBest: highest score survives, id-asc tie-break, singletons untouched") {
    import spark.implicits._
    val docs = Seq((1L, 10L), (2L, 30L), (3L, 30L), (4L, 7L))
      .toDF("doc_id", "n_chars")
    // cluster {1,2,3}: 2 and 3 tie on score 30 -> id-asc keeps 2
    val pairs = Seq((1L, 2L), (2L, 3L)).toDF("id_a", "id_b")
    val kept = Clusters.dedupByPairsBest(docs, "doc_id", "n_chars",
        pairs, "id_a", "id_b")
      .collect().map(_.getLong(0)).toSet
    assert(kept == Set(2L, 4L))
  }

  test("clusterTerms: merged cluster tf, singleton clusters, rank tie-break") {
    import spark.implicits._
    val docs = Seq(
      (1L, "apple apple pie"), (2L, "apple tart"), // clustered by the pair
      (3L, "zebra zoo") // singleton
    ).toDF("doc_id", "text")
    val pairs = Seq((1L, 2L)).toDF("id_a", "id_b")
    val got = Clusters.clusterTerms(docs, "doc_id", "text", pairs, "id_a", "id_b", k = 2)
      .collect().map(r => (r.getLong(0), r.getInt(3)) -> (r.getString(1), r.getLong(2))).toMap
    // universe: cluster 1 (docs 1+2) and singleton 3 -> C = 2
    def w(tf: Int, cf: Int): Long =
      math.floor(tf * math.log(1.0 + 2.0 / cf) * 1e6 + 0.5).toLong
    // cluster 1: apple tf=3 cf=1; pie/tart tf=1 cf=1 -> apple first, pie by tie-break
    assert(got((1L, 1)) == (("apple", w(3, 1))))
    assert(got((1L, 2)) == (("pie", w(1, 1))))
    // singleton cluster keyed by its own id; equal weights tie-break by term
    assert(got((3L, 1)) == (("zebra", w(1, 1))))
    assert(got((3L, 2)) == (("zoo", w(1, 1))))
  }
}
