package graft.ops

import graft.SparkTestBase

/** [[Clusters.connectedComponentsStar]]: must produce EXACTLY the
  * labels of the driver union-find on every graph shape — including
  * the long-chain case where label propagation's round count equals
  * the path length and the star algorithm's O(log² n) bound is the
  * whole point. */
class StarComponentsSpec extends SparkTestBase {
  import spark.implicits._

  private def labelsOf(df: org.apache.spark.sql.DataFrame): Map[Long, Long] =
    df.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap

  private def assertSame(edges: Seq[(Long, Long)], tag: String): Unit = {
    val e = edges.toDF("s", "d")
    val star = labelsOf(Clusters.connectedComponentsStar(e, "s", "d"))
    val ref = labelsOf(Clusters.connectedComponents(e, "s", "d"))
    assert(star == ref, s"$tag: star=$star ref=$ref")
  }

  test("random graphs: star == union-find labels") {
    val rnd = new scala.util.Random(7)
    for (trial <- 0 until 5) {
      val n = 60
      val edges = (0 until 90).map(_ =>
        (rnd.nextInt(n).toLong, rnd.nextInt(n).toLong))
      assertSame(edges, s"trial $trial")
    }
  }

  test("path graph of 400 nodes converges (label prop would need 400 rounds)") {
    val chain = (0L until 399L).map(i => (i, i + 1))
    val star = labelsOf(Clusters.connectedComponentsStar(chain.toDF("s", "d"), "s", "d"))
    assert(star.size == 400 && star.values.forall(_ == 0L))
  }

  test("cliques, singleton self-loop, two components") {
    val clique = for (i <- 0L until 10L; j <- (i + 1) until 10L) yield (i, j)
    val second = Seq((100L, 101L), (101L, 102L))
    val selfLoop = Seq((500L, 500L))
    val all = clique ++ second ++ selfLoop
    val star = labelsOf(Clusters.connectedComponentsStar(all.toDF("s", "d"), "s", "d"))
    assert((0L until 10L).forall(star(_) == 0L))
    assert(Seq(100L, 101L, 102L).forall(star(_) == 100L))
    assert(star(500L) == 500L, "self-loop-only node labels itself")
    assertSame(all, "mixed")
  }

  test("star-shaped and binary-tree graphs") {
    assertSame((1L to 50L).map(i => (0L, i)), "hub")
    assertSame((1L until 64L).map(i => ((i - 1) / 2, i)), "tree")
  }
}
