package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/**
 * Duplicate-cluster resolution: near-dup PAIRS (from MinHash/SimHash/
 * Jaccard/cosine blocking) -> connected components -> one canonical
 * representative per cluster.
 *
 * Two component engines, chosen by scale:
 *  - driver union-find under `driverEdgeLimit` (one job);
 *  - alternating large-star/small-star ([[connectedComponentsStar]],
 *    Kiveris et al. 2014) above it — O(log² n) rounds REGARDLESS of
 *    diameter, so a chain-shaped graph (URL redirect chains, citation
 *    paths) needs no more rounds than a near-clique dup cluster.
 * Lineage is cut with localCheckpoint each round so iterations don't
 * stack plans.
 */
object Clusters {

  /** (id, component) for every node appearing in `edges`; component =
    * min node id reachable. Adaptive: small edge sets resolve with
    * driver union-find (one job instead of one per contraction round);
    * big graphs take the distributed star contraction. */
  def connectedComponents(edges: DataFrame, srcCol: String, dstCol: String,
                          driverEdgeLimit: Long = 2000000L): DataFrame = {
    // One direction per pair: the union-find reads both endpoints of
    // every row, and the star normalizes with least/greatest itself.
    val raw = edges.select(col(srcCol).cast("long").as("a"), col(dstCol).cast("long").as("b"))
      .localCheckpoint(eager = false)
    // Engine choice WITHOUT a full edge-volume job: take(limit+1) scans
    // the checkpointed partitions INCREMENTALLY (1, then scaleUpFactor×
    // more per round) and stops the moment it has limit+1 rows — on a
    // big graph that is a handful of partitions, never the whole edge
    // set (the r12 count() here was a second full-volume pass). When
    // the graph IS small, the taken rows are complete and feed the
    // union-find directly — the old separate collect() job is gone too.
    // The probe runs BEFORE any distinct — union-find is insensitive
    // to duplicate edges, so the small path pays ZERO shuffles; the
    // limit counts input pair rows (duplicates included), which only
    // errs toward the distributed engine. That engine reads `raw`, the
    // checkpoint the probe has partly filled, so the upstream pair
    // lineage is never computed twice; it normalizes and distincts the
    // edges itself.
    val lim = math.min(driverEdgeLimit, Int.MaxValue - 1L).toInt
    val head = raw.take(lim + 1)
    if (head.length <= lim) driverUnionFind(raw.sparkSession, head)
    else connectedComponentsStar(raw, "a", "b")
  }

  /**
   * Connected components by alternating LARGE-STAR / SMALL-STAR
   * contractions (Kiveris, Lattanzi, Mirrokni, Rastogi, Vassilvitskii,
   * "Connected Components in MapReduce and Beyond", SoCC 2014):
   * each undirected edge is processed from one endpoint's
   * neighborhood, which rewires it toward the neighborhood minimum —
   * large-star attaches STRICTLY LARGER neighbors to the min,
   * small-star the rest. The edge set provably converges to stars
   * rooted at each component's minimum id in O(log² n) rounds
   * regardless of graph diameter.
   *
   * Each half-round is one groupBy (the per-node neighborhood min,
   * map-side combined) and one join, both keyed on node id; the
   * convergence probe is ONE (count, bit_xor-of-hash) aggregate per
   * round — probabilistic set equality, rationale at the probe.
   * Output: (id, component) for every node appearing in `edges`,
   * component = min reachable id — identical to the driver union-find
   * (property-pinned in the spec). Not converging in `maxIter` rounds
   * throws: partial labels would split a duplicate cluster in two and
   * dedup would under-remove with no signal.
   */
  def connectedComponentsStar(edges: DataFrame, srcCol: String, dstCol: String,
                              maxIter: Int = 30): DataFrame = {
    val cast = edges
      .select(col(srcCol).cast("long").as("a"), col(dstCol).cast("long").as("b"))
      .filter(col("a").isNotNull && col("b").isNotNull)
    // nodes BEFORE the self-loop drop: an id appearing only as (x, x)
    // still labels itself
    val nodes = cast.select(col("a").as("id"))
      .union(cast.select(col("b").as("id"))).distinct().localCheckpoint(eager = false)
    val e0 = cast.filter(col("a") =!= col("b"))
      .select(least(col("a"), col("b")).as("a"), greatest(col("a"), col("b")).as("b"))
      .distinct().localCheckpoint(eager = false)
    // one star half-round: every edge, viewed from endpoint u (large:
    // the SMALLER endpoint's view covers its larger neighbors; small:
    // the larger endpoint's view covers the rest), is rewired to
    // (m, v) where m = min(N(u) ∪ {u})
    def star(e: DataFrame, large: Boolean): DataFrame = {
      val sym = e.select(col("a"), col("b"))
        .union(e.select(col("b").as("a"), col("a").as("b")))
      val mins = sym.groupBy(col("a").as("u"))
        .agg(min(col("b")).as("_nmin"))
        .select(col("u"), least(col("_nmin"), col("u")).as("m"))
      val side = sym.join(mins, col("a") === col("u"))
      val kept =
        if (large) side.filter(col("b") > col("a"))
          .select(col("m").as("a"), col("b"))
        else
          // small-star MUST also emit (u, m) per node: every edge
          // (x, y), x < y is rewired from y's view to (x, m_y), so
          // without its own edge to the minimum, y itself would
          // detach (a single edge (0,1) collapses to the filtered
          // self-loop (0,0) and the component vanishes)
          side.filter(col("b") < col("a"))
            .select(col("m").as("a"), col("b"))
            .unionAll(mins.select(col("m").as("a"), col("u").as("b")))
      kept.filter(col("a") =!= col("b")).distinct()
    }
    // convergence probe: (count, order-independent hash-xor) of the
    // edge set — ONE aggregate per round instead of two exceptAll
    // anti-joins (4 shuffles). Both rounds' sets are distinct, so
    // equal count + equal 64-bit xor means equal sets up to a
    // vanishing collision probability; a false "converged" would need
    // two different same-size edge sets whose xxhash64 xors collide
    // in the same run (xor, not sum: ANSI mode faults a long-sum
    // overflow). The final state must also be a contraction fixpoint,
    // which the maxIter throw guards regardless.
    def probe(d: DataFrame): (Long, Long) = {
      val r = d.agg(count(lit(1)),
        expr("bit_xor(xxhash64(a, b))")).head()
      (r.getLong(0), if (r.isNullAt(1)) 0L else r.getLong(1))
    }
    var e = e0
    var sig = probe(e0)
    var iter = 0
    var converged = false
    while (!converged && iter < maxIter) {
      val next = star(star(e, large = true), large = false).localCheckpoint(eager = false)
      val nextSig = probe(next)
      converged = nextSig == sig
      e = next
      sig = nextSig
      iter += 1
    }
    if (!converged)
      throw new IllegalStateException(
        s"connectedComponentsStar did not converge in $maxIter rounds " +
        "(theoretical bound is O(log^2 n)); raise maxIter")
    // converged edges are stars (root, v): root = component min — one
    // row per node
    nodes
      .join(e.select(col("b").as("id"), col("a").as("_root")), Seq("id"), "left")
      .select(col("id"), coalesce(col("_root"), col("id")).as("component"))
  }

  /** In-memory union-find over a collected (already-checkpointed)
    * edge list; result distributed back as a DataFrame. */
  private def driverUnionFind(spark: org.apache.spark.sql.SparkSession,
                              rows: Array[org.apache.spark.sql.Row]): DataFrame = {
    import spark.implicits._
    val parent = scala.collection.mutable.HashMap[Long, Long]()
    def find(x: Long): Long = {
      var r = x
      while (parent.getOrElse(r, r) != r) r = parent.getOrElse(r, r)
      var c = x
      while (parent.getOrElse(c, c) != c) { val n = parent(c); parent(c) = r; c = n }
      r
    }
    rows.foreach { row =>
      val a = row.getLong(0); val b = row.getLong(1)
      parent.getOrElseUpdate(a, a); parent.getOrElseUpdate(b, b)
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) { if (ra < rb) parent(rb) = ra else parent(ra) = rb }
    }
    parent.keys.toSeq.map(id => (id, find(id))).toDF("id", "component")
  }

  /**
   * Near-dup dedup: keep ONE doc per duplicate cluster (the min id —
   * deterministic canonical); docs not in any pair pass through.
   */
  def dedupByPairs(docs: DataFrame, idCol: String, pairs: DataFrame,
                   pairACol: String, pairBCol: String): DataFrame = {
    val comp = connectedComponents(pairs, pairACol, pairBCol)
    val canonical = comp.groupBy(col("component")).agg(min(col("id")).as("keep_id"))
    val losers = comp.join(canonical, "component")
      .filter(col("id") =!= col("keep_id"))
      .select(col("id"))
    docs.join(losers.withColumnRenamed("id", idCol), Seq(idCol), "left_anti")
  }

  /**
   * Quality-aware near-dup resolution: like [[dedupByPairs]] but the
   * survivor of each component is the member with the HIGHEST
   * `scoreCol` (id-asc tie-break) instead of the smallest id — the
   * curation default ("keep the longest / highest-quality duplicate,
   * drop the rest"). Docs in no pair survive untouched. Same shapes
   * as dedupByPairs plus one tiny keeper aggregate on the component
   * relation.
   */
  def dedupByPairsBest(docs: DataFrame, idCol: String, scoreCol: String,
                       pairs: DataFrame, pairACol: String, pairBCol: String): DataFrame = {
    val comp = connectedComponents(pairs, pairACol, pairBCol)
    val assigned = docs
      .join(comp.withColumnRenamed("id", idCol), Seq(idCol), "left")
      .withColumn("_cl", coalesce(col("component"), col(idCol)))
    val keepers = assigned.groupBy(col("_cl"))
      .agg(max(struct(col(scoreCol).as("s"), (-col(idCol)).as("negid"))).as("_k"))
      .select(col("_cl"), (-col("_k.negid")).as("_keep_id"))
    assigned.join(keepers, "_cl")
      .filter(col(idCol) === col("_keep_id"))
      .drop("_cl", "_keep_id", "component")
  }

  /**
   * Class-based TF-IDF (the BERTopic "explain the clusters" report):
   * each near-dup component is treated as ONE mega-document —
   * tf = term count across the cluster, idf = ln(1 + C/cf) over the
   * cluster universe (cf = clusters containing the term, C = total
   * clusters incl. singletons) — and the top-`k` terms per cluster are
   * ranked by the same integer-micro weight as
   * [[TextAnalysis.keywords]] ((weight desc, term asc) — the label a
   * curator reads to decide what a duplicate cluster IS). Docs in no
   * pair are their own singleton cluster (their id), so the cluster
   * universe covers the corpus.
   *
   * Scale: the components relation is pair-derived (near-dup-sized);
   * assignment joins it to docs by id; everything after is the
   * keywords shuffle shape at cluster granularity.
   */
  def clusterTerms(docs: DataFrame, idCol: String, textCol: String,
                   pairs: DataFrame, pairACol: String, pairBCol: String,
                   k: Int = 3): DataFrame = {
    val comp = connectedComponents(pairs, pairACol, pairBCol)
    val assigned = docs
      .join(comp.withColumnRenamed("id", idCol), Seq(idCol), "left")
      .withColumn("cluster", coalesce(col("component"), col(idCol)))
    val tf = assigned
      .select(col("cluster"), explode(Dedup.tokens(col(textCol))).as("term"))
      .groupBy(col("cluster"), col("term")).agg(count(lit(1)).as("tf"))
    val cf = tf.groupBy(col("term")).agg(count(lit(1)).as("cf"))
    val nClusters = assigned.select(count_distinct(col("cluster")).as("n_clusters"))
    val w = tf.join(cf, "term").crossJoin(broadcast(nClusters))
      .withColumn("wn",
        floor(col("tf") * log(lit(1.0) + col("n_clusters").cast("double") / col("cf"))
          * lit(1e6) + lit(0.5)).cast("long"))
      .filter(col("wn") > 0)
    val win = org.apache.spark.sql.expressions.Window
      .partitionBy(col("cluster")).orderBy(col("wn").desc, col("term").asc)
    w.withColumn("rank", row_number().over(win)).filter(col("rank") <= k)
      .select(col("cluster"), col("term"), col("wn"), col("rank"))
  }
}
