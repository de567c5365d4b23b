package graft.ops

import graft.SparkTestBase
import org.apache.spark.sql.functions._

/** Scale-mechanism demonstrations: bucketed co-located joins and
  * salted skew joins produce correct results with the intended plans. */
class ScaleSpec extends SparkTestBase {

  test("bucketed tables join WITHOUT a shuffle exchange (co-located join)") {
    import spark.implicits._
    // warehouse.dir is static config; tables land in ./spark-warehouse
    // (gitignored) and are dropped in the finally
    spark.sql("DROP TABLE IF EXISTS b_orders")
    spark.sql("DROP TABLE IF EXISTS b_customer")
    // disable auto-broadcast so the join would otherwise shuffle
    try withConf("spark.sql.autoBroadcastJoinThreshold" -> "-1") {
      (1L to 100L).map(i => (i, i % 10, i * 1.5)).toDF("o_id", "cust", "amt")
        .write.bucketBy(4, "cust").sortBy("cust").saveAsTable("b_orders")
      (0L to 9L).map(i => (i, s"c$i")).toDF("cust", "name")
        .write.bucketBy(4, "cust").saveAsTable("b_customer")
      val joined = spark.table("b_orders").join(spark.table("b_customer"), "cust")
      val plan = joined.queryExecution.executedPlan.toString
      assert(!plan.contains("Exchange"), s"expected exchange-free bucketed join, got:\n$plan")
      assert(joined.count() == 100)
    } finally {
      spark.sql("DROP TABLE IF EXISTS b_orders")
      spark.sql("DROP TABLE IF EXISTS b_customer")
    }
  }

  test("goval date-literal filter on a timestamp column pushes down to the parquet scan") {
    val pred = graft.expr.Goval.translate(
      "o_orderdate >= '1995-06-01' && o_orderdate < '1995-09-01'",
      timestampTyped = Map("o_orderdate" -> "timestamp_ntz").get).sql
    val df = spark.read.parquet("/root/testdata/sf0.001/orders.parquet")
      .filter(expr(pred)).select("o_orderkey")
    val scan = df.queryExecution.executedPlan.toString
    assert(scan.contains("PushedFilters") && scan.contains("GreaterThanOrEqual(o_orderdate"),
      s"date-range filter must reach the scan:\n$scan")
    assert(df.count() > 0)
  }

  test("quantileBuckets: row-local decile assignment, no global sort in the plan") {
    import spark.implicits._
    val df = (1L to 1000L).map(i => (i, (i % 100).toDouble)).toDF("id", "v")
    val out = Sampling.quantileBuckets(df, "v", nBuckets = 4)
    // accuracy >> distinct values -> thresholds exact -> balanced quartiles
    val counts = out.groupBy("bucket").count().collect()
      .map(r => r.getAs[Int]("bucket") -> r.getAs[Long]("count")).toMap
    assert(counts.keySet == Set(1, 2, 3, 4))
    assert(counts.values.forall(c => c >= 200 && c <= 300), s"skewed buckets: $counts")
    // monotone: every bucket-2 value is >= every bucket-1 value
    val maxB1 = out.filter(col("bucket") === 1).agg(max("v")).head.getDouble(0)
    val minB2 = out.filter(col("bucket") === 2).agg(min("v")).head.getDouble(0)
    assert(maxB1 <= minB2)
    // the assignment plan is a pure map over the input — no Sort, no Window
    val plan = out.queryExecution.executedPlan.toString
    assert(!plan.contains("Sort") && !plan.contains("Window"),
      s"bucket assignment must not global-sort:\n$plan")
  }

  test("weightedSample: weight-monotone, repartition-stable, top-k not global sort") {
    import spark.implicits._
    // one heavy item among uniform light ones: -ln(u)/w shrinks with w,
    // so the heavy item is (deterministically, given the hash draws)
    // in any reasonably sized sample
    val df = ((1L to 200L).map(i => (i, 1.0)) :+ (999L, 1e9)).toDF("id", "w")
    def ids(d: org.apache.spark.sql.DataFrame) =
      Sampling.weightedSample(d, "id", "w", k = 20)
        .select("id").collect().map(_.getLong(0)).toSeq
    val a = ids(df)
    assert(a.contains(999L), s"heavy item missing from $a")
    assert(a == ids(df.repartition(7))) // pure function of the data
    // zero/negative weights carry no mass
    val z = Sampling.weightedSample(
      Seq((1L, 0.0), (2L, -3.0), (3L, 1.0)).toDF("id", "w"), "id", "w", 5)
    assert(z.select("id").collect().map(_.getLong(0)).toSeq == Seq(3L))
    // plan: TakeOrderedAndProject, not a global Sort + Limit
    val plan = Sampling.weightedSample(df, "id", "w", 20)
      .queryExecution.executedPlan.toString
    assert(plan.contains("TakeOrderedAndProject"),
      s"top-k should be TakeOrderedAndProject:\n$plan")
  }

  test("deterministic split is stable under repartitioning and rerun") {
    import spark.implicits._
    val df = (1L to 1000L).map(i => (i, s"doc$i")).toDF("id", "text")
    def splits(d: org.apache.spark.sql.DataFrame) =
      Sampling.withSplit(d, "id").select("id", "split").collect()
        .map(r => r.getLong(0) -> r.getString(1)).toMap
    val a = splits(df)
    val b = splits(df.repartition(7))
    assert(a == b) // membership is a pure function of the key
    val frac = a.values.count(_ == "train").toDouble / a.size
    assert(frac > 0.85 && frac < 0.95) // ~90% train
  }

  test("mixtureResample: integer weights repeat exactly, fractions sample, 0 drops; deterministic") {
    import spark.implicits._
    val df = (1L to 300L).map(i => (i, s"src${i % 3}")).toDF("id", "source")
    def run(d: org.apache.spark.sql.DataFrame) =
      Sampling.mixtureResample(d, "id", "source",
        Map("src0" -> 2.0, "src1" -> 0.5, "src2" -> 0.0))
        .select("id", "source", "epoch").collect()
        .map(r => (r.getLong(0), r.getString(1), r.getInt(2))).toSet
    val out = run(df)
    assert(out == run(df.repartition(7))) // pure function of the key
    val bySrc = out.groupBy(_._2).view.mapValues(_.size).toMap
    assert(bySrc("src0") == 200) // every src0 row exactly twice (epochs 1 and 2)
    assert(out.filter(_._2 == "src0").map(_._3).toSet == Set(1, 2))
    val s1 = bySrc.getOrElse("src1", 0)
    assert(s1 > 30 && s1 < 70, s"~50% of 100 expected, got $s1")
    assert(!bySrc.contains("src2")) // weight 0 drops the stratum
  }

  test("spanDedupHashed: span text never reaches the dedup rank exchange") {
    import spark.implicits._
    import org.apache.spark.sql.catalyst.plans.logical.{Window => LWindow}
    import org.apache.spark.sql.types.StringType
    val docs = (1L to 50L).map(i => (i, s"tok$i a b c d e")).toDF("doc_id", "text")
    // hashed twin: the first-occurrence rank window sees ONLY
    // (id, span_idx, hash) — 24 bytes/row through the exchange
    val hashedWin = Dedup.spanDedupHashed(docs, "doc_id", "text", 3)
      .queryExecution.optimizedPlan
      .collectFirst { case w: LWindow => w }.get
    assert(!hashedWin.child.output.exists(_.dataType == StringType),
      s"string column leaked into the hashed rank exchange: ${hashedWin.child.output}")
    // contrast: the raw (oracle-portable) form necessarily ranks the text
    val rawWin = Dedup.spanDedup(docs, "doc_id", "text", 3)
      .queryExecution.optimizedPlan
      .collectFirst { case w: LWindow => w }.get
    assert(rawWin.child.output.exists(_.dataType == StringType))
  }

  test("binaryTopK: float vectors never reach the coarse hamming window") {
    import spark.implicits._
    import org.apache.spark.sql.catalyst.plans.logical.{Window => LWindow}
    import org.apache.spark.sql.types.{ArrayType, DoubleType}
    val vecs = (1L to 40L).map(i =>
      (i, Array.tabulate(8)(d => math.sin(i * 17 + d)))).toDF("vec_id", "embedding")
    val plan = Similarity.binaryTopK(vecs, vecs, "vec_id", "embedding",
      dims = 8, k = 2, rerank = 8).queryExecution.optimizedPlan
    val wins = plan.collect { case w: LWindow => w }
    // coarse candidate window ranks on hamming ("rr"); its input must
    // carry only (qid, nid, ham) — the 8-byte packed words are consumed
    // row-locally in the compare and the double vectors are fetched
    // AFTER the cut, by the rerank join
    val coarse = wins.find(_.windowExpressions.exists(_.name == "rr"))
      .getOrElse(fail(s"no coarse window in plan: $wins"))
    assert(!coarse.child.output.exists(_.dataType == ArrayType(DoubleType, containsNull = false)) &&
           !coarse.child.output.exists(_.dataType == ArrayType(DoubleType, containsNull = true)),
      s"float vectors leaked into the coarse exchange: ${coarse.child.output}")
  }

  test("image near-dup: binary payloads never reach the banding exchange") {
    import spark.implicits._
    import org.apache.spark.sql.catalyst.plans.logical.Aggregate
    import org.apache.spark.sql.types.BinaryType
    val imgs = (0L until 16L).map(id => (id, Multimodal.synthPgmBits(id)))
      .toDF("doc_id", "content")
    val plan = Multimodal.imageNearDupPairs(imgs, "doc_id", "content")
      .queryExecution.optimizedPlan
    // every aggregation (the bucket groupBy) sees only (id, hash, band,
    // slice) — the decoded image and its bytes stay map-local
    val aggs = plan.collect { case a: Aggregate => a }
    assert(aggs.nonEmpty)
    aggs.foreach { a =>
      assert(!a.child.output.exists(_.dataType == BinaryType),
        s"binary column leaked into a shuffle: ${a.child.output}")
    }
  }

  test("boilerplateLineRemoval: line text never reaches a grouping exchange") {
    import spark.implicits._
    import org.apache.spark.sql.catalyst.plans.logical.Aggregate
    val docs = (1L to 30L).map(i => (i, s"d${i % 3}", s"line$i one\nshared footer\nline$i two"))
      .toDF("doc_id", "domain", "text")
    val plan = Dedup.boilerplateLineRemoval(docs, "doc_id", "text", "domain")
      .queryExecution.optimizedPlan
    // every aggregation (distinct, the (domain,hash) frequency count,
    // the per-doc keep list) sees hashes + keys only — the doc text
    // rides ONE fetch join at the end, never a grouping exchange
    val aggs = plan.collect { case a: Aggregate => a }
    assert(aggs.nonEmpty)
    aggs.foreach { a =>
      assert(!a.child.output.exists(_.name == "text"),
        s"doc text leaked into a grouping exchange: ${a.child.output}")
    }
  }

  test("exactSubstrDedup: window strings never reach a grouping exchange") {
    import spark.implicits._
    import org.apache.spark.sql.catalyst.plans.logical.Aggregate
    val docs = (1L to 30L).map(i => (i, s"t${i % 4} shared run of words t$i tail"))
      .toDF("doc_id", "text")
    val plan = Dedup.exactSubstrDedup(docs, "doc_id", "text", windowTokens = 4)
      .queryExecution.optimizedPlan
    // the first-occurrence agg and the covered-position dedup see the
    // 8-byte window hash + positions only; single TOKENS ride the
    // final rebuild agg (they ARE the output), but the L-token window
    // strings themselves must never cross an exchange
    val aggs = plan.collect { case a: Aggregate => a }
    assert(aggs.nonEmpty)
    aggs.foreach { a =>
      assert(!a.child.output.exists(_.name == "w"),
        s"window text leaked into a grouping exchange: ${a.child.output}")
    }
  }

  test("exactSubstrDedup: rebuild agg reuses the coverage window's id exchange") {
    import spark.implicits._
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    import org.apache.spark.sql.execution.window.WindowExec
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    val docs = (1L to 30L).map(i => (i, s"t${i % 4} shared run of words t$i tail"))
      .toDF("doc_id", "text")
    val df = Dedup.exactSubstrDedup(docs, "doc_id", "text", windowTokens = 4)
    df.collect() // finalize AQE
    def flatten(p: SparkPlan): Seq[SparkPlan] = {
      val nested = p match {
        case a: AdaptiveSparkPlanExec => flatten(a.executedPlan)
        case q: QueryStageExec => flatten(q.plan)
        case _ => Seq.empty
      }
      p +: (nested ++ p.children.flatMap(flatten))
    }
    val nodes = flatten(df.queryExecution.executedPlan)
    // the final rebuild groups by the coverage window's own partition
    // key (id) — if a ShuffleExchange ever appears ABOVE the window,
    // the zero-extra-shuffle rebuild contract broke
    val winIdx = nodes.indexWhere(_.isInstanceOf[WindowExec])
    assert(winIdx >= 0, s"no WindowExec in plan:\n${nodes.head}")
    assert(!nodes.take(winIdx).exists(_.isInstanceOf[ShuffleExchangeExec]),
      s"rebuild agg re-shuffled above the coverage window:\n${nodes.head}")
  }

  test("vocabulary: the rank window input is bounded by the top-K limit") {
    import spark.implicits._
    import org.apache.spark.sql.catalyst.plans.logical.{GlobalLimit, Window => LWindow}
    val docs = (1L to 100L).map(i => (i, s"w${i % 7} w${i % 3} common")).toDF("id", "text")
    val win = TextAnalysis.vocabulary(docs, "text", topK = 5)
      .queryExecution.optimizedPlan
      .collectFirst { case w: LWindow => w }.get
    // the window must sit ABOVE the limit: its input is ≤ topK rows, so
    // the constant-key single partition can never become a hotspot
    assert(win.child.collectFirst { case l: GlobalLimit => l }.isDefined,
      s"rank window input is not limit-bounded:\n${win.child}")
    assert(TextAnalysis.vocabulary(docs, "text", 5).count() == 5)
  }

  test("salted join spreads a hot key and matches the plain join result") {
    import spark.implicits._
    // one dominant key (90 of 100 rows)
    val fact = ((1 to 90).map(i => (1L, i.toLong)) ++ (1 to 10).map(i => (2L, i.toLong)))
      .toDF("k", "v")
    val dim = Seq((1L, "hot"), (2L, "cold")).toDF("k", "tag")
    val salted = Skew.saltedJoin(fact, dim, Seq("k"), buckets = 8)
      .groupBy("k", "tag").count().collect()
      .map(r => (r.getAs[Long]("k"), r.getAs[String]("tag")) -> r.getAs[Long]("count")).toMap
    assert(salted == Map((1L, "hot") -> 90L, (2L, "cold") -> 10L))
  }

  test("attribution: one event-volume exchange, touch+conversion filter pushed to the scan") {
    val ev = graft.queries.Queries.t(spark, "/root/testdata/sf0.001", "events")
    val plan = Funnels.attribution(ev, "user_id", "ts", "event_type", "value",
        "purchase", Seq("click", "view"), tiebreak = Seq("event_id"))
      .queryExecution.executedPlan.toString
    // exchange 1: the per-key carry window (event volume); exchange 2:
    // the closing per-channel aggregate (|channels| rows)
    assert(plan.split("Exchange").length - 1 == 2,
      s"expected two exchanges in the attribution plan:\n$plan")
    assert(plan.contains("PushedFilters: [In(event_type"),
      s"touch/conversion filter not pushed to the parquet scan:\n$plan")
  }

  test("dupNgramCoverage: the id repartition is the ONLY shuffle (subset-key reuse)") {
    import spark.implicits._
    withConf("spark.sql.autoBroadcastJoinThreshold" -> "-1") {
      val docs = (1L to 50L).map(i => (i, s"a b c a b d e f tok$i x y"))
        .toDF("doc_id", "text")
      val plan = TextAnalysis.dupNgramCoverage(docs, "doc_id", "text", n = 2,
          portableHash = false)
        .queryExecution.executedPlan.toString
      // every window / distinct / aggregate / join downstream clusters
      // on id or an (id, x) superset, which the single id hash
      // partitioning already satisfies — sorts, no further exchanges
      assert(plan.split("Exchange").length - 1 == 1,
        s"expected exactly one exchange (the id repartition):\n$plan")
    }
  }

  test("triangleCounts: no cartesian wedge enumeration, joins keyed on nodes") {
    import spark.implicits._
    val edges = (1L to 200L).flatMap(i => Seq((i, i + 1), (i, i + 2)))
      .toDF("a", "b")
    val plan = Graphs.triangleCounts(edges, "a", "b")
      .queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoop"),
      s"wedge enumeration degenerated to a cartesian product:\n$plan")
  }

  test("heavyHitters: exact count runs behind a broadcast candidate semi-join") {
    val docs = graft.queries.Queries.t(spark, "/root/testdata/sf0.001", "documents")
    val plan = TextAnalysis.heavyHitters(docs, "text", kInv = 64)
      .queryExecution.executedPlan.toString
    // the full-vocabulary shuffle is replaced by: a broadcast LeftSemi
    // against the MG candidate relation, then the count aggregate over
    // candidate-matched tokens only
    assert(plan.contains("LeftSemi") && plan.contains("BroadcastExchange"),
      s"candidate filter is not a broadcast semi-join:\n$plan")
  }

  test("normalizeText: a pure map — zero exchanges in the plan") {
    val docs = graft.queries.Queries.t(spark, "/root/testdata/sf0.001", "documents")
    val plan = docs.select(
        TextAnalysis.normalizeText(spark, col("text")).as("clean"))
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"),
      s"normalization must stay row-local:\n$plan")
  }

  test("editDistancePairs: two exchanges, bucket grouping keyed on the variant hash") {
    import spark.implicits._
    val rows = (1L to 500L).map(i => (i, f"name$i%04d")).toDF("id", "s")
    val plan = Dedup.editDistancePairs(rows, "id", "s")
      .queryExecution.executedPlan.toString
    // exchange 1: the (8-byte) variant-hash bucket groupBy; exchange 2:
    // the candidate-pair distinct — variant STRINGS never materialize
    assert(plan.split("Exchange").length - 1 == 2,
      s"expected two exchanges in the edit-pairs plan:\n$plan")
    assert(plan.contains("hashpartitioning(bucket"),
      s"bucket grouping is not keyed on the hashed variant:\n$plan")
  }

  test("sessionPaths: session window and per-session path agg share one key shuffle") {
    val ev = graft.queries.Queries.t(spark, "/root/testdata/sf0.001", "events")
    val plan = Sessions.sessionPaths(ev, "user_id", "ts", "event_type",
        gapSeconds = 3600, maxSteps = 5, topK = 50, tiebreak = Seq("event_id"))
      .queryExecution.executedPlan.toString
    // exchange 1: the per-user session window (the cap window, the
    // session_idx window and the per-session collect all reuse it);
    // exchange 2: the tiny path-count aggregate
    assert(plan.split("Exchange").length - 1 == 2,
      s"expected two exchanges in the session-paths plan:\n$plan")
  }

  test("funnel: exactly one exchange (the per-key fold), step filter pushed to the scan") {
    val ev = graft.queries.Queries.t(spark, "/root/testdata/sf0.001", "events")
    val plan = Funnels.funnel(ev, "user_id", "ts", "event_type",
        Seq("view", "click", "purchase"))
      .queryExecution.executedPlan.toString
    // the whole chain costs ONE shuffle: the groupBy(key) fold
    assert(plan.split("Exchange").length - 1 == 1,
      s"expected exactly one exchange in the funnel plan:\n$plan")
    // non-step rows are dropped AT THE SCAN, before that exchange
    assert(plan.contains("PushedFilters: [In(event_type"),
      s"step-type filter not pushed to the parquet scan:\n$plan")
  }

  test("eventTransitions: lag window + map-side-combined matrix agg, two exchanges") {
    val ev = graft.queries.Queries.t(spark, "/root/testdata/sf0.001", "events")
    val plan = Funnels.eventTransitions(ev, "user_id", "ts", "event_type",
        tiebreak = Seq("event_id"))
      .queryExecution.executedPlan.toString
    // exchange 1: the per-key lag window (event volume); exchanges 2-3
    // (matrix agg + per-prev_type normalizing window) both move
    // |types|^2 rows — partial-aggregated map-side, never event volume
    assert(plan.split("Exchange").length - 1 == 3,
      s"expected three exchanges in the transitions plan:\n$plan")
    assert(plan.contains("partial_count") || plan.contains("HashAggregate"),
      s"matrix agg is not map-side combined:\n$plan")
  }

  test("rateAnomalies: daily pre-agg is the only event-volume exchange") {
    val ev = graft.queries.Queries.t(spark, "/root/testdata/sf0.001", "events")
    val plan = Funnels.rateAnomalies(ev, "event_type", "ts")
      .queryExecution.executedPlan.toString
    // exchange 1: (type, day) count — map-side combined to calendar
    // volume; exchange 2: the per-type stats window over types x days
    assert(plan.split("Exchange").length - 1 == 2,
      s"expected two exchanges in the anomalies plan:\n$plan")
  }

  test("cooccurrenceLift: no token-volume shuffle keyed on doc id") {
    val docs = graft.queries.Queries.t(spark, "/root/testdata/sf0.001", "documents")
    val plan = TextAnalysis.cooccurrenceLift(docs, "text")
      .queryExecution.executedPlan.toString
    // pair generation is row-local word_grams windows — the plan must
    // not contain a positional self-join keyed on the doc id
    assert(!plan.contains("hashpartitioning(doc_id"),
      s"co-occurrence pair generation shuffles on doc_id:\n$plan")
    assert(plan.contains("word_grams"),
      s"expected the native word_grams windows in the plan:\n$plan")
  }

  test("retention: one event-volume exchange, rest is row-local + tiny matrix agg") {
    import spark.implicits._
    val ev = (1L to 300L).map(i => (i % 25, new java.sql.Timestamp(i * 3600L * 1000)))
      .toDF("user_id", "ts")
    val df = Funnels.retention(ev, "user_id", "ts", 30)
    val plan = df.queryExecution.executedPlan.toString
    // exchange 1: collect_set keyed on user; exchange 2: the closing
    // (cohort_day, offset) matrix — days × offsets rows, never event volume
    assert(plan.split("Exchange").length - 1 == 2,
      s"expected two exchanges in the retention plan:\n$plan")
  }

  test("classifyByCentroid: a pure map — no exchange, no join in the scoring plan") {
    import spark.implicits._
    val vecs = (1L to 40L).map(i =>
        (i, Array.tabulate(4)(d => ((i + d) % 5).toFloat), (i % 2).toInt))
      .toDF("vec_id", "embedding", "label")
    val cents = Similarity.labelCentroids(vecs, "label", "embedding")
    val plan = Similarity.classifyByCentroid(vecs, "vec_id", "embedding", cents)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange") && !plan.contains("Join"),
      s"classification should be a pure map (centroids are literals):\n$plan")
  }

  test("randomProjectInt8: a pure map — no exchange, no join (signs are literals)") {
    import spark.implicits._
    val vecs = (1L to 30L).map(i => (i, Array.tabulate(8)(d => (i + d).toFloat)))
      .toDF("vec_id", "embedding")
    val plan = Similarity.randomProjectInt8(vecs, "vec_id", "embedding",
        outDims = 4, dims = 8, seed = "s")
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange") && !plan.contains("Join"),
      s"projection should be a pure map (signs are literals):\n$plan")
  }

  test("bm25: dfreq join strategy is AQE's choice — only the one-row stats is hinted") {
    import spark.implicits._
    import org.apache.spark.sql.catalyst.plans.logical.ResolvedHint
    val docs = (1L to 60L).map(i => (i, s"alpha w${i % 9} w${i % 4} beta")).toDF("id", "text")
    val df = Ranking.bm25TopTerms(docs, "id", "text", topK = 2)
    // exactly ONE broadcast hint in the plan: the single-row stats.
    // A hint on dfreq would OVERRIDE AQE — at 100 TB with an n-gram
    // term unit the vocabulary outgrows broadcast and the hint becomes
    // a driver OOM instead of a (correct) shuffle join.
    val hints = df.queryExecution.analyzed.collect { case h: ResolvedHint => h }
    assert(hints.size == 1, s"expected only the stats broadcast hint, got ${hints.size}")
    // at fixture scale AQE still picks broadcast for the tiny dfreq —
    // from STATS, not from a hint
    df.collect()
    val finalPlan = df.queryExecution.executedPlan.toString
    assert(finalPlan.contains("BroadcastHashJoin"),
      s"AQE should broadcast the small dfreq side at this size:\n$finalPlan")
  }

  test("lshTopK: the persisted index is released by CachedRelations after the action") {
    import spark.implicits._
    val rnd = new scala.util.Random(11)
    val vecs = (1L to 40L).map(i => (i, Array.fill(8)(rnd.nextFloat())))
      .toDF("vec_id", "embedding")
    CachedRelations.releaseAll() // clean slate
    val out = Similarity.lshTopK(vecs, "vec_id", "embedding", dims = 8, k = 1, planes = 4)
    assert(out.count() > 0)
    // the index IS cached while the operator runs...
    assert(!spark.sharedState.cacheManager.isEmpty, "expected the LSH index to be cached")
    // ...and the caller's release leaves NO net cached relations behind
    assert(CachedRelations.releaseAll() >= 1)
    assert(spark.sharedState.cacheManager.isEmpty,
      "cached relations leaked past CachedRelations.releaseAll")
  }

  test("parquetStage: the stage dir is readable until releaseAll and gone after it") {
    import spark.implicits._
    CachedRelations.releaseAll() // clean slate
    val staged = CachedRelations.parquetStage((1L to 20L).toDF("id"))
    val dirs = staged.inputFiles
      .map(f => new java.io.File(new java.net.URI(f)).getParentFile.getParentFile).distinct
    assert(dirs.length == 1, dirs.mkString(", "))
    val dir = dirs.head
    assert(dir.getParentFile.getCanonicalPath ==
      new java.io.File(System.getProperty("java.io.tmpdir")).getCanonicalPath)
    assert(dir.getName.startsWith("graft"), dir.getName)
    assert(staged.count() == 20)
    assert(CachedRelations.releaseAll() >= 1)
    assert(!dir.exists(), s"$dir survived releaseAll")
  }

  test("releaseAll: a failing cleanup warns on stderr and the rest still run") {
    CachedRelations.releaseAll() // clean slate
    var ran = false
    CachedRelations.trackCleanup(() => throw new java.io.IOException("stuck dir"))
    CachedRelations.trackCleanup(() => ran = true)
    val (n, err) = stderrOf(CachedRelations.releaseAll())
    assert(n == 2)
    assert(ran)
    val lines = err.linesIterator.filter(_.startsWith("[warn]")).toSeq
    assert(lines.size == 1 && lines.head.contains("stuck dir"), lines)
  }

  test("ngramVocabulary: rank window input is bounded by the top-K limit") {
    import spark.implicits._
    import org.apache.spark.sql.catalyst.plans.logical.{GlobalLimit, Window => LWindow}
    val docs = (1L to 100L).map(i => (i, s"w${i % 7} w${i % 3} common end")).toDF("id", "text")
    val win = TextAnalysis.ngramVocabulary(docs, "text", n = 2, topK = 5)
      .queryExecution.optimizedPlan
      .collectFirst { case w: LWindow => w }.get
    assert(win.child.collectFirst { case l: GlobalLimit => l }.isDefined,
      s"rank window input is not limit-bounded:\n${win.child}")
  }

  test("ngramJaccardPairs: auto stop-gram bound is corpus-relative (r7 ask #7)") {
    import spark.implicits._
    // 200 docs all sharing one universal trigram ("the same prefix"), each
    // otherwise unique. Auto bound at N=200 → clamp(ceil(2), 64, 100k)=64,
    // so the universal gram (200 postings) is a stop-gram: pair expansion
    // from it (200·199/2 ≈ 20k pairs) must NOT happen.
    val docs = (1L to 200L).map(i =>
      (i, s"the same prefix u${i}a u${i}b u${i}c u${i}d")).toDF("doc_id", "text")
    val auto = Dedup.ngramJaccardPairs(docs, "doc_id", "text", n = 3, threshold = 0.0)
    assert(auto.count() == 0,
      "universal gram above the corpus-relative bound must be dropped")
    // An explicit bound above the corpus size keeps the gram: the same
    // corpus then yields every co-occurring pair (legacy absolute behavior
    // is still reachable, and the bound provably gates pair expansion).
    val wide = Dedup.ngramJaccardPairs(docs, "doc_id", "text", n = 3,
      threshold = 0.0, maxPostings = 5000)
    assert(wide.count() == 200L * 199L / 2,
      "explicit wide bound should enumerate all universal-gram pairs")
    // Small corpus (N=30 < lower clamp 64): auto bound is a no-op — exact
    // results identical to the unbounded path.
    val small = (1L to 30L).map(i =>
      (i, s"alpha beta gamma d${i}x d${i}y")).toDF("doc_id", "text")
    val a = Dedup.ngramJaccardPairs(small, "doc_id", "text", n = 3, threshold = 0.0)
    val b = Dedup.ngramJaccardPairs(small, "doc_id", "text", n = 3,
      threshold = 0.0, maxPostings = 5000)
    assert(a.count() == b.count() && a.except(b).isEmpty && b.except(a).isEmpty)
  }

  // plan-shape tests read the sf0.001 parquet: a local Seq relation
  // constant-folds to a LocalTableScan and no plan survives to assert on
  private def docs0001 = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
  private def events0001 = spark.read.parquet("/root/testdata/sf0.001/events.parquet")

  test("ophSignatures production path: single native expression, zero exchanges") {
    val sig = Dedup.ophSignatures(docs0001, "doc_id", "text")
    val plan = sig.queryExecution.executedPlan.toString
    assert(plan.contains("oph_sig_x64"), s"expected the native expression:\n$plan")
    assert(!plan.contains("Exchange"), s"signature stage must be a pure map:\n$plan")
  }

  test("pcaProject: the projection plan is a pure map (components are literals)") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val out = Similarity.pcaProject(emb, "vec_id", "embedding", k = 1)
    val plan = out.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange") && !plan.contains("Join"),
      s"projection must be shuffle- and join-free:\n$plan")
  }

  test("imputeMean / winsorize / exactProportionSample: stats join the data by BROADCAST") {
    val ev = events0001.select(col("event_id").as("id"),
      col("event_type").as("g"), col("value").as("v"))
    for (out <- Seq(
        Stats.imputeMean(ev, "v", Seq("g")),
        Stats.winsorize(ev, "v", Seq("g")),
        Sampling.exactProportionSample(ev, "id", "g", 500000L))) {
      val plan = out.queryExecution.executedPlan.toString
      assert(plan.contains("BroadcastHashJoin") || plan.contains("BroadcastNestedLoopJoin"),
        s"group stats must broadcast:\n$plan")
      assert(!plan.contains("SortMergeJoin"),
        s"the data side must never co-shuffle with tiny stats:\n$plan")
    }
  }

  test("eventNgrams: corpus top-K is TakeOrderedAndProject, not a global sort") {
    import spark.implicits._
    val ev = (1 to 100).map(i =>
      (i.toLong % 5, java.sql.Timestamp.valueOf(f"2024-01-01 10:${i % 60}%02d:00"),
        s"t${i % 4}", i.toLong)).toDF("user_id", "ts", "event_type", "event_id")
    val out = Sessions.eventNgrams(ev, "user_id", "ts", "event_type", "event_id")
    val plan = out.queryExecution.executedPlan.toString
    assert(plan.contains("TakeOrderedAndProject"),
      s"top-K must be limit-bounded:\n$plan")
  }

  test("bigramLogProbRef: transitions are row-local — zero Window operators in the plan") {
    import spark.implicits._
    val docs = (1L to 40L).map(i => (i, s"w${i % 5} w${i % 3} w${i % 7} end"))
      .toDF("doc_id", "text")
    val out = TextAnalysis.bigramLogProbRef(docs, "doc_id", "text",
      docs.filter(col("doc_id") % 2 === 0))
    val plan = out.queryExecution.executedPlan.toString
    assert(!plan.contains("Window"),
      s"transition construction must not use a position window:\n$plan")
    assert(out.count() == 40)
  }

  test("corpusDatasheet: document text never reaches the fingerprint join") {
    import spark.implicits._
    import org.apache.spark.sql.catalyst.plans.logical.Join
    import org.apache.spark.sql.types.StringType
    val docs = (1L to 50L).map(i =>
        (i, s"s${i % 3}", "en", s"some document body number ${i % 7} with words"))
      .toDF("doc_id", "source", "lang", "text")
    val joins = TextAnalysis.corpusDatasheet(docs, "source", "lang", "text")
      .queryExecution.optimizedPlan
      .collect { case j: Join => j }
    assert(joins.nonEmpty)
    // only source/lang (grouping keys) and the md5 fp may be strings —
    // the text column itself must be projected away before the join
    joins.foreach { j =>
      val strCols = j.output.filter(_.dataType == StringType).map(_.name)
      assert(strCols.forall(n => n != "text" && n != "_t"),
        s"text leaked into the fingerprint join: $strCols")
    }
  }
}
