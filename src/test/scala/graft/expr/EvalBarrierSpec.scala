package graft.expr

import graft.SparkTestBase
import org.apache.spark.sql.functions._

/** [[EvalBarrier]]: value-transparent, but the optimizer may not
  * duplicate the wrapped tree into consumers or pushed filters — the
  * fix for the O(L²)-per-doc md5-winnowing pathology (r16). */
class EvalBarrierSpec extends SparkTestBase with graft.TempDirs {
  import spark.implicits._

  private def barrier(c: org.apache.spark.sql.Column) =
    graft.functions.Registry.barrier(c)

  test("value transparency: barrier(expr) == expr, codegen and interpreted") {
    val df = Seq("alpha bravo", "charlie", "", "x y z").toDF("t")
    // a codegen'd scalar and an interpreted HOF array, both wrapped
    val got = df.select(
      barrier(length(col("t"))).as("len"),
      barrier(transform(split(col("t"), " "), w => length(w))).as("lens"))
      .collect().map(r => (r.getInt(0), r.getSeq[Int](1).toList))
    val want = df.select(
      length(col("t")).as("len"),
      transform(split(col("t"), " "), w => length(w)).as("lens"))
      .collect().map(r => (r.getInt(0), r.getSeq[Int](1).toList))
    assert(got.toSeq == want.toSeq)
    assert(got.head == ((11, List(5, 5))))
  }

  // plan-shape tests need a real source: ConvertToLocalRelation folds
  // a Seq-backed frame into a LocalRelation with no Filter/Project left
  private lazy val srcPath = {
    val p = tempDir("graft_evalbarrier").toString
    Seq((1L, "aa bb cc"), (2L, "dd")).toDF("id", "t")
      .repartition(1).write.mode("overwrite").parquet(p)
    p
  }

  test("optimizer barrier: a filter on the wrapped column references the attribute, not the tree") {
    val df = spark.read.parquet(srcPath)
    val expensive = transform(split(col("t"), " "), w => length(w))
    val plan = df.select(col("id"), barrier(expensive).as("_arr"))
      .filter(size(col("_arr")) >= 2)
      .queryExecution.optimizedPlan
    // without the barrier, PushPredicateThroughNonJoin substitutes the
    // transform tree into the filter condition below the project; with
    // it, the filter must sit ABOVE the projection and reference _arr
    val filters = plan.collect {
      case f: org.apache.spark.sql.catalyst.plans.logical.Filter => f }
    assert(filters.nonEmpty)
    assert(!filters.exists(_.condition.toString.contains("transform(")),
      s"filter condition re-inlined the wrapped tree: ${filters.map(_.condition)}")
    // and the values still come out right
    val kept = df.select(col("id"), barrier(expensive).as("_arr"))
      .filter(size(col("_arr")) >= 2).select("id").as[Long].collect().toSet
    assert(kept == Set(1L))
  }

  test("projection collapse does not merge through the barrier (single evaluation)") {
    // observable: with ONE downstream reference, a plain projection
    // collapses into its consumer (CollapseProject's duplication guard
    // only blocks MULTI-reference non-cheap exprs); a barriered one
    // must stay a separate evaluate-once projection
    val df = spark.read.parquet(srcPath)
    val expensive = transform(split(col("t"), " "), w => length(w))
    val collapsed = df.select(col("id"), expensive.as("_arr"))
      .select(col("id"), size(col("_arr")).as("n"))
      .queryExecution.optimizedPlan
    val barriered = df.select(col("id"), barrier(expensive).as("_arr"))
      .select(col("id"), size(col("_arr")).as("n"))
      .queryExecution.optimizedPlan
    def nProjects(p: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan) =
      p.collect { case pr: org.apache.spark.sql.catalyst.plans.logical.Project => pr }.size
    assert(nProjects(collapsed) == 1, "baseline: plain projections collapse")
    assert(nProjects(barriered) == 2,
      "barriered projection must NOT collapse into its consumer")
  }
}
