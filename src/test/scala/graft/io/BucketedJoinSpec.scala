package graft.io

import graft.SparkTestBase
import org.apache.spark.sql.functions._
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}

/** [[Bucketed]]: co-bucketed tables must join and aggregate with ZERO
  * shuffle exchange — the layout's entire reason to exist — and the
  * results must equal the plain (shuffled) plans. */
class BucketedJoinSpec extends SparkTestBase with graft.TempDirs {
  import spark.implicits._

  private def countShuffles(df: org.apache.spark.sql.DataFrame): Int = {
    df.collect() // finalize AQE
    def walk(p: org.apache.spark.sql.execution.SparkPlan): Int = {
      val self = p match {
        case _: ShuffleExchangeExec => 1
        case _ => 0
      }
      val nested = p match {
        case a: AdaptiveSparkPlanExec => walk(a.executedPlan)
        case q: QueryStageExec => walk(q.plan)
        case _ => 0
      }
      self + nested + p.children.map(walk).sum
    }
    walk(df.queryExecution.executedPlan)
  }

  test("co-bucketed tables: join and groupBy run with zero exchange") {
    val dir = tempDir("graft-bucketed").toString
    val fact = (0 until 10000).map(i => (i.toLong % 500, i.toLong)).toDF("k", "v")
    val dim = (0 until 500).map(i => (i.toLong, s"name_$i")).toDF("k", "name")
    try {
      Bucketed.writeTable(fact, "graft_fact_b", s"$dir/fact", Seq("k"), 8, Seq("k"))
      Bucketed.writeTable(dim, "graft_dim_b", s"$dir/dim", Seq("k"), 8, Seq("k"))
      val f = Bucketed.table(spark, "graft_fact_b")
      val d = Bucketed.table(spark, "graft_dim_b")
      withNoBroadcast {
        val joined = f.join(d, Seq("k")).groupBy(col("k"))
          .agg(count(lit(1)).as("n"), max(col("name")).as("name"))
        assert(countShuffles(joined) == 0,
          "co-bucketed join + same-key agg must be exchange-free")
        // values match the plain plan
        val plain = fact.join(dim, Seq("k")).groupBy(col("k"))
          .agg(count(lit(1)).as("n"), max(col("name")).as("name"))
        assert(joined.collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2))).toSet ==
          plain.collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2))).toSet)
        // the un-bucketed twin DOES shuffle — the assertion above is
        // meaningful, not vacuous
        assert(countShuffles(fact.join(dim, Seq("k"))) > 0)
      }
    } finally {
      spark.sql("DROP TABLE IF EXISTS graft_fact_b")
      spark.sql("DROP TABLE IF EXISTS graft_dim_b")
    }
  }

  private def withNoBroadcast[T](body: => T): T = {
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try body finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }
}
