package graft
import org.apache.spark.sql.SparkSession
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

/**
 * Per-round benchmark: every benched query (`Q.benched`) against
 * SPARK_GRAFT_SF_DIR, full evaluation forced through the noop sink
 * (count() alone lets Catalyst prune projections and under-measures
 * expression-heavy queries). One JSON line on stdout.
 *
 * The stdout line must stay SHORT: the round driver keeps only the
 * last ~2000 chars of output and parses the JSON out of that tail
 * (rounds 1-4 emitted a ~2.8 KB line with all ~100 per-query floats
 * at full precision and the driver recorded `parsed: null` every
 * time). The line therefore carries per-query times only for queries
 * at or above 0.3 s (the ones that matter for the perf grade), lumps
 * the rest into `_rest`, and the complete per-query map is written to
 * BENCH_DETAIL.json in the repo root for offline inspection.
 */
object Bench {
  private def r3(v: Double): String = f"$v%.3f"

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    // Workload-constant confs (codegen class cache sized to the ~300-plan
    // surface, UTC) come from the shared [[SessionRecipe]] — the same
    // recipe the production faces (cli) and Verify run, so the bench
    // measures the engine as deployed (r16 verdict #4).
    val spark = SessionRecipe.local(cpus, "WARN")
    // warm the JVM/session so the first measured query isn't charged for init
    spark.range(1000000).selectExpr("sum(id)").collect()

    // Optional local-iteration filter: SPARK_GRAFT_ONLY=q_a,q_b runs
    // just those queries. The driver never sets it — full surface.
    val only = sys.env.get("SPARK_GRAFT_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)

    // Contention-proofing (r7, protocol hardened r11): a single timed
    // pass is at the mercy of noisy neighbors on the shared host —
    // BENCH_r06 recorded 123.8 s for a surface that runs in ~81 s
    // exclusively, entirely from 12 queries inflated 4-8x by CPU
    // contention; rounds 8-10 each needed a contention adjudication.
    // Every query now gets three whole-surface SWEEPS in different
    // deterministic orders (sorted / reversed / name-hash) — a
    // contention burst that lasts minutes lands on DIFFERENT queries
    // in each sweep, so no query can have all its passes eaten by one
    // burst — plus a back-to-back double in the FINAL sweep (4
    // executions total, min reported): sweep-separated reruns alone
    // under-warm the JIT/caches by ~1.3-1.7x on sub-second queries
    // (r11 10-pass probe, BASELINE.md), and the warm rerun is the
    // engine-truth number. First-sweep total kept for transparency.
    val maxPasses = 3
    // r7 postmortem: timeOnce used to swallow the exception and return the
    // elapsed time OF THE CRASH — 39 dead queries were timed at ~0.1 s each
    // and counted in value/n_queries with exit 0. A failed query is now a
    // first-class outcome: excluded from value, listed in "failed", and the
    // JSON carries "rc":1 (exit stays 0 so the driver still captures the
    // line; the field is the red flag).
    val failedQueries = scala.collection.mutable.LinkedHashMap.empty[String, String]
    def timeOnce(name: String, fn: (SparkSession, String) => org.apache.spark.sql.DataFrame): Option[Double] = {
      val (ok, ms) = graft.tools.Profiler.timed {
        try { fn(spark, sfDir).write.format("noop").mode("overwrite").save(); true }
        catch { case e: Throwable =>
          val first = Option(e.getMessage).getOrElse(e.getClass.getName)
            .linesIterator.take(1).mkString
          failedQueries.getOrElseUpdate(name, first)
          System.err.println(s"[bench] $name FAILED: $first")
          false
        }
        // release operator-persisted stage relations inside the timed
        // window (the release is part of the query's honest cost, and a
        // leaked index would make pass 2 measure a different query)
        finally graft.ops.CachedRelations.releaseAll()
      }
      if (ok) Some(ms / 1e3) else None
    }
    // The surface is every registered query but the correctness
    // fixtures (`Q.benched = false`, each says why at its definition).
    val (benched, fixtures) = graft.queries.Queries.all.partition(_.benched)
    val surface = benched.map(q => q.name -> q.fn).sortBy(_._1)
      .filter { case (name, _) => only.forall(_(name)) }
    val best = scala.collection.mutable.LinkedHashMap.empty[String, Double]
    val firstPass = scala.collection.mutable.LinkedHashMap.empty[String, Double]
    (0 until maxPasses).foreach { pass =>
      val order = pass % 3 match {
        case 0 => surface
        case 1 => surface.reverse
        case _ => surface.sortBy { case (n, _) =>
          scala.util.hashing.MurmurHash3.stringHash(n) }
      }
      order.foreach { case (name, fn) =>
        if (!failedQueries.contains(name)) { // a failed query fails every pass — don't pay 3x
          // the FINAL sweep measures each query twice back-to-back: a
          // 10-pass probe showed sweep-separated reruns under-warm the
          // JIT/caches by ~1.3-1.7x on sub-second queries (r11,
          // BASELINE.md), and the warm back-to-back rerun is the
          // engine-truth number the pre-r11 protocol recorded. The
          // sweep minima keep the contention robustness: a burst on
          // the back-to-back pair still leaves sweeps 1..N-1.
          val reps = if (pass == maxPasses - 1) 2 else 1
          (0 until reps).foreach { _ =>
            timeOnce(name, fn).foreach { t =>
              if (pass == 0 && !firstPass.contains(name)) firstPass(name) = t
              best(name) = math.min(best.getOrElse(name, Double.MaxValue), t)
            }
          }
        }
      }
    }
    // a query that succeeded in an early sweep but failed later is a
    // FAILURE, not a timing: keep it out of results/total so every name
    // appears in exactly one of queries/failed (r11 advisory)
    val timed = surface.collect {
      case (name, _) if best.contains(name) && !failedQueries.contains(name) =>
        (name, best(name), firstPass.getOrElse(name, best(name)))
    }
    val results = timed.map { case (name, b, _) => name -> b }
    val total = results.map(_._2).sum
    val totalFirstPass = timed.map(_._3).sum
    val failed = failedQueries.keys.toSeq
    val failedJson = failed.map("\"" + _ + "\"").mkString("[", ",", "]")
    val rc = if (failed.nonEmpty) 1 else 0

    // Full per-query detail -> file (stdout must stay under the
    // driver's tail-capture budget).
    val detail = results.map { case (k, v) => "\"" + k + "\":" + r3(v) }
      .mkString("{", ",", "}")
    val excluded = fixtures.map(_.name).sorted.map("\"" + _ + "\"").mkString("[", ",", "]")
    val firstPassDetail = timed.map { case (k, _, p1) => "\"" + k + "\":" + r3(p1) }
      .mkString("{", ",", "}")
    val failDetail = failedQueries
      .map { case (k, v) => "\"" + k + "\":\"" + v.replaceAll("[\"\\\\]", "'").take(160) + "\"" }
      .mkString("{", ",", "}")
    val detailJson =
      s"""{"metric":"total","value":${r3(total)},"unit":"sec","n_queries":${results.size},"n_failed":${failed.size},"rc":$rc,"failed":$failedJson,"failed_errors":$failDetail,"first_pass_total":${r3(totalFirstPass)},"protocol":"sweep$maxPasses-warmfinal","queries":$detail,"first_pass":$firstPassDetail,"sf":"$sfDir","excluded_oracle_fixtures":$excluded}"""
    // NO run clobbers the committed full-surface detail by default:
    // targeted (SPARK_GRAFT_ONLY) runs write BENCH_DETAIL_partial.json,
    // full runs write BENCH_DETAIL_run.json (both gitignored), and the
    // committed BENCH_DETAIL.json is only written on an explicit
    // SPARK_GRAFT_BENCH_PROMOTE=1 run — so the driver's per-round bench
    // leaves the working tree clean and per-query baseline comparison
    // never needs `git show`.
    val promote = sys.env.get("SPARK_GRAFT_BENCH_PROMOTE").contains("1")
    val detailPath =
      if (only.isDefined) "BENCH_DETAIL_partial.json"
      else if (promote) "BENCH_DETAIL.json"
      else "BENCH_DETAIL_run.json"
    try Files.write(Paths.get(detailPath),
      detailJson.getBytes(StandardCharsets.UTF_8))
    catch { case e: Throwable => System.err.println(s"[bench] detail write failed: $e") }

    // Compact stdout line: heaviest queries individually up to a hard
    // character budget, the rest lumped. r16 verdict #10: the driver
    // keeps only the last ~2000 chars of output and r15's 2.4 KB line
    // got truncated to `parsed: null` — keep the WHOLE stdout line
    // under 1 KB (totals + top-N; the complete map is in the detail
    // file), so the driver's parse always survives.
    val byCost = results.sortBy(-_._2)
    val budget = 620
    val entries = scala.collection.mutable.ArrayBuffer.empty[String]
    var used = 0
    var taken = 0
    var full = false
    byCost.foreach { case (k, v) =>
      val e = "\"" + k + "\":" + r3(v)
      if (!full && used + e.length + 1 <= budget) { entries += e; used += e.length + 1; taken += 1 }
      else full = true
    }
    val rest = byCost.drop(taken)
    entries += ("\"_rest_" + rest.size + "q\":" + r3(rest.map(_._2).sum))
    val qs = entries.mkString("{", ",", "}")
    // "failed" on the compact line is capped so a mass failure cannot blow
    // the driver's ~2000-char tail capture; the full list is in the detail.
    val failedCompact = (failed.take(8).map("\"" + _ + "\"") ++
      (if (failed.size > 8) Seq("\"+" + (failed.size - 8) + " more\"") else Nil))
      .mkString("[", ",", "]")
    println(s"""{"metric":"total","value":${r3(total)},"unit":"sec","n_queries":${results.size},"n_failed":${failed.size},"rc":$rc,"failed":$failedCompact,"first_pass_total":${r3(totalFirstPass)},"protocol":"sweep$maxPasses-warmfinal","queries":$qs,"sf":"$sfDir","detail":"$detailPath"}""")
    spark.stop()
  }
}
