package graft
import org.apache.spark.sql.SparkSession
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

/**
 * Per-round benchmark: every registered query against
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

    // md5-portable ORACLE twins are correctness fixtures for the DuckDB
    // gate, not perf claims: md5-per-shingle is 5-10x an xxhash64, and
    // each twin's production path IS benched (q_llm_minhash_sig_x64,
    // q_llm_minhash_pairs, q_llm_simhash_pairs, q_llm_dedup_clusters,
    // q_llm_corpus_clean, q_llm_rolling_fp_x64, q_llm_winnowing_x64, q_llm_containment_x64).
    // Benching both double-counts the same operator and buries the
    // headline in hash-function overhead.
    val oracleOnlyFixtures = Set(
      "q_llm_minhash_sig", "q_llm_minhash_pairs_md5", "q_llm_simhash_pairs_md5",
      "q_llm_dedup_clusters_md5", "q_llm_corpus_clean_md5",
      "q_llm_rolling_fp", "q_llm_winnowing", "q_llm_containment",
      "q_llm_cross_source_dups", "q_llm_group_split", "q_llm_oph_pairs",
      "q_llm_cms", "q_llm_cluster_terms", "q_llm_dedup_best",
      "q_llm_oph_verified", "q_llm_incr_neardup", "q_llm_dsir_md5",
      // md5 oracle face of the 3-version chain; the x64 chain is benched
      "q_llm_incr_neardup_chain",
      // playbook result-twins of already-benched plans (the YAML adds a
      // parse, not a plan): corpus_clean md5 / url_dedup / datasheet.
      // q_playbook_join_agg and q_playbook_window are NEW plans — benched.
      "q_playbook_corpus_clean", "q_playbook_url_dedup", "q_playbook_datasheet",
      "q_playbook_split",
      // r11 playbook faces of the remaining LLM op families: all exact
      // result-twins of already-benched plans (gopher_rules, redact_pii,
      // decontaminate, dsir_md5, pack_windows, chunk, length_batches,
      // ann_ivf, bpe_fertility) — the YAML adds a parse, not a plan
      "q_playbook_gopher", "q_playbook_pii", "q_playbook_decontam",
      "q_playbook_dsir", "q_playbook_pack", "q_playbook_chunk",
      "q_playbook_length_batches", "q_playbook_ann", "q_playbook_bpe",
      // r12 equivalence oracles: each runs its op TWICE (config path +
      // API twin) purely to compare them — correctness fixtures; both
      // underlying plans are already benched via their twins
      "q_playbook_ann_check", "q_playbook_bpe_check",
      // r13 persisted-ANN-index equivalence oracles: each builds the
      // index AND runs the in-session fit purely to compare them; the
      // production persisted path is benched via q_llm_ann_persist and
      // the in-session plans via q_llm_ann_{ivf,pq,binary}
      "q_llm_ann_persist_check", "q_llm_ann_pq_persist_check",
      "q_llm_ann_bin_persist_check",
      // r14 append-lifecycle equivalence oracles: each builds TWO
      // indexes (base+append and full rebuild) purely to compare them
      // at exhaustive probe settings — correctness fixtures by
      // construction; the production probe paths are benched via
      // q_llm_ann_persist / q_llm_ann_pq / q_llm_ann_binary twins
      "q_llm_ann_append_check", "q_llm_ann_bin_append_check",
      "q_llm_ann_pq_append_check",
      // r15 lifecycle equivalence oracles, same shape: lsh persist /
      // append build two indexes (or an index AND the in-session fit)
      // purely to compare, and the LM append check fits THREE models;
      // the production probe paths are benched via q_llm_ann_lsh and
      // q_llm_mkn_ppl_idx
      "q_llm_ann_lsh_persist_check", "q_llm_ann_lsh_append_check",
      "q_llm_mkn_append_check",
      // r13 persisted-LM equivalence oracle: runs the mkn3 scorer
      // TWICE (loaded artifact + in-session fit) purely to compare;
      // the persisted path is benched via q_llm_mkn_ppl_idx and the
      // in-session plan via q_llm_mkn_ppl
      "q_llm_mkn_index_check",
      // r13 persisted-tokenizer equivalence oracle: trains AND loads
      // purely to compare; the persisted path is benched via
      // q_llm_bpe_fertility_idx and the refit via q_llm_bpe_encode_1k
      "q_llm_tok_index_check",
      // r12 property-verdict checks: re-run already-benched engine-local
      // ops (pca / deflate / classifier) purely to pin their
      // definitional properties in the DuckDB gate
      "q_llm_pca_check", "q_llm_compress_check", "q_llm_quality_check",
      // r12 native-vs-iterative BPE equivalence (runs both encoders over
      // the vocabulary purely to compare; the native path is benched
      // via q_llm_bpe_encode_1k)
      "q_llm_bpe_native_check",
      // same equivalence shape one alphabet down (r13): both byte-
      // level encoders over the vocabulary purely to compare; the
      // native path is benched via the persisted-tokenizer face
      "q_llm_bbpe_native_check",
      // unigram coverage/normalization verdict (correctness fixture —
      // the trained pipeline itself is benched via
      // q_llm_unigram_fertility); the playbook face is a result-twin
      // and its _check runs the op twice by construction
      "q_llm_unigram_check", "q_playbook_unigram", "q_playbook_unigram_check",
      // wordpiece family: same layout as unigram — the trained pipeline
      // is benched via q_llm_wordpiece_fertility; the coverage verdict,
      // the playbook result-twin, and its run-twice _check are
      // correctness fixtures
      "q_llm_wordpiece_check", "q_playbook_wordpiece",
      "q_playbook_wordpiece_check",
      // byte-level BPE family: same layout again — the trained pipeline
      // is benched via q_llm_bbpe_fertility; the round-trip coverage
      // verdict is a correctness fixture
      "q_llm_bbpe_check",
      // ppl_partition equivalence oracle (runs the op twice by
      // construction; q_playbook_ppl itself IS benched — the annotate
      // join back onto the frame is a genuinely new plan)
      "q_playbook_ppl_check",
      // result-twin of the benched q_llm_c4_rules plan (the YAML adds
      // a parse and a column join, not a new corpus-volume plan)
      "q_playbook_c4",
      // md5 result-twin of the oracle-only md5 chain (x64 chain is benched)
      "q_playbook_incr_neardup",
      // result-twins of benched plans (q_sessionize / q_gap_report /
      // q_kmv_overlap_x64's production path)
      "q_playbook_sessionize", "q_playbook_gap_report", "q_playbook_audience",
      // result-twin of the benched q_resample_daily plan (YAML parse
      // only). q_playbook_zorder IS benched: its range exchange is the
      // clustering cost, a genuinely new plan.
      "q_playbook_resample",
      // md5 oracle face of the KMV estimator; q_kmv_overlap_x64 is the
      // benched production path
      "q_kmv_overlap",
      // md5 oracle face of the star-CC engine; q_llm_cc_star_x64 is the
      // benched production path
      "q_llm_cc_star",
      // result-twin of the benched q_expectations plan (YAML parse only)
      "q_playbook_expect")

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
    val maxPasses = sys.env.get("SPARK_GRAFT_BENCH_PASSES").map(_.toInt).getOrElse(3)
    // r7 postmortem: timeOnce used to swallow the exception and return the
    // elapsed time OF THE CRASH — 39 dead queries were timed at ~0.1 s each
    // and counted in value/n_queries with exit 0. A failed query is now a
    // first-class outcome: excluded from value, listed in "failed", and the
    // JSON carries "rc":1 (exit stays 0 so the driver still captures the
    // line; the field is the red flag).
    val failedQueries = scala.collection.mutable.LinkedHashMap.empty[String, String]
    def timeOnce(name: String, fn: (SparkSession, String) => org.apache.spark.sql.DataFrame): Option[Double] = {
      val t0 = System.nanoTime()
      val ok =
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
      if (ok) Some((System.nanoTime() - t0) / 1e9) else None
    }
    val surface = SparkEntry.queries.toSeq.sortBy(_._1)
      .filterNot { case (name, _) => oracleOnlyFixtures(name) }
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
    val excluded = oracleOnlyFixtures.toSeq.sorted.map("\"" + _ + "\"").mkString("[", ",", "]")
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
