package graft.tools

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths}
import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.databind.node.ObjectNode
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.FormattedMode
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.{Exchange, ReusedExchangeExec}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType
import graft.SessionRecipe
import graft.ops.{CachedRelations, Clusters, Dedup, Layout, Similarity, TextAnalysis, Tokenizer}

/**
 * Profiles the shipped queries of [[graft.SparkEntry.queries]] and the
 * scaling of the top-cost operator families on a bench-shaped session
 * (`local[$SPARK_GRAFT_CPUS]`, SF dir from `SPARK_GRAFT_SF_DIR`). The
 * query modes run the registered query itself, never a copy of its
 * operators, so the numbers follow the code.
 *
 * {{{
 * sbt "runMain graft.tools.Profiler phases <query>..."
 * sbt "runMain graft.tools.Profiler plan <tag> <suffix> <query>..."
 * sbt "runMain graft.tools.Profiler stages <query>..."
 * sbt "runMain graft.tools.Profiler scale <factor>[,<factor>...] <out.json> [family...]"
 * }}}
 *
 *  - `phases`: build (DataFrame construction + analysis), plan
 *    (optimization + physical planning) and exec (noop-sink run) of
 *    each pass; 2 warm passes, then every one of 3 measured passes is
 *    printed, so within-JVM dispersion is visible next to the minimum.
 *  - `plan`: writes the formatted explain of the unexecuted plan to
 *    `plans/<tag>/<query>_<suffix>.txt`, then runs the query and counts
 *    the exchanges and reused exchanges of the plan that ran.
 *  - `stages`: one noop-sink run under [[Recorded.recorded]]; its job
 *    count, and per Spark stage, its call site and operator scopes,
 *    tasks, executor run and CPU time, input bytes, shuffle read/write
 *    bytes and spill bytes.
 *  - `scale`: each of the named [[families]] (all when none is named)
 *    at the base SF and at each factor × a synthesized corpus; per
 *    family and scale the min time of two passes, the work counters of
 *    the second ([[Work]]) and each one's ratio to 1×, written to
 *    `out.json`. The counters do not depend on the host's CPU speed, so
 *    a work ratio well above the factor is a superlinear term whatever
 *    the host does; AQE re-planning in stage-completion order can still
 *    move a byte counter between passes, which the artifact flags.
 *
 * A/B comparisons across commits are `playbench/counter_diff.py`'s job.
 */
object Profiler {
  final case class Phases(buildMs: Double, planMs: Double, execMs: Double) {
    def totalMs: Double = buildMs + planMs + execMs
  }

  final case class PlanCounts(exchanges: Int, reused: Int)

  /** The jobs and completed stages (in stage-id order) of one run. */
  final case class StagesRun(jobs: Int, stages: Seq[Recorded.StageStats])

  private val WarmPasses = 2
  private val MeasuredPasses = 3

  /** `body`'s result and its wall time in milliseconds. The one
    * stopwatch of the engine's tools: every timed pass goes through it. */
  def timed[A](body: => A): (A, Double) = {
    val t0 = System.nanoTime()
    val a = body
    (a, (System.nanoTime() - t0) / 1e6)
  }

  private def query(spark: SparkSession, sfDir: String, name: String): DataFrame =
    graft.SparkEntry.queries(name)(spark, sfDir)

  private def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  private def noopRun(df: DataFrame): Unit =
    try noop(df)
    finally CachedRelations.releaseAll()

  /** The measured passes of one query, in run order. */
  def phases(spark: SparkSession, sfDir: String, name: String): Seq[Phases] = {
    (0 until WarmPasses).foreach(_ => noopRun(query(spark, sfDir, name)))
    (0 until MeasuredPasses).map { _ =>
      val (df, build) = timed(query(spark, sfDir, name))
      val (_, plan) = timed(df.queryExecution.executedPlan)
      Phases(build, plan, timed(noopRun(df))._2)
    }
  }

  /** Writes the formatted explain to `out`, then runs the query and
    * counts the exchanges of the (adaptive) plan that executed. */
  def plan(spark: SparkSession, sfDir: String, name: String, out: Path): PlanCounts = {
    val df = query(spark, sfDir, name)
    Files.createDirectories(out.getParent)
    Files.write(out, df.queryExecution.explainString(FormattedMode)
      .getBytes(StandardCharsets.UTF_8))
    try df.queryExecution.toRdd.foreach(_ => ())
    finally CachedRelations.releaseAll()
    val nodes = new AdaptiveSparkPlanHelper {}
      .collectWithSubqueries(df.queryExecution.executedPlan) { case p => p }
    PlanCounts(nodes.count(_.isInstanceOf[Exchange]),
      nodes.count(_.isInstanceOf[ReusedExchangeExec]))
  }

  /** Jobs and stages of one noop-sink run of the query (its build-time
    * jobs included). */
  def stages(spark: SparkSession, sfDir: String, name: String): StagesRun = {
    val (_, rec) = Recorded.recorded(spark)(noopRun(query(spark, sfDir, name)))
    StagesRun(rec.jobs.size, rec.stages)
  }

  // ---- scale ----------------------------------------------------------

  /** A table the families read: `table` of the SF dir grown by `synth`
    * to factor f (f = 1 is the table itself), written as parquet once
    * per scale before any pass, so synthesis is never timed and every
    * pass starts from the same kind of scan. */
  final case class Input(name: String, table: String, synth: (DataFrame, Int) => DataFrame)

  /** One staged input at one scale. `df` reads it with the schema it
    * was written with, so no pass runs a schema-inference job. */
  final case class Staged(spark: SparkSession, path: String, schema: StructType, factor: Int) {
    def df: DataFrame = spark.read.schema(schema).parquet(path)
  }

  /** One operator family. `run` is one timed pass at a scale: the build
    * and run of the family's operators (a noop write for a DataFrame),
    * returning its named laps when it splits its time. `setup` runs
    * before the passes at each scale, untimed, and returns counts that
    * explain the curve. A `pathKeyed` family shuffles or reads rows
    * that carry a data-file path, which holds the work dir's fresh name,
    * so its byte counters differ between invocations on the same inputs
    * while its job and task counts repeat. A `note` says where the
    * counters do not show a family's curve. */
  final case class Family(name: String, input: Input, run: Staged => Seq[(String, Double)],
                          setup: Staged => Seq[(String, Long)] = _ => Nil,
                          pathKeyed: Boolean = false, note: String = "")

  /** What Spark ran for one pass, from its [[Recorded.Recording]]: jobs,
    * completed tasks, input and shuffle-write bytes, and the largest
    * stage's input + shuffle-read bytes. */
  final case class Work(jobs: Long, tasks: Long, inputBytes: Long, shuffleWriteBytes: Long,
                        maxStageBytes: Long) {
    def fields: Seq[(String, Long)] = Seq("jobs" -> jobs, "tasks" -> tasks,
      "input_bytes" -> inputBytes, "shuffle_write_bytes" -> shuffleWriteBytes,
      "max_stage_bytes" -> maxStageBytes)
  }

  object Work {
    def of(rec: Recorded.Recording): Work = {
      val ss = rec.stages
      Work(rec.jobs.size, ss.map(_.tasks.toLong).sum, ss.map(_.inputBytes).sum,
        ss.map(_.shuffleWriteBytes).sum,
        (0L +: ss.map(s => s.inputBytes + s.shuffleReadBytes)).max)
    }
  }

  /** One family at one scale: the min time and executor CPU time of
    * two passes, the second pass's counters, whether the first pass's
    * differed, each lap's min and the setup counts. CPU time is work
    * too, but not deterministic, so it is not among the compared
    * counters. */
  final case class Point(factor: Int, sec: Double, cpuMs: Long, work: Work,
                         passesDiffer: Boolean, laps: Seq[(String, Double)],
                         setup: Seq[(String, Long)])

  private final case class Pass(sec: Double, cpuMs: Long, work: Work, laps: Seq[(String, Double)])

  /** A `scale` run: the rows of every staged input per scale, and each
    * family's points, 1× first. */
  final case class ScaleRun(sfDir: String, factors: Seq[Int],
                            rows: Seq[(String, Seq[(Int, Long)])],
                            families: Seq[(Family, Seq[Point])])

  /** `factor` copies of `base`, numbered from 0. */
  private def copies(base: DataFrame, factor: Int): Seq[(Int, DataFrame)] =
    (0 until factor).map(c => c -> base)

  /** Documents, deterministic: copy c > 0 shifts `doc_id` and appends
    * two copy tokens to the text. Signatures differ per copy while
    * shingle overlap with the original stays near 1, so each base doc
    * heads a planted near-dup family of size `factor` — realistic
    * verdict and pair load for the dedup families, not identical
    * signatures. */
  def synthDocuments(base: DataFrame, factor: Int): DataFrame =
    copies(base, factor).map { case (c, df) =>
      if (c == 0) df
      else df
        .withColumn("doc_id", col("doc_id") + lit(c.toLong * 100000000L))
        .withColumn("text", concat(col("text"),
          lit(s" zqcopytok${c}a zqcopytok${c}b")))
    }.reduce(_ unionByName _)

  /** Embeddings: copy c > 0 shifts `vec_id` and nudges dimension 0 by
    * c·0.001 — distinct vectors, the same geometry. */
  def synthEmbeddings(base: DataFrame, factor: Int): DataFrame =
    copies(base, factor).map { case (c, df) =>
      if (c == 0) df
      else df
        .withColumn("vec_id", col("vec_id") + lit(c.toLong * 100000000L))
        .withColumn("embedding", expr(
          s"transform(embedding, (x, i) -> CAST(CASE WHEN i = 0 THEN x + ${c}e0 * 0.001e0 ELSE x END AS FLOAT))"))
    }.reduce(_ unionByName _)

  /** Events copied verbatim under new event and user ids. */
  def synthEvents(base: DataFrame, factor: Int): DataFrame =
    copies(base, factor).map { case (c, df) =>
      if (c == 0) df
      else df
        .withColumn("event_id", col("event_id") + lit(c.toLong * 100000000L))
        .withColumn("user_id", col("user_id") + lit(c.toLong * 100000000L))
    }.reduce(_ unionByName _)

  /** Corpus growth with CONSTANT-SIZE near-dup families, as a real
    * corpus grows: [[synthDocuments]] at factor f plants families of
    * size f, so pair volume grows ~f²/2 per base doc by construction.
    * Here copies 2k-1 and 2k form group k — every token is REWRITTEN to
    * a hash of (group, token), so within a group the corpus's
    * token-level similarity structure is preserved (same token → same
    * hash) while against the base doc and every other group the texts
    * share nothing. Each copy appends one distinct tail token (near-dup
    * WITHIN its group pair, not identical). A constant group PREFIX
    * would not work here: the MinHash shingles are character 5-grams,
    * and a salt repeated at every token head hands every doc in the
    * group the same dominant shingle set — measured as a
    * ~500k-edges-per-group clique. Hashing per (group, token) keeps
    * pair volume LINEAR in the factor. */
  def synthPairedFamilies(base: DataFrame, factor: Int): DataFrame =
    copies(base, factor).map { case (c, df) =>
      if (c == 0) df
      else {
        val g = (c + 1) / 2
        df.withColumn("doc_id", col("doc_id") + lit(c.toLong * 100000000L))
          .withColumn("text", concat(
            expr(s"array_join(transform(split(text, '\\\\s+'), " +
              s"t -> substring(md5(concat('zq${g}g', t)), 1, 8)), ' ')"),
            lit(s" zqcopy${c}tail")))
      }
    }.reduce(_ unionByName _)

  private val documents = Input("documents", "documents", synthDocuments)
  private val pairedDocuments = Input("paired_documents", "documents", synthPairedFamilies)
  private val embeddings = Input("embeddings", "embeddings", synthEmbeddings)
  // the bloom side index is file-count shaped: 8 files per scale unit,
  // clustered on the indexed key
  private val bloomEvents = Input("bloom_events", "events", (base, f) =>
    synthEvents(base, f).select(col("event_id"), col("user_id"), col("value"))
      .repartition(8 * f, col("user_id")))

  private def noopLaps(df: DataFrame): Seq[(String, Double)] = { noop(df); Nil }

  private def ccStar(docs: DataFrame): DataFrame =
    Clusters.connectedComponentsStar(nearDupPairs(docs), "id_a", "id_b")

  private def nearDupPairs(docs: DataFrame): DataFrame =
    Dedup.minhashNearDupPairs(docs, "doc_id", "text",
      shingleSize = 5, numHashes = 16, bands = 4, threshold = 0.5)

  /** The q_llm_incr_neardup_chain_x64 lifecycle (3 batches by doc_id
    * mod 3), lap by lap. `step_b<b>` is taking batch b's step from
    * [[Dedup.nearDupSteps]]: staging the previous step's verdicts and
    * next state (b > 0), staging batch b's signatures, and its screen,
    * whose connected-components engine runs eagerly at definition time.
    * `output` writes the tagged verdicts, which runs the last batch's
    * lazy screen. */
  private def nearDupChain(docs: DataFrame): Seq[(String, Double)] = {
    val it = Dedup.nearDupSteps(Seq(0, 1, 2).map(m => Dedup.minhashSignatures(
        docs.filter(col("doc_id") % 3 === m), "doc_id", "text",
        shingleSize = 5, numHashes = 16)),
      numHashes = 16, bands = 4, threshold = 0.5)
    val steps = Seq(0, 1, 2).map(_ => timed(it.next()))
    val (_, output) = timed(noop(Dedup.nearDupChain(steps.map(_._1))))
    steps.zipWithIndex.map { case ((_, ms), b) => s"step_b$b" -> ms } :+ ("output" -> output)
  }

  private def bloomIndex(st: Staged, idx: String): Unit =
    Layout.writeBloomIndex(st.spark, st.path, idx, "user_id", itemsPerFile = 100000L, fpp = 0.01)

  /**
   * The scale families at their benched operating points. ONE
   * deliberate exception each for IVF and LSH: the `scaled` variants
   * grow the index with the corpus, the deployment recipe that keeps
   * per-query candidate volume constant (IVF `nlist` 16·f with `nprobe`
   * fixed; LSH +ceil(log2 f) plane bits, which keeps expected bucket
   * occupancy flat). The `fixed` variants hold the 1× index, so
   * candidates grow O(N²/cells) — a config error at scale, kept as the
   * positive control a work counter must catch.
   */
  val families: Seq[Family] = Seq(
    Family("exact_substr", documents, st => noopLaps(
      Dedup.exactSubstrDedup(st.df, "doc_id", "text", windowTokens = 30, rollingFp = true))),
    Family("incr_neardup_chain", documents, st => nearDupChain(st.df)),
    Family("cc_star", documents, st => noopLaps(ccStar(st.df))),
    Family("ann_ivf_scaled_cells", embeddings, st => noopLaps(Similarity.ivfTopK(
      st.df, "vec_id", "embedding", dims = 64, k = 3, nlist = 16 * st.factor, nprobe = 8))),
    Family("ann_ivf_fixed_cells", embeddings, st => noopLaps(Similarity.ivfTopK(
      st.df, "vec_id", "embedding", dims = 64, k = 3, nlist = 16, nprobe = 8)),
      note = "the candidate pairs never leave the cell-join stage: each query's top k is " +
        "cut there before the qid shuffle, so the O(N^2/nlist) candidate volume reaches " +
        "no shuffle or input counter and shows in sec and cpu_ms only"),
    Family("ann_lsh_scaled_planes", embeddings, st => noopLaps(Similarity.lshTopK(
      st.df, "vec_id", "embedding", dims = 64, k = 3,
      planes = 5 + (math.log(st.factor) / math.log(2)).ceil.toInt, tables = 6))),
    Family("ann_lsh_fixed_planes", embeddings, st => noopLaps(Similarity.lshTopK(
      st.df, "vec_id", "embedding", dims = 64, k = 3, planes = 5, tables = 6))),
    // n-gram LM perplexities: the corpus-volume stages are map-side
    // combined n-gram count shuffles, so work should track the corpus
    Family("sb_ppl", documents, st => noopLaps(
      TextAnalysis.stupidBackoffLogProb(st.df, "doc_id", "text"))),
    Family("kn_ppl", documents, st => noopLaps(
      TextAnalysis.kneserNeyLogProb(st.df, "doc_id", "text"))),
    Family("mkn_ppl", documents, st => noopLaps(
      TextAnalysis.modifiedKneserNeyLogProb(st.df, "doc_id", "text"))),
    // WordPiece training and encoding ride on the vocabulary, which the
    // synthesis grows only by the planted copy tokens
    Family("wordpiece_fertility", documents, { st =>
      val docs = st.df
      val vocab = Tokenizer.wordpieceVocabFrom(docs, "text", numMerges = 40)
      noopLaps(Tokenizer.wordpieceFertility(docs, "text", "source", vocab))
    }),
    // the bloom side index's one-time build (a corpus scan + per-file
    // sketches, grouped by data-file path) and its steady-state probe
    // (stamp check, a scan of the index's per-file rows, a pruned scan)
    // over an index built in setup
    Family("bloom_index_build", bloomEvents, st => { bloomIndex(st, s"${st.path}_build_idx"); Nil },
      pathKeyed = true),
    Family("bloom_index_probe", bloomEvents,
      st => noopLaps(Layout.bloomPrunedRead(st.spark, st.path, s"${st.path}_idx", "user_id",
        Seq(7L, 19L, 42L))),
      setup = st => { bloomIndex(st, s"${st.path}_idx"); Nil }, pathKeyed = true),
    // the same two curves with pair volume held linear in the factor:
    // `edges` is the near-dup pair count each scale feeds them
    Family("cc_star_paired_families", pairedDocuments, st => noopLaps(ccStar(st.df)),
      setup = st => Seq("edges" -> nearDupPairs(st.df).count())),
    Family("incr_neardup_chain_paired_families", pairedDocuments, st => nearDupChain(st.df)))

  /** Each of `selected` at 1× and at every factor, its inputs staged
    * under `work`. */
  def scale(spark: SparkSession, sfDir: String, factors: Seq[Int], selected: Seq[Family],
            work: String): ScaleRun = {
    val scales = 1 +: factors
    val inputs = selected.map(_.input).distinct
    val staged = (for (in <- inputs; f <- scales) yield {
      val path = s"$work/${in.name}_${f}x"
      in.synth(graft.queries.Queries.t(spark, sfDir, in.table), f).write.parquet(path)
      // Spark names each written file with a fresh UUID, and a scan orders
      // equal-size files as the listing does: without the UUIDs the split
      // order, and with it every byte counter, repeats between invocations
      new java.io.File(path).listFiles().filter(_.getName.startsWith("part-")).foreach { p =>
        Files.move(p.toPath, p.toPath.resolveSibling(p.getName.replaceFirst(
          "-[0-9a-f]{8}(-[0-9a-f]{4}){3}-[0-9a-f]{12}", "")))
      }
      val df = spark.read.parquet(path)
      (in.name, f) -> (Staged(spark, path, df.schema, f), df.count())
    }).toMap
    val rows = inputs.map(in => in.name -> scales.map(f => f -> staged((in.name, f))._2))
    val points = selected.map { fam =>
      fam -> scales.map { f =>
        val st = staged((fam.input.name, f))._1
        val setup = try fam.setup(st) finally CachedRelations.releaseAll()
        val Seq(a, b) = (0 until 2).map { _ =>
          val ((laps, ms), rec) = Recorded.recorded(spark)(
            timed(try fam.run(st) finally CachedRelations.releaseAll()))
          Pass(ms / 1e3, rec.stages.map(_.cpuMs).sum, Work.of(rec), laps)
        }
        val p = Point(f, a.sec.min(b.sec), a.cpuMs.min(b.cpuMs), b.work, a.work != b.work,
          a.laps.map { case (n, ms) => n -> ms.min(b.laps.toMap.apply(n)) / 1e3 }, setup)
        println(f"SCALE ${fam.name}%-36s ${f}%4dx sec=${p.sec}%8.3f cpu_ms=${p.cpuMs} " +
          p.work.fields.map { case (k, v) => s"$k=$v" }.mkString(" ") +
          (if (p.passesDiffer) s" PASSES_DIFFER first=${a.work}" else ""))
        p
      }
    }
    ScaleRun(sfDir, factors, rows, points)
  }

  private def r3(v: Double): Double = math.round(v * 1000) / 1000.0

  /** The `scale` artifact: per input its rows per scale; per family its
    * input, whether it is path-keyed, and per scale its time, counters,
    * pass flag, laps, setup counts and (above 1×) every figure's ratio
    * to 1×. */
  def scaleJson(run: ScaleRun): String = {
    val mapper = new ObjectMapper()
    val root = mapper.createObjectNode()
    root.put("base_sf", run.sfDir)
    val factors = root.putArray("factors")
    run.factors.foreach(f => factors.add(f))
    val rows = root.putObject("rows")
    run.rows.foreach { case (in, byScale) =>
      val o = rows.putObject(in)
      byScale.foreach { case (f, n) => o.put(s"${f}x", n) }
    }
    val fams = root.putObject("families")
    run.families.foreach { case (fam, points) =>
      val o = fams.putObject(fam.name)
      o.put("input", fam.input.name)
      o.put("path_keyed", fam.pathKeyed)
      if (fam.note.nonEmpty) o.put("note", fam.note)
      def figures(p: Point): Seq[(String, Double)] = Seq("sec" -> p.sec) ++
        (("cpu_ms" -> p.cpuMs) +: (p.work.fields ++ p.setup)).map { case (k, v) => k -> v.toDouble } ++
        p.laps
      val base = figures(points.head).toMap
      val scales = o.putObject("scales")
      points.foreach { p =>
        val s = scales.putObject(s"${p.factor}x")
        s.put("sec", r3(p.sec))
        s.put("cpu_ms", p.cpuMs)
        p.work.fields.foreach { case (k, v) => s.put(k, v) }
        s.put("passes_differ", p.passesDiffer)
        if (p.laps.nonEmpty) putAll(s.putObject("laps_sec"), p.laps.map { case (k, v) => k -> r3(v) })
        p.setup.foreach { case (k, v) => s.put(k, v) }
        if (p.factor != 1) putAll(s.putObject("ratios"), figures(p).map { case (k, v) =>
          k -> (if (base(k) == 0) Double.NaN else r3(v / base(k))) })
      }
    }
    mapper.writerWithDefaultPrettyPrinter().writeValueAsString(root)
  }

  private def putAll(o: ObjectNode, kvs: Seq[(String, Double)]): Unit =
    kvs.foreach { case (k, v) => if (v.isNaN) o.putNull(k) else o.put(k, v) }

  private val usage =
    """usage: Profiler phases <query>...
      |       Profiler plan <tag> <suffix> <query>...
      |       Profiler stages <query>...
      |       Profiler scale <factor>[,<factor>...] <out.json> [family...]""".stripMargin

  private def exit(msg: String): Nothing = { System.err.println(msg); sys.exit(2) }

  def main(args: Array[String]): Unit = {
    val mode = args.headOption.getOrElse("")
    val names = mode match {
      case "phases" | "stages" if args.length >= 2 => args.drop(1).toSeq
      case "plan" if args.length >= 4 => args.drop(3).toSeq
      case "scale" if args.length >= 3 => args.drop(3).toSeq
      case _ => exit(usage)
    }
    val (kind, known) =
      if (mode == "scale") ("families", families.map(_.name).toSet)
      else ("queries", graft.SparkEntry.queries.keySet)
    val unknown = names.filterNot(known)
    if (unknown.nonEmpty) exit(s"unknown $kind: ${unknown.mkString(" ")}")
    val factors = if (mode != "scale") Nil
      else args(1).split(",").toSeq.map(_.toIntOption.filter(_ > 1).getOrElse(exit(usage)))
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = SessionRecipe.local(sys.env.getOrElse("SPARK_GRAFT_CPUS", "32"), "ERROR")
    spark.range(1000000).selectExpr("sum(id)").collect()
    try if (mode == "scale") {
      val fams = if (names.isEmpty) families else families.filter(f => names.contains(f.name))
      val json = graft.io.Writers.withWorkDir("graft_scale_")(
        work => scaleJson(scale(spark, sfDir, factors, fams, work)))
      Files.write(Paths.get(args(2)), json.getBytes(StandardCharsets.UTF_8))
      println(s"SCALE ${args(2)} families=${fams.map(_.name).mkString(",")}")
    } else names.foreach { name =>
      mode match {
        case "phases" =>
          val ps = phases(spark, sfDir, name)
          ps.zipWithIndex.foreach { case (p, i) =>
            println(f"PHASES $name%-36s pass=${i + 1} build=${p.buildMs}%8.1f ms  plan=${p.planMs}%8.1f ms  exec=${p.execMs}%8.1f ms  total=${p.totalMs}%8.1f ms")
          }
          val totals = ps.map(_.totalMs)
          println(f"PHASES $name%-36s min    build=${ps.map(_.buildMs).min}%8.1f ms  plan=${ps.map(_.planMs).min}%8.1f ms  exec=${ps.map(_.execMs).min}%8.1f ms  total=${totals.min}%8.1f ms  max/min=${totals.max / totals.min}%.2f")
        case "plan" =>
          val out = Paths.get("plans", args(1), s"${name}_${args(2)}.txt")
          val c = plan(spark, sfDir, name, out)
          println(s"PLAN $name -> $out exchanges=${c.exchanges} reused=${c.reused}")
        case "stages" =>
          val StagesRun(jobs, ss) = stages(spark, sfDir, name)
          println(s"STAGES $name jobs=$jobs stages=${ss.size} tasks=${ss.map(_.tasks).sum} " +
            s"run=${ss.map(_.runMs).sum} ms cpu=${ss.map(_.cpuMs).sum} ms")
          ss.foreach { s =>
            println(f"  stage ${s.stageId}%4d tasks=${s.tasks}%5d run=${s.runMs}%7d ms cpu=${s.cpuMs}%7d ms " +
              f"in=${s.inputBytes}%11d shuffleRead=${s.shuffleReadBytes}%11d " +
              f"shuffleWrite=${s.shuffleWriteBytes}%11d spill=${s.spillBytes}%10d  " +
              s"${s.callSite} [${s.scopes.mkString(", ")}]")
          }
      }
    } finally spark.stop()
  }
}
