package graft.cli

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.col
import graft.compile.PipelineCompiler
import graft.config.PlaybookLoader
import graft.transforms.EngineConfig

/**
 * CLI entry point (reference: /root/reference/internal/app/app.go:73-184,
 * cmd/etl-tool/main.go). Flags: -config -input -output -db -loglevel
 * -dry-run -fips -help; flag > config precedence; $VAR/${VAR}/%VAR%
 * env expansion on paths; credential masking in logs; -dry-run skips
 * the load and logs a 5-record masked sample.
 */
object Main {

  case class Args(config: String = "", input: Option[String] = None,
                  output: Option[String] = None, db: Option[String] = None,
                  logLevel: String = "info", dryRun: Boolean = false,
                  explain: Boolean = false,
                  fips: Boolean = false, help: Boolean = false)

  def main(argv: Array[String]): Unit = {
    val args = parse(argv.toList, Args())
    if (args.help || args.config.isEmpty) { println(usage); return }

    val spark = graft.SessionRecipe.cli("graft-etl", sparkLevel(args.logLevel))

    try run(spark, args)
    catch {
      case e: Exception =>
        System.err.println(s"[error] ${Util.maskCredentials(e.getMessage)}")
        sys.exit(1)
    } finally spark.stop()
  }

  // Stage resources (the parquet stage dirs of incr_neardup and
  // corpus_clean, persisted relations) are tracked in CachedRelations;
  // every outcome of a run — normal, dry-run early return, halt
  // exception — must release them, or a library caller invoking run()
  // repeatedly in one session accumulates stage dirs and persisted
  // blocks. Everything user-visible is written before the body
  // returns, so the release is always safe.
  def run(spark: SparkSession, args: Args): Unit =
    try runBody(spark, args)
    finally graft.ops.CachedRelations.releaseAll()

  private def runBody(spark: SparkSession, args: Args): Unit = {
    val pb0 = PlaybookLoader.fromFile(Util.expandEnv(args.config))
    // flag > config precedence for paths (app.go:103-109)
    val db = args.db.map(Util.expandEnv)
      .orElse(sys.env.get("DB_CREDENTIALS")) // flag > config > env (app.go:103-109)
    val pb = pb0.copy(
      source = pb0.source.copy(
        file = Util.expandEnv(args.input.getOrElse(pb0.source.file)),
        conn = db.getOrElse(Util.expandEnv(pb0.source.conn))),
      destination = pb0.destination.copy(
        file = Util.expandEnv(args.output.getOrElse(pb0.destination.file)),
        conn = db.getOrElse(Util.expandEnv(pb0.destination.conn))),
      analytics = pb0.analytics.map { st =>
        val params = Util.expandPathParams(st.params)
        // -dry-run and -explain compile the stage but must not commit
        // its next state version: a later real run would screen the
        // batch against its own signatures
        st.copy(params =
          if (st.op == "incr_neardup" && (args.dryRun || args.explain))
            params + ("updateState" -> false)
          else params)
      })

    val errorFile = pb.errorHandling.errorFile.map(Util.expandEnv)
    // before compiling: compiling may already commit stage state
    if (pb.errorHandling.mode != "halt" && !args.dryRun && !args.explain)
      errorFile.foreach(requireOwnPath(_, pb.destination.file))

    val compiled = PipelineCompiler.compile(spark, pb, EngineConfig(fipsMode = args.fips))

    if (args.explain) {
      // -explain: print the physical plan Spark would execute, without
      // reading or writing any data. The operator-facing window into
      // plan hygiene: PushedFilters on the scan, broadcast vs shuffle
      // joins, exchange count. Streaming pipelines show the plan over
      // the unstarted StreamingRelation (the micro-batch planner
      // re-plans per trigger, so this is the shape, not the instance).
      println(s"[explain] pipeline plan for ${args.config}:")
      println(Util.maskCredentials(explainString(compiled.main)))
      if (pb.errorHandling.errorFile.nonEmpty || pb.errorHandling.mode == "halt") {
        println("[explain] error-routing plan:")
        println(Util.maskCredentials(explainString(compiled.errors)))
      }
      return
    }

    if (pb.source.streaming) {
      // streaming mode (validator enforced: parquet/jsonl, checkpoint,
      // skip errors, streaming-safe stages). One invocation = one
      // AvailableNow catch-up pass with exactly-once checkpointing.
      if (args.dryRun) {
        println("[dry-run] streaming pipeline (no sink started); output schema:")
        compiled.main.schema.fields.foreach(f =>
          println(s"[dry-run]   ${f.name}: ${f.dataType.simpleString}"))
        return
      }
      graft.io.Writers.writeStream(compiled.main, pb.destination)
      return
    }

    if (args.dryRun) {
      // dry-run: no load; log a 5-record masked sample (app.go:174-177)
      println("[dry-run] sample of up to 5 output records:")
      compiled.main.limit(5).collect().foreach { row =>
        val rendered = row.schema.fieldNames.zipWithIndex
          .map { case (n, i) => s"$n=${Util.maskSensitiveKV(n, String.valueOf(row.get(i)))}" }
          .mkString("{", ", ", "}")
        println(s"[dry-run]   $rendered")
      }
      return
    }

    pb.errorHandling.mode match {
      case "halt" =>
        // first record error aborts the run (processor.go:99,118)
        val firstErr = compiled.errors.select(col("etl_error_message")).limit(1).collect()
        if (firstErr.nonEmpty)
          throw new RuntimeException(s"halt: ${firstErr.head.getString(0)}")
        graft.io.Writers.write(compiled.main, pb.destination)
      case _ => // skip: write clean records; route errors to errorFile
        // The error branch is one action (the reference routes both in
        // one record loop, processor.go:95-119), run beside the main
        // write: the staged error-file write, whose row count is
        // observed as it is written, or with no error file a count.
        // The error file is appended only once the main write is done.
        val errorBranch =
          if (errorFile.isEmpty && !pb.errorHandling.logErrors) None
          else Some(new Beside(errorFile match {
            case Some(ef) =>
              val staged = graft.io.Writers.stageAppendCsv(compiled.errors, ef)
              (staged.rows, Some(staged))
            case None => (compiled.errors.count(), None)
          }))
        try graft.io.Writers.write(compiled.main, pb.destination)
        catch {
          case e: Throwable =>
            errorBranch.foreach(_.await() match {
              case scala.util.Success((_, staged)) => staged.foreach(_.discard())
              case scala.util.Failure(side) => e.addSuppressed(side)
            })
            throw e
        }
        errorBranch.foreach { b =>
          val (n, staged) = b.await().get
          staged.foreach(s => if (n > 0) s.commit() else s.discard())
          if (pb.errorHandling.logErrors && n > 0)
            System.err.println(s"[warn] $n record(s) skipped due to errors")
        }
    }
  }

  /** `body` on a new thread, started now. The thread inherits the
    * caller's Spark local properties (job group, scheduler pool), so
    * its jobs belong to the same run; [[await]] joins it. */
  private final class Beside[A](body: => A) {
    @volatile private var result: scala.util.Try[A] = _
    private val thread = new Thread(() =>
      result = try scala.util.Success(body) catch { case e: Throwable => scala.util.Failure(e) },
      "graft-error-sink")
    thread.start()
    def await(): scala.util.Try[A] = { thread.join(); result }
  }

  /** Two writers on one path would interleave its bytes and share one
    * `.spark-tmp` staging dir. */
  private def requireOwnPath(errorFile: String, destination: String): Unit = {
    def canon(p: String) = new java.io.File(p).getCanonicalPath
    if (destination.nonEmpty && canon(errorFile) == canon(destination))
      throw new IllegalArgumentException(
        s"errorFile is the destination: errorHandling.errorFile '$errorFile' " +
          s"resolves to destination.file '$destination'; give the error file its own path")
  }

  @annotation.tailrec
  private def parse(argv: List[String], acc: Args): Args = argv match {
    case Nil => acc
    case "-config" :: v :: rest  => parse(rest, acc.copy(config = v))
    case "-input" :: v :: rest   => parse(rest, acc.copy(input = Some(v)))
    case "-output" :: v :: rest  => parse(rest, acc.copy(output = Some(v)))
    case "-db" :: v :: rest      => parse(rest, acc.copy(db = Some(v)))
    case "-loglevel" :: v :: rest => parse(rest, acc.copy(logLevel = v))
    case "-dry-run" :: rest      => parse(rest, acc.copy(dryRun = true))
    case "-explain" :: rest      => parse(rest, acc.copy(explain = true))
    case "-fips" :: rest         => parse(rest, acc.copy(fips = true))
    case ("-help" | "--help" | "-h") :: rest => parse(rest, acc.copy(help = true))
    case other :: rest =>
      System.err.println(s"[warn] unknown flag: $other"); parse(rest, acc)
  }

  /** Formatted physical plan of an UNEXECUTED frame (streaming
    * relations plan to their explain-only placeholder node). */
  private def explainString(df: org.apache.spark.sql.DataFrame): String =
    df.queryExecution.explainString(
      org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))

  private def sparkLevel(l: String): String = l.toLowerCase match {
    case "none" | "error" => "ERROR"
    case "warn" => "WARN"
    case "debug" => "DEBUG"
    case _ => "WARN"
  }

  private val usage: String =
    """usage: graft-etl -config <playbook.yaml> [options]
      |  -config <file>    playbook YAML (required)
      |  -input <file>     override source.file
      |  -output <file>    override destination.file
      |  -db <conn>        override database connection string
      |  -loglevel <lvl>   none|error|warn|info|debug (default info)
      |  -dry-run          run the pipeline, skip the load, print a sample
      |  -explain          print the physical plan, skip the load
      |  -fips             reject non-FIPS algorithms (md5)
      |  -help             this message""".stripMargin
}

/** Env expansion + credential masking (reference internal/util/util.go). */
object Util {

  /** $VAR, ${VAR}, %VAR% -> env value; unset -> "" (util.go:12-34). */
  def expandEnv(s: String): String = {
    if (s == null) return s
    val dollar = "\\$\\{([A-Za-z_][A-Za-z0-9_]*)\\}|\\$([A-Za-z_][A-Za-z0-9_]*)".r
    val pct = "%([A-Za-z_][A-Za-z0-9_]*)%".r
    val afterDollar = dollar.replaceAllIn(s, m => {
      val name = Option(m.group(1)).getOrElse(m.group(2))
      java.util.regex.Matcher.quoteReplacement(sys.env.getOrElse(name, ""))
    })
    pct.replaceAllIn(afterDollar, m =>
      java.util.regex.Matcher.quoteReplacement(sys.env.getOrElse(m.group(1), "")))
  }

  /** [[expandEnv]] on the path params of one analytics stage, nested
    * ones (expect's ref_integrity rules) included. Path params are the
    * ones an op or rule declares with the `path` kind; only these are
    * env-expanded: SQL and regex params keep their text, where
    * `'%x%'` is a LIKE pattern, not a variable. */
  def expandPathParams(params: Map[String, Any]): Map[String, Any] = {
    import scala.jdk.CollectionConverters._
    def go(key: String, v: Any): Any = v match {
      case s: String if graft.compile.AnalyticsCompiler.pathParams(key) => expandEnv(s)
      case m: java.util.Map[_, _] =>
        m.asScala.map { case (k, x) => k -> go(k.toString, x) }.asJava
      case l: java.util.List[_] => l.asScala.map(go(key, _)).asJava
      case _ => v
    }
    params.map { case (k, v) => k -> go(k, v) }
  }

  /** Mask the password in connection-string URIs (util.go:79-112). */
  def maskCredentials(s: String): String = {
    if (s == null) return s
    s.replaceAll("(://[^:/@\\s]+):[^@/\\s]+@", "$1:*****@")
  }

  private val sensitiveKey =
    "(?i)(password|passwd|secret|token|apikey|api_key|credential)".r

  /** Mask values of sensitive-looking keys (util.go:121-156). */
  def maskSensitiveKV(key: String, value: String): String =
    if (sensitiveKey.findFirstIn(key).isDefined) "*****" else value
}
