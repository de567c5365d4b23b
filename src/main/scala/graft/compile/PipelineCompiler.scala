package graft.compile

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.config._
import graft.expr.Goval
import graft.ops.Dedup
import graft.transforms.{EngineConfig, Transforms}

/**
 * Playbook -> DataFrame compiler: the Spark-native replacement for the
 * reference's interpreted record loop
 * (/root/reference/internal/app/app.go:148-182,
 * internal/processor/processor.go:81-141).
 *
 * The whole pipeline compiles to ONE declarative plan per branch:
 * errors are carried as a `_err` string column (first failing rule
 * wins, rule order — SURVEY §2.6) instead of exceptions, so Catalyst
 * still gets predicate pushdown/codegen across the stages, and the
 * main/error branches are two filters over the same (uncached) lineage.
 */
object PipelineCompiler {

  /** Internal column names (prefixed to dodge user field collisions). */
  private val SEQ = "_graft_seq"
  private val ERR = "_graft_err"
  private val ORIG = "_graft_orig"

  /** main = clean records (mapping targets only);
    * errors = original source records + etl_error_message. */
  case class Compiled(main: DataFrame, errors: DataFrame)

  def compile(spark: SparkSession, pb: Playbook,
              engine: EngineConfig = EngineConfig()): Compiled = {
    val src = graft.io.Readers.read(spark, pb.source)
    compileFrom(src, pb, engine)
  }

  /** Compile over an already-read source (tests, embedding as a library). */
  def compileFrom(src: DataFrame, pb: Playbook,
                  engine: EngineConfig = EngineConfig()): Compiled = {
    val srcCols = src.columns.toSeq

    // ---- FILTER (§2.2): eval-error -> error channel, false -> drop ----
    // Runs DIRECTLY on the source scan, before the nondeterministic
    // ingest-seq column is added — otherwise Catalyst cannot push the
    // predicate down to the (parquet) scan. Rows whose predicate
    // evaluates to null branch into the error channel; when the
    // predicate is provably non-nullable that branch constant-folds to
    // an empty relation at optimization time.
    var filtered = src
    var filterErrors: Option[DataFrame] = None
    pb.filter.foreach { f =>
      // identifiers may be dot-notation nested paths (getNestedField,
      // processor.go:233-245) — resolve against the full schema
      def typeOf(n: String): Option[DataType] = resolvePath(src.schema, n)
      val tr = Goval.translate(f,
        stringTyped = n => typeOf(n).exists(_.isInstanceOf[StringType]),
        timestampTyped = n => typeOf(n).flatMap {
          case TimestampNTZType    => Some("timestamp_ntz")
          case _: TimestampType    => Some("timestamp")
          case _: DateType         => Some("date")
          case _                   => None
        })
      val unknown = tr.identifiers.filterNot(n => typeOf(n).isDefined)
      if (unknown.nonEmpty) {
        // reference: unknown parameter -> per-record eval error -> error file
        filterErrors = Some(src.select(col("*"),
          lit(s"filter: unknown field(s) ${unknown.mkString(",")}").as("etl_error_message")))
        filtered = src.limit(0)
      } else {
        val pred = expr(tr.sql)
        filterErrors = Some(src.filter(pred.isNull).select(col("*"),
          lit("filter: expression evaluated to null").as("etl_error_message")))
        filtered = src.filter(pred) // null and false both excluded here
      }
    }

    // ingest order + original record capture (error-file parity:
    // app.go:98 writes the ORIGINAL record alongside the message).
    // Relative order of surviving rows equals ingest order, so dedup
    // first/last semantics are unchanged by filtering first.
    // Streaming: monotonically_increasing_id is not stream-executable
    // and dedup runs as dropDuplicates (first ARRIVAL, the streaming
    // statement of "first in ingest order") — the seq column is a
    // placeholder there.
    val streaming = src.isStreaming
    var df = (if (streaming) filtered.withColumn(SEQ, lit(null).cast(StringType))
              else Dedup.withIngestSeq(filtered, SEQ))
      .withColumn(ORIG, struct(srcCols.map(col): _*))
      .withColumn(ERR, lit(null).cast(StringType))

    // ---- MAPPINGS (§2.3): sequential fold; targets shadow sources ----
    pb.mappings.foreach { rule =>
      val (name, shorthand) = rule.transform match {
        case Some(tr) if tr.contains(":") =>
          val Array(n, p) = tr.split(":", 2); (Some(n.toLowerCase), Some(p))
        case Some(tr) => (Some(tr.toLowerCase), None)
        case None => (None, None)
      }
      // shorthand params only for regexextract/validateregex (transform.go:110-113)
      val params: Map[String, Any] = shorthand match {
        case Some(p) if name.exists(n => n == "regexextract" || n == "validateregex") =>
          rule.params + ("pattern" -> p)
        case _ => rule.params
      }
      val schema = df.schema
      def fieldOf(n: String): Option[(Column, DataType)] =
        schema.fields.find(_.name == n).map(f => (col(n), f.dataType))
      val (srcCol, srcType) = fieldOf(rule.source)
        .getOrElse((lit(null).cast(StringType), NullType)) // missing -> nil (processor.go:151)
      name match {
        case None =>
          df = df.withColumn(rule.target, srcCol)
        case Some(n) =>
          val out = Transforms(n, Transforms.Ctx(srcCol, srcType, rule.source, fieldOf, params, engine))
          // target and error in ONE projection, so the error expression
          // reads the original source even when the target overwrites it;
          // first error wins, rule order (processor.go:157)
          df = df.withColumns(Map(rule.target -> out.value) ++
            out.error.map(e => ERR -> coalesce(col(ERR), e)))
      }
    }
    // projection: output = mapping targets only (processor.go:145,162)
    if (pb.mappings.nonEmpty) {
      val keep = pb.mappings.map(_.target).distinct
      df = df.select((keep ++ Seq(SEQ, ERR, ORIG)).map(col): _*)
    }

    // ---- FLATTENING (§2.4) ----
    pb.flattening.foreach { fl =>
      df = compileFlatten(df, fl)
    }

    // errors exit the pipeline before dedup (processor.go:95-119: error
    // records never reach dedupRecords); filter-stage errors union in
    val transformErrors = df.filter(col(ERR).isNotNull)
      .select(col(ORIG + ".*"), col(ERR).as("etl_error_message"))
    val errorsDf = filterErrors match {
      case Some(fe) => fe.unionByName(transformErrors)
      case None => transformErrors
    }
    var main = df.filter(col(ERR).isNull)

    // ---- DEDUPLICATION (§2.5) ----
    pb.dedup.foreach { d =>
      if (streaming) {
        // first = dropDuplicates (first arrival per key; unbounded
        // state — the batch operators remain the bounded-state tool
        // for full-corpus dedup); min/max = keyed-state extreme with
        // quiet-period emission. The internal SEQ/ERR/ORIG columns ride
        // through the state row and come off after, as in batch.
        // Validator rejects 'last' with its reason.
        d.strategy match {
          case "min" | "max" =>
            main = graft.streaming.StreamOps.dedupExtremeStream(
              main, d.keys, d.strategyField.get,
              max = d.strategy == "max", tsCol = d.tsCol.get,
              quiet = d.quietPeriod, watermarkDelay = d.watermarkDelay)
          case _ => main = main.dropDuplicates(d.keys)
        }
      } else {
        main = main.withColumnRenamed(SEQ, "_seq") // Dedup ops consume "_seq"
        main = d.strategy match {
          case "last" => Dedup.byIngestOrder(main, d.keys, keepFirst = false)
          case "min"  => Dedup.byExtreme(main, d.keys, d.strategyField.get, max = false)
          case "max"  => Dedup.byExtreme(main, d.keys, d.strategyField.get, max = true)
          case _      => Dedup.byIngestOrder(main, d.keys, keepFirst = true)
        }
      }
    }

    // ---- ANALYTICS (north star, §7E): config-driven operator chain
    // over the clean branch, after the reference's six sections ----
    val cleanMain = main.drop(SEQ, "_seq", ERR, ORIG)
    val finalMain =
      if (pb.analytics.isEmpty) cleanMain
      else AnalyticsCompiler(src.sparkSession, cleanMain, pb.analytics)
    Compiled(finalMain, errorsDf)
  }

  /** Explode with the reference's flatten semantics (processor.go:170-230). */
  private def compileFlatten(df0: DataFrame, fl: FlatteningConfig): DataFrame = {
    val internals = Seq(SEQ, ERR, ORIG)

    // conditionField/Value: stringified equality; not met -> pass through
    // UNflattened (processor.go:173-181)
    val (toFlatten, passThrough) = (fl.conditionField, fl.conditionValue) match {
      case (Some(cf), Some(cv)) =>
        val cond = col(cf).cast(StringType) <=> lit(cv)
        (df0.filter(cond), Some(df0.filter(!cond || cond.isNull)))
      case _ => (df0, None)
    }

    val srcType = resolvePath(toFlatten.schema, fl.sourceField)
    val flattened: DataFrame = srcType match {
      case Some(_: ArrayType) =>
        val exploded =
          if (fl.includeParent) {
            // explode: null/empty arrays -> zero rows (matches empty-list
            // and nil/missing-drop semantics), element -> targetField,
            // sourceField removed from the kept parent
            val e = toFlatten.withColumn(fl.targetField, explode(col(fl.sourceField)))
            dropPath(e, fl.sourceField)
          } else {
            toFlatten.select(
              (internals.map(col) :+ explode(col(fl.sourceField)).as(fl.targetField)): _*)
          }
        if (fl.errorOnNonList) {
          // null source is the runtime-observable "non-list" in Spark's
          // static schema; route those rows to the error channel
          val errRows = toFlatten.filter(col(fl.sourceField).isNull)
            .withColumn(ERR, coalesce(col(ERR),
              lit(s"flattening: field '${fl.sourceField}' is not a list")))
          val errProjected = alignTo(exploded.schema, errRows)
          exploded.unionByName(errProjected, allowMissingColumns = true)
        } else exploded
      case _ if fl.errorOnNonList =>
        // whole column isn't a list -> every record errors
        toFlatten.withColumn(ERR, coalesce(col(ERR),
          lit(s"flattening: field '${fl.sourceField}' is not a list")))
          .withColumn(fl.targetField, lit(null).cast(StringType))
      case _ =>
        // non-list/missing source -> records dropped silently (!)
        toFlatten.limit(0).withColumn(fl.targetField, lit(null).cast(StringType))
    }

    passThrough match {
      case Some(p) => flattened.unionByName(
        p.withColumn(fl.targetField, lit(null).cast(
          flattened.schema.find(_.name == fl.targetField).map(_.dataType).getOrElse(StringType))),
        allowMissingColumns = true)
      case None => flattened
    }
  }

  /** Resolve a dot-notation path against a schema. */
  private def resolvePath(schema: StructType, path: String): Option[DataType] = {
    val parts = path.split('.')
    parts.foldLeft(Option(schema: DataType)) {
      case (Some(st: StructType), p) => st.fields.find(_.name == p).map(_.dataType)
      case _ => None
    }
  }

  /** Drop a possibly-nested field (rebuilds ancestor structs —
    * reference removeNestedField, processor.go:248-273). */
  private def dropPath(df: DataFrame, path: String): DataFrame = {
    if (!path.contains('.')) df.drop(path)
    else df.withColumn(path.split('.').head, dropInStruct(df.schema, path.split('.').toSeq))
  }

  private def dropInStruct(schema: StructType, parts: Seq[String]): Column = {
    def rebuild(st: StructType, prefix: Seq[String], rest: Seq[String]): Column = rest match {
      case Seq(leaf) =>
        struct(st.fields.filterNot(_.name == leaf).map(f =>
          col((prefix :+ f.name).mkString(".")).as(f.name)).toIndexedSeq: _*)
      case head +: tail =>
        struct(st.fields.map { f =>
          if (f.name == head) f.dataType match {
            case inner: StructType => rebuild(inner, prefix :+ head, tail).as(head)
            case _ => col((prefix :+ f.name).mkString(".")).as(f.name)
          } else col((prefix :+ f.name).mkString(".")).as(f.name)
        }.toIndexedSeq: _*)
    }
    val top = schema.fields.find(_.name == parts.head).get.dataType.asInstanceOf[StructType]
    rebuild(top, Seq(parts.head), parts.tail)
  }

  /** Give `rows` the target schema's columns (null-filling the exploded
    * target) so unions line up. */
  private def alignTo(target: StructType, rows: DataFrame): DataFrame = {
    val cols = target.fields.map { f =>
      if (rows.columns.contains(f.name)) col(f.name) else lit(null).cast(f.dataType).as(f.name)
    }
    rows.select(cols.toIndexedSeq: _*)
  }
}
