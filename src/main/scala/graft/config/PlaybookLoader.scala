package graft.config

import org.yaml.snakeyaml.Yaml

/**
 * YAML -> Playbook with defaults, plus accumulated-error validation
 * (reference: internal/config/load.go:12-122 + validation.go:52-688).
 */
object PlaybookLoader {
  import Decode._

  def fromFile(path: String): Playbook =
    fromString(new String(java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(path)), "UTF-8"))

  def fromString(yamlText: String): Playbook = {
    val loaded =
      try Option(new Yaml().load[Any](yamlText))
      catch { case e: org.yaml.snakeyaml.error.YAMLException =>
        // malformed YAML is still ONE IllegalArgumentException, like
        // every other load failure — callers handle a single class
        throw new IllegalArgumentException(
          s"invalid playbook:\n  YAML parse error: ${e.getMessage}", e)
      }
    val root = loaded.getOrElse(throw new IllegalArgumentException("empty playbook"))
    val m = root match {
      case j: java.util.Map[_, _] => toScalaMap(j)
      case other => throw new IllegalArgumentException(
        s"invalid playbook:\n  playbook root must be a mapping (got ${render(other)})")
    }
    implicit val dec: DecodeErrors = new DecodeErrors
    known(m, Set("source", "destination", "filter", "mappings", "flattening",
      "deduplication", "dedup", "errorHandling", "analytics", "pipeline"), "playbook")
    // a missing/mistyped source or destination accumulates with every
    // other error (placeholder configs keep validation running) instead
    // of masking them behind a first-failure throw
    val srcMap = section(m, "source", "playbook")
    if (srcMap.isEmpty && !m.contains("source")) dec.add("playbook: missing 'source'")
    val dstMap = section(m, "destination", "playbook")
    if (dstMap.isEmpty && !m.contains("destination")) dec.add("playbook: missing 'destination'")
    val pb = Playbook(
      source = sourceOf(srcMap.getOrElse(Map("type" -> "parquet", "file" -> "/"))),
      destination = destOf(dstMap.getOrElse(Map("type" -> "parquet", "file" -> "/"))),
      filter = str(m, "filter", "playbook"),
      mappings = listOfMaps(m, "mappings", "mappings").map(ruleOf),
      flattening = section(m, "flattening", "playbook").map(flattenOf),
      dedup = section(m, "deduplication", "playbook")
        .orElse(section(m, "dedup", "playbook")).map(dedupOf),
      errorHandling = section(m, "errorHandling", "playbook").map(errOf)
        .getOrElse(ErrorHandlingConfig()),
      analytics = listOfMaps(m,
        if (m.contains("analytics")) "analytics" else "pipeline", "analytics")
        .map(stageOf))
    val errs = dec.errs.toSeq ++ Validator.validate(pb)
    if (errs.nonEmpty)
      throw new IllegalArgumentException("invalid playbook:\n  " + errs.mkString("\n  "))
    pb
  }

  private def sourceOf(m: Map[String, Any])(implicit d: DecodeErrors) = {
    val w = "source"
    known(m, Set("type", "file", "query", "delimiter", "commentChar", "splittable",
      "sheetName", "sheetIndex", "xmlRecordTag", "conn", "streaming", "schema"), w)
    SourceConfig(
      `type` = str(m, "type", w).getOrElse("").toLowerCase,
      file = str(m, "file", w).getOrElse(""),
      query = str(m, "query", w).getOrElse(""),
      delimiter = str(m, "delimiter", w),
      commentChar = str(m, "commentChar", w),
      splittable = bool(m, "splittable", w, dflt = false),
      sheetName = str(m, "sheetName", w),
      sheetIndex = int(m, "sheetIndex", w),
      xmlRecordTag = str(m, "xmlRecordTag", w),
      conn = str(m, "conn", w).getOrElse(""),
      streaming = bool(m, "streaming", w, dflt = false),
      schema = str(m, "schema", w).getOrElse(""))
  }

  private def destOf(m: Map[String, Any])(implicit d: DecodeErrors) = {
    val w = "destination"
    known(m, Set("type", "file", "table", "conn", "loader", "xmlRecordTag",
      "xmlRootTag", "sheetName", "partitionBy", "compression", "checkpoint",
      "bucketBy", "buckets", "sortBy", "zorderBy", "zorderBits", "zorderFiles",
      "bloomIndexBy", "bloomItemsPerFile", "bloomFpp"), w)
    val loader = section(m, "loader", w)
    loader.foreach(l => known(l, Set("command", "batch_size"), s"$w.loader"))
    DestinationConfig(
      `type` = str(m, "type", w).getOrElse("").toLowerCase,
      file = str(m, "file", w).getOrElse(""),
      table = str(m, "table", w).getOrElse(""),
      conn = str(m, "conn", w).getOrElse(""),
      loaderCommand = loader.flatMap(l => str(l, "command", s"$w.loader")).getOrElse(""),
      loaderBatchSize = loader.flatMap(l => int(l, "batch_size", s"$w.loader")).getOrElse(0),
      xmlRecordTag = str(m, "xmlRecordTag", w),
      xmlRootTag = str(m, "xmlRootTag", w),
      sheetName = str(m, "sheetName", w),
      partitionBy = strList(m, "partitionBy", w),
      compression = str(m, "compression", w).getOrElse(""),
      checkpoint = str(m, "checkpoint", w).getOrElse(""),
      bucketBy = strList(m, "bucketBy", w),
      buckets = int(m, "buckets", w).getOrElse(0),
      sortBy = strList(m, "sortBy", w),
      zorderBy = strList(m, "zorderBy", w),
      zorderBits = int(m, "zorderBits", w).getOrElse(16),
      zorderFiles = int(m, "zorderFiles", w).getOrElse(0),
      bloomIndexBy = strList(m, "bloomIndexBy", w),
      bloomItemsPerFile = long(m, "bloomItemsPerFile", w).getOrElse(1000000L),
      bloomFpp = dbl(m, "bloomFpp", w).getOrElse(0.01))
  }

  private def ruleOf(m: Map[String, Any])(implicit d: DecodeErrors) = {
    val w = "mappings"
    known(m, Set("source", "target", "transform", "params"), w)
    MappingRule(
      source = str(m, "source", w).getOrElse(""),
      target = str(m, "target", w).getOrElse(""),
      transform = str(m, "transform", w),
      // transform params are free-form per transform name — the
      // transform registry validates them, not the schema
      params = section(m, "params", w).getOrElse(Map.empty))
  }

  private def flattenOf(m: Map[String, Any])(implicit d: DecodeErrors) = {
    val w = "flattening"
    known(m, Set("sourceField", "targetField", "includeParent", "errorOnNonList",
      "conditionField", "conditionValue"), w)
    FlatteningConfig(
      sourceField = str(m, "sourceField", w).getOrElse(""),
      targetField = str(m, "targetField", w).getOrElse(""),
      includeParent = bool(m, "includeParent", w, dflt = true),
      errorOnNonList = bool(m, "errorOnNonList", w, dflt = false),
      conditionField = str(m, "conditionField", w),
      conditionValue = m.get("conditionValue").map(v => String.valueOf(v)))
  }

  private def dedupOf(m: Map[String, Any])(implicit d: DecodeErrors) = {
    val w = "deduplication"
    known(m, Set("keys", "strategy", "strategyField", "tsCol",
      "quietPeriod", "watermarkDelay"), w)
    DedupConfig(
      keys = strList(m, "keys", w),
      strategy = str(m, "strategy", w).getOrElse("first").toLowerCase,
      strategyField = str(m, "strategyField", w),
      tsCol = str(m, "tsCol", w),
      quietPeriod = str(m, "quietPeriod", w).getOrElse("30 seconds"),
      watermarkDelay = str(m, "watermarkDelay", w).getOrElse("0 seconds"))
  }

  private def stageOf(m: Map[String, Any])(implicit d: DecodeErrors) = AnalyticsStage(
    // stage params are op-specific — AnalyticsCompiler.validate owns them
    op = str(m, "op", "analytics").getOrElse("").toLowerCase,
    params = m - "op")

  private def errOf(m: Map[String, Any])(implicit d: DecodeErrors) = {
    val w = "errorHandling"
    known(m, Set("mode", "logErrors", "errorFile"), w)
    ErrorHandlingConfig(
      mode = str(m, "mode", w).getOrElse("halt").toLowerCase,
      logErrors = bool(m, "logErrors", w, dflt = true),
      errorFile = str(m, "errorFile", w))
  }
}

/** Accumulated-error playbook validation (validation.go:52-688 shape). */
object Validator {

  private val sourceTypes = Set("csv", "json", "jsonl", "xlsx", "xml", "yaml", "postgres", "parquet", "orc", "avro", "binary")
  private val strategies = Set("first", "last", "min", "max")
  private val modes = Set("halt", "skip")

  def validate(pb: Playbook): Seq[String] = {
    val errs = scala.collection.mutable.ArrayBuffer[String]()
    if (!sourceTypes(pb.source.`type`))
      errs += s"source.type '${pb.source.`type`}' not in ${sourceTypes.toSeq.sorted.mkString(",")}"
    if (pb.source.`type` != "postgres" && pb.source.file.isEmpty)
      errs += "source.file is required"
    val destTypes = sourceTypes - "binary" // raw media is ingest-only
    if (!destTypes(pb.destination.`type`))
      errs += s"destination.type '${pb.destination.`type`}' not in ${destTypes.toSeq.sorted.mkString(",")}"
    if (pb.destination.`type` != "postgres" && pb.destination.file.isEmpty)
      errs += "destination.file is required"

    // parquet physical-layout options: every constraint surfaces at
    // LOAD time with the other errors, never as a bare require() after
    // the pipeline already ran
    val d = pb.destination
    if (d.bucketBy.nonEmpty || d.zorderBy.nonEmpty) {
      if (d.`type` != "parquet")
        errs += s"destination: bucketBy/zorderBy require type parquet (got '${d.`type`}')"
      if (d.bucketBy.nonEmpty && d.zorderBy.nonEmpty)
        errs += "destination: bucketBy and zorderBy are mutually exclusive (bucketed tables hash rows; Z-order range-clusters them)"
      if (d.bucketBy.nonEmpty && d.buckets < 1)
        errs += s"destination: bucketBy needs buckets >= 1 (got ${d.buckets})"
      if (d.bucketBy.nonEmpty && d.table.isEmpty)
        errs += "destination: bucketBy needs `table` (the metastore name the bucketed layout is registered and re-read under)"
      if (d.bucketBy.nonEmpty && d.partitionBy.nonEmpty)
        errs += "destination: bucketBy with partitionBy is unsupported (one physical layout per write)"
      if (d.zorderBy.nonEmpty &&
          (d.zorderBits < 1 || d.zorderBy.size * d.zorderBits > 62))
        errs += s"destination: ${d.zorderBy.size} zorderBy dims x ${d.zorderBits} bits exceeds the 62-bit interleave budget (${62 / math.max(d.zorderBy.size, 1)} bits fits)"
    }
    if (d.`type` == "avro" && d.partitionBy.nonEmpty)
      errs += "destination: partitionBy is unsupported for avro (avro-mapred writes one container file per task; use parquet/orc for Hive-style layouts)"
    if (d.sortBy.nonEmpty && d.bucketBy.isEmpty)
      errs += "destination: sortBy requires bucketBy (it orders rows within bucket files)"
    if (d.bloomIndexBy.nonEmpty) {
      if (d.`type` != "parquet")
        errs += s"destination: bloomIndexBy requires type parquet (got '${d.`type`}')"
      if (d.bucketBy.nonEmpty)
        errs += "destination: bloomIndexBy with bucketBy is unsupported (bucketed tables prune via the bucket hash already; the side index reads `file`, not metastore buckets)"
      if (d.bloomFpp <= 0.0 || d.bloomFpp >= 1.0)
        errs += s"destination: bloomFpp must be in (0, 1) (got ${d.bloomFpp})"
      if (d.bloomItemsPerFile < 1)
        errs += s"destination: bloomItemsPerFile must be >= 1 (got ${d.bloomItemsPerFile})"
    }

    // filter must translate (syntax check at compile time — validation.go:62-66)
    pb.filter.foreach { f =>
      try graft.expr.Goval.translate(f)
      catch { case e: Exception => errs += s"filter: ${e.getMessage}" }
    }

    val targets = pb.mappings.map(_.target)
    targets.diff(targets.distinct).distinct.foreach(t => errs += s"duplicate mapping target '$t'")
    pb.mappings.zipWithIndex.foreach { case (r, i) =>
      if (r.source.isEmpty) errs += s"mappings[$i]: source is required"
      if (r.target.isEmpty) errs += s"mappings[$i]: target is required"
      r.transform.foreach { tr =>
        val name = tr.split(":", 2)(0).toLowerCase
        if (!graft.transforms.Transforms.names(name))
          errs += s"mappings[$i]: unknown transform '$name'"
      }
    }

    pb.flattening.foreach { f =>
      if (f.sourceField.isEmpty) errs += "flattening.sourceField is required"
      if (f.targetField.isEmpty) errs += "flattening.targetField is required"
      if (f.conditionField.isDefined != f.conditionValue.isDefined)
        errs += "flattening: conditionField and conditionValue must be set together"
    }

    pb.dedup.foreach { d =>
      if (d.keys.isEmpty) errs += "deduplication.keys is required"
      if (!strategies(d.strategy)) errs += s"deduplication.strategy '${d.strategy}' not in first,last,min,max"
      if ((d.strategy == "min" || d.strategy == "max") && d.strategyField.isEmpty)
        errs += "deduplication.strategyField is required for min/max"
    }

    if (!modes(pb.errorHandling.mode))
      errs += s"errorHandling.mode '${pb.errorHandling.mode}' not in halt,skip"

    errs ++= graft.compile.AnalyticsCompiler.validate(pb.analytics)

    // streaming mode: the pipeline compiles over readStream, so every
    // section must have a streaming-executable form — reject the rest
    // at load with a reason, not at runtime with an AnalysisException
    if (pb.source.streaming) {
      if (!Set("parquet", "orc", "jsonl")(pb.source.`type`))
        errs += s"streaming source.type '${pb.source.`type`}' not in parquet,orc,jsonl (file-monitorable splittable formats)"
      if (!Set("parquet", "orc", "jsonl")(pb.destination.`type`))
        errs += s"streaming destination.type '${pb.destination.`type`}' not in parquet,orc,jsonl"
      if (pb.destination.checkpoint.isEmpty)
        errs += "streaming destination.checkpoint is required (exactly-once sink state)"
      // physical-layout options are batch-write features: the
      // streaming file sink appends incrementally, so a global
      // cluster/bucket/index step has no well-defined point to run —
      // reject instead of silently ignoring (maintain layout with a
      // periodic batch OPTIMIZE pass over the sink directory)
      if (pb.destination.bucketBy.nonEmpty || pb.destination.zorderBy.nonEmpty ||
          pb.destination.bloomIndexBy.nonEmpty)
        errs += "streaming destination: bucketBy/zorderBy/bloomIndexBy are batch-write layouts (run a periodic batch compact/cluster/index pass over the sink directory instead)"
      val lastNeverFinal = "no arrival is ever final on an unbounded stream (use min/max on a version field, or batch)"
      pb.dedup.foreach { d =>
        // first = dropDuplicates (first arrival is FINAL — append-safe);
        // min/max = keyed-state extreme with quiet-period emission
        // (Dedup.dedupExtremeStream). 'last' stays rejected: on an
        // unbounded stream every arrival supersedes, so nothing is ever
        // final under an append-only file sink.
        if (d.strategy == "last")
          errs += s"streaming deduplication.strategy 'last' unsupported — $lastNeverFinal"
        if (Set("min", "max")(d.strategy)) {
          if (d.tsCol.isEmpty)
            errs += "streaming min/max deduplication needs tsCol (the event-time column whose watermark drives quiet-period emission)"
          // fail bad durations at LOAD, not per-key at runtime
          Seq("quietPeriod" -> d.quietPeriod, "watermarkDelay" -> d.watermarkDelay)
            .foreach { case (k, v) =>
              val iv = org.apache.spark.sql.catalyst.util.IntervalUtils.safeStringToInterval(
                org.apache.spark.unsafe.types.UTF8String.fromString(v))
              if (iv == null)
                errs += s"streaming deduplication.$k '$v' unparseable (use e.g. '30 seconds', '5 minutes')"
              // the quiet period is a fixed span of milliseconds
              // (Dedup.intervalMs); a month has no fixed length
              else if (k == "quietPeriod" && iv.months != 0)
                errs += s"streaming deduplication.quietPeriod '$v' has a month or year part, which has no fixed length (use days, e.g. '30 days')"
            }
        }
      }
      if (pb.errorHandling.mode != "skip")
        errs += "streaming errorHandling.mode must be 'skip' (a stream cannot halt on a future record)"
      if (pb.errorHandling.errorFile.isDefined)
        errs += "streaming errorFile is not supported (error records are dropped; route them with a second playbook filtering _err patterns)"
      val ops = graft.compile.AnalyticsCompiler.ops
      val streamable = ops.values.filter(_.streamable).map(_.name).toSeq.sorted
      val streamJoins = Set("inner", "left", "left_outer", "leftouter",
        "left_semi", "leftsemi", "left_anti", "leftanti")
      pb.analytics.zipWithIndex.foreach { case (st, i) =>
        if (!ops.get(st.op).exists(_.streamable))
          errs += s"analytics[$i]: op '${st.op}' is not streaming-executable (needs a full-corpus pass); streaming-safe ops: ${streamable.mkString(", ")}"
        // a derive carrying a window function and a right/full
        // stream-static join both pass the generic checks but fail at
        // runtime with AnalysisException — reject them here with the
        // reason instead
        if (st.op == "derive") st.params.get("expr").collect { case s: String => s }.foreach { sql =>
          try {
            val parsed = org.apache.spark.sql.catalyst.parser.CatalystSqlParser.parseExpression(sql)
            val windowed = parsed.collectFirst {
              case _: org.apache.spark.sql.catalyst.expressions.WindowExpression => ()
              case _: org.apache.spark.sql.catalyst.expressions.WindowSpecDefinition => ()
            }.isDefined
            if (windowed)
              errs += s"analytics[$i]: derive '$sql' uses a window function — non-time windows are not streaming-executable"
          } catch { case _: Exception => () } // parse errors already reported
        }
        // exact_dedup compiles to dropDuplicates on a stream, which
        // keeps the first arrival whatever `keep` says
        if (st.op == "exact_dedup" && st.params.get("keep").contains("last"))
          errs += s"analytics[$i]: exact_dedup keep 'last' unsupported on a stream — $lastNeverFinal"
        if (st.op == "join")
          st.params.get("how").collect { case s: String => s.toLowerCase }
            .filterNot(streamJoins).foreach(h =>
              errs += s"analytics[$i]: join how '$h' is not supported for stream-static joins (use ${streamJoins.toSeq.sorted.mkString(", ")})")
      }
    }
    errs.toSeq
  }
}
