package graft.compile

import graft.SparkTestBase
import graft.config.PlaybookLoader
import graft.io.Readers

/**
 * End-to-end playbook compilation against in-memory records — the
 * pipeline tables from the reference's processor tests
 * (/root/reference/internal/processor/processor_test.go), compared
 * order-insensitively like recordsEqualIgnoringOrder.
 */
class PipelineCompilerSpec extends SparkTestBase {

  private def records(rs: Map[String, Any]*) = Readers.recordsToDf(spark, rs.toSeq)

  test("mapping chain: later rules see earlier targets; output = targets only") {
    val pb = PlaybookLoader.fromString(
      """source: {type: parquet, file: unused}
        |destination: {type: parquet, file: unused}
        |mappings:
        |  - {source: first, target: upper_first, transform: toUpperCase}
        |  - {source: upper_first, target: greeting}
        |""".stripMargin)
    val src = records(Map("first" -> "ada", "extra" -> "dropped"))
    val out = PipelineCompiler.compileFrom(src, pb)
    assertSameRecords(out.main,
      Seq(Map("upper_first" -> "ADA", "greeting" -> "ADA")))
  }

  test("missing source field maps to null (processor.go:151)") {
    val pb = PlaybookLoader.fromString(
      """source: {type: parquet, file: u}
        |destination: {type: parquet, file: u}
        |mappings:
        |  - {source: nope, target: out}
        |  - {source: a, target: a2}
        |""".stripMargin)
    val out = PipelineCompiler.compileFrom(records(Map("a" -> 1L)), pb)
    assertSameRecords(out.main, Seq(Map("out" -> null, "a2" -> 1L)))
  }

  test("filter: false drops silently, eval-null goes to error channel") {
    val pb = PlaybookLoader.fromString(
      """source: {type: parquet, file: u}
        |destination: {type: parquet, file: u}
        |filter: "n > 5"
        |errorHandling: {mode: skip}
        |""".stripMargin)
    val src = records(
      Map("n" -> 10L, "tag" -> "keep"),
      Map("n" -> 1L, "tag" -> "drop"),
      Map("n" -> null, "tag" -> "err"))
    val out = PipelineCompiler.compileFrom(src, pb)
    assertSameRecords(out.main, Seq(Map("n" -> 10L, "tag" -> "keep")))
    val errs = out.errors.collect()
    assert(errs.length == 1 && errs.head.getAs[String]("tag") == "err")
  }

  test("filter referencing an unknown field sends every record to errors") {
    val pb = PlaybookLoader.fromString(
      """source: {type: parquet, file: u}
        |destination: {type: parquet, file: u}
        |filter: "ghost == 1"
        |""".stripMargin)
    val out = PipelineCompiler.compileFrom(records(Map("a" -> 1L), Map("a" -> 2L)), pb)
    assert(out.main.count() == 0)
    assert(out.errors.count() == 2)
  }

  test("flatten nested list: parent kept minus source field (processor_test.go 'Flatten Nested List')") {
    val pb = PlaybookLoader.fromString(
      """source: {type: parquet, file: u}
        |destination: {type: parquet, file: u}
        |flattening: {sourceField: details.addresses, targetField: address}
        |""".stripMargin)
    val src = records(Map("name" -> "a",
      "details" -> new java.util.HashMap[String, Any] {
        put("city", "berlin")
        put("addresses", java.util.List.of("h", "o"))
      }))
    val out = PipelineCompiler.compileFrom(src, pb)
    val rows = out.main.collect()
    assert(rows.length == 2)
    assert(rows.map(_.getAs[String]("address")).toSet == Set("h", "o"))
    val details = rows.head.getStruct(rows.head.fieldIndex("details"))
    assert(details.schema.fieldNames.toSeq == Seq("city")) // addresses removed
  }

  test("flatten: empty list -> zero records; includeParent=false -> only target") {
    val pb = PlaybookLoader.fromString(
      """source: {type: parquet, file: u}
        |destination: {type: parquet, file: u}
        |flattening: {sourceField: xs, targetField: x, includeParent: false}
        |""".stripMargin)
    val src = records(
      Map("id" -> 1L, "xs" -> java.util.List.of("p", "q")),
      Map("id" -> 2L, "xs" -> new java.util.ArrayList[Any]()))
    val out = PipelineCompiler.compileFrom(src, pb)
    assert(out.main.columns.toSeq == Seq("x"))
    assertSameRecords(out.main, Seq(Map("x" -> "p"), Map("x" -> "q")))
  }

  test("conditional flatten: unmet condition passes record through unflattened") {
    val pb = PlaybookLoader.fromString(
      """source: {type: parquet, file: u}
        |destination: {type: parquet, file: u}
        |flattening:
        |  sourceField: xs
        |  targetField: x
        |  conditionField: kind
        |  conditionValue: "multi"
        |""".stripMargin)
    val src = records(
      Map("kind" -> "multi", "xs" -> java.util.List.of("a", "b")),
      Map("kind" -> "single", "xs" -> java.util.List.of("z")))
    val out = PipelineCompiler.compileFrom(src, pb)
    assertSameRecords(out.main, Seq(
      Map("kind" -> "multi", "xs" -> null, "x" -> "a"),
      Map("kind" -> "multi", "xs" -> null, "x" -> "b"),
      Map("kind" -> "single", "xs" -> Seq("z"), "x" -> null)))
  }

  test("flatten errorOnNonList: null source -> error channel (processor.go:184-195)") {
    val pb = PlaybookLoader.fromString(
      """source: {type: parquet, file: u}
        |destination: {type: parquet, file: u}
        |flattening: {sourceField: xs, targetField: x, errorOnNonList: true}
        |errorHandling: {mode: skip}
        |""".stripMargin)
    val src = records(
      Map("id" -> 1L, "xs" -> java.util.List.of("a")),
      Map("id" -> 2L, "xs" -> null))
    val out = PipelineCompiler.compileFrom(src, pb)
    assert(out.main.count() == 1)
    assert(out.errors.count() == 1)
  }

  test("dedup first/last/min/max over the pipeline") {
    def run(strategy: String, extra: String = ""): Seq[(Long, Long)] = {
      val pb = PlaybookLoader.fromString(
        s"""source: {type: parquet, file: u}
           |destination: {type: parquet, file: u}
           |deduplication: {keys: [k], strategy: $strategy$extra}
           |""".stripMargin)
      val src = records(
        Map("k" -> 1L, "v" -> 10L),
        Map("k" -> 1L, "v" -> 5L),
        Map("k" -> 2L, "v" -> 7L))
      PipelineCompiler.compileFrom(src, pb).main.collect()
        .map(r => (r.getAs[Long]("k"), r.getAs[Long]("v"))).toSeq.sortBy(_._1)
    }
    assert(run("first") == Seq((1L, 10L), (2L, 7L)))
    assert(run("last") == Seq((1L, 5L), (2L, 7L)))
    assert(run("min", ", strategyField: v") == Seq((1L, 5L), (2L, 7L)))
    assert(run("max", ", strategyField: v") == Seq((1L, 10L), (2L, 7L)))
  }

  test("error records bypass dedup and keep first failing rule's message") {
    val pb = PlaybookLoader.fromString(
      """source: {type: parquet, file: u}
        |destination: {type: parquet, file: u}
        |mappings:
        |  - {source: a, target: a_int, transform: mustToInt}
        |  - {source: a, target: a_f, transform: mustToFloat}
        |deduplication: {keys: [a_int]}
        |errorHandling: {mode: skip}
        |""".stripMargin)
    val src = records(Map("a" -> "7"), Map("a" -> "x"))
    val out = PipelineCompiler.compileFrom(src, pb)
    assert(out.main.count() == 1)
    val e = out.errors.collect()
    assert(e.length == 1)
    assert(e.head.getAs[String]("etl_error_message").startsWith("mustToInt"))
  }

  test("must* mappings writing back to their own source column: errors read the original value") {
    val pb = PlaybookLoader.fromString(
      """source: {type: parquet, file: u}
        |destination: {type: parquet, file: u}
        |mappings:
        |  - {source: qty, target: qty, transform: mustToInt}
        |  - {source: price, target: price, transform: mustToFloat}
        |  - source: day
        |    target: day
        |    transform: mustDateConvert
        |    params: {inputFormat: "01/02/2006", outputFormat: "2006-01-02"}
        |errorHandling: {mode: skip}
        |""".stripMargin)
    val src = records(
      Map("qty" -> "7", "price" -> "2.5", "day" -> "03/04/2024"),
      Map("qty" -> "x", "price" -> "1.0", "day" -> "03/05/2024"))
    val out = PipelineCompiler.compileFrom(src, pb)
    assertSameRecords(out.main, Seq(Map("qty" -> 7L, "price" -> 2.5, "day" -> "2024-03-04")))
    val e = out.errors.collect()
    assert(e.length == 1)
    assert(e.head.getAs[String]("qty") == "x" && e.head.getAs[String]("day") == "03/05/2024")
    assert(e.head.getAs[String]("etl_error_message").startsWith("mustToInt"))
  }

  test("FIXTURES #3: validation records, skip keeps passers, errors carry messages") {
    val pb = PlaybookLoader.fromString(
      """source: {type: parquet, file: u}
        |destination: {type: parquet, file: u}
        |mappings:
        |  - {source: email, target: email, transform: "validateRegex:^[^@]+@[^@]+\\.[a-z]+$"}
        |  - {source: status, target: status, transform: validateRequired}
        |  - source: age
        |    target: age
        |    transform: validateNumericRange
        |    params: {min: 0, max: 120}
        |errorHandling: {mode: skip}
        |""".stripMargin)
    val src = records(
      Map("email" -> "test@example.com", "status" -> "active", "age" -> 30L),
      Map("email" -> "invalid-email", "status" -> "active", "age" -> 40L),
      Map("email" -> "good@email.org", "status" -> "", "age" -> 40L),
      Map("email" -> "ok@domain.net", "status" -> "active", "age" -> 150L))
    val out = PipelineCompiler.compileFrom(src, pb)
    assert(out.main.count() == 1)
    val errs = out.errors.collect()
      .map(r => (r.getAs[String]("email"), r.getAs[String]("etl_error_message"))).toMap
    assert(errs.size == 3)
    assert(errs("invalid-email").contains("validateRegex"))
    assert(errs("good@email.org").contains("validateRequired"))
    assert(errs("ok@domain.net").contains("validateNumericRange"))
  }

  test("shorthand transform syntax: regexExtract:pattern (transform.go:110-113)") {
    val pb = PlaybookLoader.fromString(
      """source: {type: parquet, file: u}
        |destination: {type: parquet, file: u}
        |mappings:
        |  - {source: raw, target: num, transform: "regexExtract:id=([0-9]+)"}
        |""".stripMargin)
    val out = PipelineCompiler.compileFrom(
      records(Map("raw" -> "id=77;x"), Map("raw" -> "nothing")), pb)
    assertSameRecords(out.main, Seq(Map("num" -> "77"), Map("num" -> null)))
  }

  test("filter on a nested struct field via dot notation") {
    val pb = PlaybookLoader.fromString(
      """source: {type: parquet, file: u}
        |destination: {type: parquet, file: u}
        |filter: "meta.score > 5"
        |""".stripMargin)
    def rec(name: String, score: Long) = Map("name" -> name,
      "meta" -> new java.util.HashMap[String, Any] { put("score", score) })
    val out = PipelineCompiler.compileFrom(records(rec("hi", 9L), rec("lo", 2L)), pb)
    assert(out.main.collect().map(_.getAs[String]("name")).toSeq == Seq("hi"))
  }

  test("numeric filter on a string column: parseable rows compare, garbage rows error") {
    val pb = PlaybookLoader.fromString(
      """source: {type: parquet, file: u}
        |destination: {type: parquet, file: u}
        |filter: "score > 80"
        |errorHandling: {mode: skip}
        |""".stripMargin)
    val src = records(
      Map("id" -> 1L, "score" -> "85.5"),
      Map("id" -> 2L, "score" -> "12"),
      Map("id" -> 3L, "score" -> "not_a_number"))
    val out = PipelineCompiler.compileFrom(src, pb)
    assert(out.main.collect().map(_.getAs[Long]("id")).toSeq == Seq(1L))
    assert(out.errors.collect().map(_.getAs[Long]("id")).toSeq == Seq(3L))
  }

  test("playbook validation accumulates errors") {
    val ex = intercept[IllegalArgumentException] {
      PlaybookLoader.fromString(
        """source: {type: nope, file: x}
          |destination: {type: csv}
          |filter: "a >"
          |mappings:
          |  - {source: a, target: t, transform: bogus}
          |  - {source: b, target: t}
          |deduplication: {keys: [], strategy: weird}
          |""".stripMargin)
    }
    val msg = ex.getMessage
    assert(msg.contains("source.type"))
    assert(msg.contains("destination.file"))
    assert(msg.contains("filter:"))
    assert(msg.contains("unknown transform"))
    assert(msg.contains("duplicate mapping target"))
    assert(msg.contains("strategy"))
  }
}
