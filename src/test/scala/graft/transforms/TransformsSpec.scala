package graft.transforms

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.SparkTestBase

/**
 * Behavior tables ported from the reference's transform tests
 * (/root/reference/internal/transform/transform_test.go) — the
 * Go functions are the spec; each case drives the compiled Column
 * through a real DataFrame.
 */
class TransformsSpec extends SparkTestBase {

  private def onStrings(values: Seq[String], name: String,
                        params: Map[String, Any] = Map.empty,
                        engine: EngineConfig = EngineConfig()): Seq[Any] = {
    import spark.implicits._
    val df = values.toDF("v")
    val out = Transforms(name, Transforms.Ctx(col("v"), StringType, "v",
      n => df.schema.fields.find(_.name == n).map(f => (col(n), f.dataType)), params, engine))
    df.select(out.value).collect().map(r => r.get(0)).toSeq
  }

  private def onDoubles(values: Seq[java.lang.Double], name: String): Seq[Any] = {
    import spark.implicits._
    val df = values.map(Option(_).map(_.doubleValue)).toDF("v")
    val out = Transforms(name, Transforms.Ctx(col("v"), DoubleType, "v", _ => None, Map.empty))
    df.select(out.value).collect().map(_.get(0)).toSeq
  }

  test("toInt: integral floats convert, fractional -> null, strings parse (transform_test.go toInt table)") {
    assert(onDoubles(Seq(42.0, 1.5, -3.0, null), "toint") == Seq(42L, null, -3L, null))
    assert(onStrings(Seq("123", " 42 ", "1.0", "1.5", "abc", ""), "toint") ==
      Seq(123L, 42L, 1L, null, null, null))
  }

  test("toFloat: widen / parse / null on garbage") {
    assert(onStrings(Seq("1.5", " 2 ", "abc", ""), "tofloat") == Seq(1.5, 2.0, null, null))
  }

  test("toBool: permissive string sets (transform.go:426-463)") {
    assert(onStrings(Seq("true", "YES", " t ", "y", "1"), "tobool") ==
      Seq(true, true, true, true, true))
    assert(onStrings(Seq("false", "no", "F", "n", "0", ""), "tobool") ==
      Seq(false, false, false, false, false, false))
    assert(onStrings(Seq("maybe", "2", "0.0"), "tobool") == Seq(null, true, false))
  }

  test("toString: nil -> empty string; floats via Go %v") {
    assert(onDoubles(Seq(100.0, 1.5, null), "tostring") == Seq("100", "1.5", ""))
  }

  test("mustToInt error channel fires exactly on unconvertible rows") {
    import spark.implicits._
    val df = Seq("12", "x").toDF("v")
    val out = Transforms("musttoint", Transforms.Ctx(col("v"), StringType, "v", _ => None, Map.empty))
    val rows = df.select(out.value.as("v2"), out.error.get.as("e")).collect()
    assert(rows(0).get(0) == 12L && rows(0).isNullAt(1))
    assert(rows(1).isNullAt(0) && rows(1).getString(1).contains("mustToInt"))
  }

  test("mustToBool: empty string is an ERROR, not false (transform.go:696,706-709)") {
    import spark.implicits._
    val df = Seq("true", "", "nope").toDF("v")
    val out = Transforms("musttobool", Transforms.Ctx(col("v"), StringType, "v", _ => None, Map.empty))
    val rows = df.select(out.value.as("b"), out.error.get.as("e")).collect()
    assert(rows(0).getBoolean(0) && rows(0).isNullAt(1))
    assert(rows(1).isNullAt(0) && !rows(1).isNullAt(1))
    assert(rows(2).isNullAt(0) && !rows(2).isNullAt(1))
  }

  test("trim/upper/lower pass non-strings through") {
    assert(onStrings(Seq("  x  "), "trim") == Seq("x"))
    assert(onStrings(Seq("x"), "touppercase") == Seq("X"))
    assert(onStrings(Seq("X"), "tolowercase") == Seq("x"))
    assert(onDoubles(Seq(1.5), "trim") == Seq(1.5)) // passthrough
  }

  test("replaceAll is literal, not regex (transform.go:478-494)") {
    assert(onStrings(Seq("a.b.c"), "replaceall",
      Map("old" -> ".", "new" -> "-")) == Seq("a-b-c"))
  }

  test("substring: rune-based 0-based start with clamping (transform.go:497-531)") {
    assert(onStrings(Seq("hello world"), "substring",
      Map("start" -> 0, "length" -> 5)) == Seq("hello"))
    assert(onStrings(Seq("hello"), "substring",
      Map("start" -> 3, "length" -> 10)) == Seq("lo"))
    assert(onStrings(Seq("hello"), "substring",
      Map("start" -> 9, "length" -> 2)) == Seq(""))
    assert(onStrings(Seq("hello"), "substring",
      Map("start" -> -2, "length" -> 2)) == Seq("he"))
    assert(onStrings(Seq("héllo"), "substring",
      Map("start" -> 1, "length" -> 3)) == Seq("éll")) // codepoints, not bytes
  }

  test("regexExtract returns first capture group; no match -> null") {
    assert(onStrings(Seq("id=42;", "nope"), "regexextract",
      Map("pattern" -> "id=([0-9]+)")) == Seq("42", null))
  }

  test("epochToDate: UTC date string; unparseable passes through") {
    assert(onStrings(Seq("1700000000", "garbage"), "epochtodate") ==
      Seq("2023-11-14", "garbage"))
  }

  test("calculateAge: frozen now, floor days, future -> 0 (transform.go:169-191)") {
    val eng = EngineConfig(nowEpoch = Some(1700000000L)) // 2023-11-14 UTC
    assert(onStrings(Seq("1699900000", "1600000000", "1800000000"), "calculateage", engine = eng) ==
      Seq(1, 1157, 0)) // 2020-09-13 -> 2023-11-14 = 1157 days
  }

  test("dateConvert: explicit layout and fallback list (transform.go:311-362)") {
    assert(onStrings(Seq("2021/03/05"), "dateconvert",
      Map("inputFormat" -> "2006/01/02", "outputFormat" -> "01/02/2006")) == Seq("03/05/2021"))
    // no inputFormat -> fallback list; '01/02/2006' is US order (month first)
    assert(onStrings(Seq("03/05/2021"), "dateconvert",
      Map("outputFormat" -> "2006-01-02")) == Seq("2021-03-05"))
    assert(onStrings(Seq("not a date"), "dateconvert",
      Map("outputFormat" -> "2006-01-02")) == Seq("not a date")) // passthrough
  }

  test("multiDateConvert: first layout that parses wins") {
    assert(onStrings(Seq("2021-03-05", "05.03.2021", "x"), "multidateconvert",
      Map("formats" -> Seq("2006-01-02", "02.01.2006"), "outputFormat" -> "20060102")) ==
      Seq("20210305", "20210305", "x"))
  }

  test("branch: first true condition wins; none -> passthrough (transform.go:246-308)") {
    import spark.implicits._
    val df = Seq(("gold", 5.0), ("iron", 50.0), ("tin", 5.0)).toDF("metal", "weight")
    val out = Transforms("branch", Transforms.Ctx(col("metal"), StringType, "metal",
      n => df.schema.fields.find(_.name == n).map(f => (col(n), f.dataType)),
      Map("branches" -> Seq(
        Map("condition" -> "inputValue == 'gold'", "value" -> "precious"),
        Map("condition" -> "weight > 10", "value" -> "heavy")))))
    assert(df.select(out.value).collect().map(_.getString(0)).toSeq ==
      Seq("precious", "heavy", "tin"))
  }

  test("coalesce: first non-nil non-empty-string field from record state") {
    import spark.implicits._
    val df = Seq((null.asInstanceOf[String], "", "c1"), ("a1", "b1", "c2")).toDF("a", "b", "c")
    val out = Transforms("coalesce", Transforms.Ctx(lit(null), NullType, "out",
      n => df.schema.fields.find(_.name == n).map(f => (col(n), f.dataType)),
      Map("fields" -> Seq("a", "b", "c"))))
    assert(df.select(out.value).collect().map(_.getString(0)).toSeq == Seq("c1", "a1"))
  }

  test("hash: sorted fields, canonical strings, <MISSING> sentinel (transform.go:606-673)") {
    import spark.implicits._
    val df = Seq(("x", 2.0)).toDF("name", "score")
    def hash(algo: String, fields: Seq[String]): String = {
      val out = Transforms("hash", Transforms.Ctx(lit(null), NullType, "h",
        n => df.schema.fields.find(_.name == n).map(f => (col(n), f.dataType)),
        Map("algorithm" -> algo, "fields" -> fields)))
      df.select(out.value).collect().head.getString(0)
    }
    // canonical: score renders "2" (Go %v), fields sorted name,score -> "x||2"? no: sorted = name,score
    val md = java.security.MessageDigest.getInstance("SHA-256")
    val expected = md.digest("x||2".getBytes("UTF-8")).map("%02x".format(_)).mkString
    assert(hash("sha256", Seq("score", "name")) == expected) // order-insensitive (sorted)
    val md5 = java.security.MessageDigest.getInstance("MD5")
    val expMissing = md5.digest("x||<MISSING>".getBytes("UTF-8")).map("%02x".format(_)).mkString
    assert(hash("md5", Seq("name", "nope")) == expMissing)
  }

  test("hash sha512: NIST FIPS 180-4 known-answer vectors through the transform") {
    import spark.implicits._
    // the two published SHA-512 KATs (FIPS 180-4 / CSRC example values):
    // a one-block and a two-block message. A single-field hash feeds the
    // field value through unmodified (no '||' joins), so the transform's
    // digest must equal the fixed vector byte for byte — pinning Spark's
    // sha2(…, 512) builtin, the cast path, and our canonicalization.
    val vectors = Seq(
      "abc" ->
        ("ddaf35a193617abacc417349ae20413112e6fa4e89a97ea20a9eeee64b55d39a" +
         "2192992a274fc1a836ba3c23a3feebbd454d4423643ce80e2a9ac94fa54ca49f"),
      ("abcdefghbcdefghicdefghijdefghijkefghijklfghijklmghijklmnhijklmno" +
       "ijklmnopjklmnopqklmnopqrlmnopqrsmnopqrstnopqrstu") ->
        ("8e959b75dae313da8cf4f72814fc143f8f7779c6eb9f7fa17299aeadb6889018" +
         "501d289e4900f7e4331b99dec4b5433ac7d329eeb6dd26545e96e55b874be909"))
    vectors.foreach { case (msg, want) =>
      val df = Seq(msg).toDF("data")
      val out = Transforms("hash", Transforms.Ctx(lit(null), NullType, "h",
        n => df.schema.fields.find(_.name == n).map(f => (col(n), f.dataType)),
        Map("algorithm" -> "sha512", "fields" -> Seq("data"))))
      assert(df.select(out.value).collect().head.getString(0) == want,
        s"sha512 KAT failed for ${msg.take(12)}…")
    }
  }

  test("hash: md5 rejected in FIPS mode (transform.go:633-634)") {
    assertThrows[IllegalArgumentException] {
      Transforms("hash", Transforms.Ctx(lit(null), NullType, "h", _ => None,
        Map("algorithm" -> "md5", "fields" -> Seq("a")),
        EngineConfig(fipsMode = true)))
    }
  }

  test("validateRequired / validateRegex / validateNumericRange / validateAllowedValues") {
    import spark.implicits._
    val df = Seq(("ok", "a1", 5.0, "red"), ("  ", "!!", 99.0, "blue")).toDF("r", "x", "n", "c")
    def err(name: String, src: String, dt: DataType, params: Map[String, Any]): Seq[Boolean] = {
      val out = Transforms(name, Transforms.Ctx(col(src), dt, src,
        n => df.schema.fields.find(_.name == n).map(f => (col(n), f.dataType)), params))
      df.select(out.error.get.isNotNull).collect().map(_.getBoolean(0)).toSeq
    }
    assert(err("validaterequired", "r", StringType, Map.empty) == Seq(false, true))
    assert(err("validateregex", "x", StringType, Map("pattern" -> "^[a-z][0-9]$")) == Seq(false, true))
    assert(err("validatenumericrange", "n", DoubleType, Map("min" -> 0, "max" -> 10)) == Seq(false, true))
    assert(err("validateallowedvalues", "c", StringType, Map("values" -> Seq("red", "green"))) == Seq(false, true))
  }

  test("validateAllowedValues: numeric cross-type equality (CompareValues)") {
    import spark.implicits._
    val df = Seq(5, 7).toDF("v")
    val out = Transforms("validateallowedvalues", Transforms.Ctx(col("v"), IntegerType, "v",
      _ => None, Map("values" -> Seq("5.0", "6"))))
    assert(df.select(out.error.get.isNotNull).collect().map(_.getBoolean(0)).toSeq ==
      Seq(false, true)) // 5 matches "5.0" numerically
  }

  test("dateConvert: RFC1123-style fallback input parses (day-name prefix stripped)") {
    assert(onStrings(Seq("Tue, 05 Mar 2024 10:30:00 GMT"), "dateconvert",
      Map("outputFormat" -> "2006-01-02 15:04")) == Seq("2024-03-05 10:30"))
    assert(onStrings(Seq("Tue, 05 Mar 2024 10:30:00 +0200"), "dateconvert",
      Map("outputFormat" -> "2006-01-02 15:04")) == Seq("2024-03-05 08:30")) // offset honored -> UTC
  }

  test("dateConvert: time.Time (timestamp) input passes straight through the formatter") {
    import spark.implicits._
    val df = Seq(java.sql.Timestamp.valueOf("2024-03-05 10:30:00")).toDF("v")
    val out = Transforms("dateconvert", Transforms.Ctx(col("v"), TimestampType, "v",
      _ => None, Map("outputFormat" -> "02 Jan 2006")))
    assert(df.select(out.value).collect().head.getString(0) == "05 Mar 2024")
  }

  test("hash canonicalizes timestamps as RFC3339Nano UTC (ValueToStringForHash)") {
    import spark.implicits._
    val df = Seq(java.sql.Timestamp.valueOf("2024-03-05 10:30:00.5")).toDF("ts")
    val out = Transforms("hash", Transforms.Ctx(lit(null), NullType, "h",
      n => df.schema.fields.find(_.name == n).map(f => (col(n), f.dataType)),
      Map("algorithm" -> "sha256", "fields" -> Seq("ts"))))
    val md = java.security.MessageDigest.getInstance("SHA-256")
    val expect = md.digest("2024-03-05T10:30:00.5Z".getBytes("UTF-8")).map("%02x".format(_)).mkString
    assert(df.select(out.value).collect().head.getString(0) == expect)
  }

  test("unknown transform rejected at compile time (validation.go:301-303)") {
    assertThrows[IllegalArgumentException] {
      Transforms("frobnicate", Transforms.Ctx(lit(null), NullType, "x", _ => None, Map.empty))
    }
  }
}
