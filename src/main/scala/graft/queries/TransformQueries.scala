package graft.queries

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.transforms.{EngineConfig, Transforms}
import graft.queries.Queries.t

/**
 * One oracled query per reference transform
 * (/root/reference/internal/transform/transform.go:49-81). Each query
 * applies the transform through the real `Transforms` registry (the
 * same path the playbook compiler uses) over a testdata table, and the
 * oracle SQL restates the Go semantics independently in DuckDB.
 */
object TransformQueries {

  /** Ctx whose record-state lookup resolves against `df`'s schema. */
  private def ctx(df: DataFrame, source: Column, st: DataType, name: String,
                  params: Map[String, Any] = Map.empty,
                  engine: EngineConfig = EngineConfig()): Transforms.Ctx =
    Transforms.Ctx(source, st, name,
      n => df.schema.fields.find(_.name == n).map(f => (col(n), f.dataType)),
      params, engine)

  val all: Seq[Q] = Seq(

    // toFloat chained after regexExtract (props is a JSON-ish string).
    Q("q_tr_tofloat",
      (s, dir) => {
        val df = t(s, dir, "events")
        val k = Transforms("regexextract",
          ctx(df, col("props"), StringType, "props",
            Map("pattern" -> "\"k\": (\\d+)"))).value
        val kf = Transforms("tofloat", ctx(df, k, StringType, "k")).value
        df.select(col("event_id"), kf.as("k_float"))
      },
      Some("""SELECT event_id,
        CAST(NULLIF(regexp_extract(props, '"k": (\d+)', 1), '') AS DOUBLE) AS k_float
        FROM events""")),

    // toBool over a string enum column and a numeric column.
    Q("q_tr_tobool",
      (s, dir) => {
        val df = t(s, dir, "orders")
        val b1 = Transforms("tobool", ctx(df, col("o_orderstatus"), StringType, "o_orderstatus")).value
        val b2 = Transforms("tobool", ctx(df, col("o_totalprice"), DoubleType, "o_totalprice")).value
        df.select(col("o_orderkey"), b1.as("status_bool"), b2.as("price_bool"))
      },
      Some("""SELECT o_orderkey,
        CASE WHEN lower(trim(o_orderstatus)) IN ('true','1','yes','t','y') THEN true
             WHEN lower(trim(o_orderstatus)) IN ('false','0','no','f','n','') THEN false
             ELSE NULL END AS status_bool,
        o_totalprice <> 0 AS price_bool
        FROM orders""")),

    // toString with Go %v float rendering (integral doubles lose ".0").
    Q("q_tr_tostring",
      (s, dir) => {
        val df = t(s, dir, "customer")
        val v = Transforms("tostring", ctx(df, col("c_acctbal"), DoubleType, "c_acctbal")).value
        df.select(col("c_custkey"), v.as("bal_str"))
      },
      Some("""SELECT c_custkey,
        CASE WHEN c_acctbal = floor(c_acctbal)
             THEN CAST(CAST(c_acctbal AS BIGINT) AS VARCHAR)
             ELSE CAST(c_acctbal AS VARCHAR) END AS bal_str
        FROM customer""")),

    // trim / toUpperCase / toLowerCase / replaceAll / substring together.
    Q("q_tr_strings",
      (s, dir) => {
        val df = t(s, dir, "part")
        def st(n: String) = ctx(df, col(n), StringType, n)
        val up  = Transforms("touppercase", st("p_brand")).value
        val lo  = Transforms("tolowercase", st("p_type")).value
        val tr  = Transforms("trim", st("p_name")).value
        val rep = Transforms("replaceall",
          ctx(df, col("p_name"), StringType, "p_name",
            Map("old" -> " ", "new" -> "_"))).value
        val sub = Transforms("substring",
          ctx(df, col("p_type"), StringType, "p_type",
            Map("start" -> 3, "length" -> 5))).value
        df.select(col("p_partkey"), up.as("brand_up"), lo.as("type_lo"),
          tr.as("name_trim"), rep.as("name_us"), sub.as("type_sub"))
      },
      Some("""SELECT p_partkey, upper(p_brand) AS brand_up, lower(p_type) AS type_lo,
        trim(p_name) AS name_trim, replace(p_name, ' ', '_') AS name_us,
        CASE WHEN length(p_type) <= 3 THEN '' ELSE substr(p_type, 4, 5) END AS type_sub
        FROM part""")),

    // regexExtract: no-match -> null (id 0 has no nonzero digits).
    Q("q_tr_regexextract",
      (s, dir) => {
        val df = t(s, dir, "customer")
        val v = Transforms("regexextract",
          ctx(df, col("c_name"), StringType, "c_name",
            Map("pattern" -> "Customer#0*([1-9][0-9]*)"))).value
        df.select(col("c_custkey"), v.as("cust_num"))
      },
      Some("""SELECT c_custkey,
        NULLIF(regexp_extract(c_name, 'Customer#0*([1-9][0-9]*)', 1), '') AS cust_num
        FROM customer""")),

    // epochToDate on a derived epoch-seconds column.
    Q("q_tr_epochtodate",
      (s, dir) => {
        val df = t(s, dir, "events")
          .withColumn("epoch", lit(1500000000L) + col("event_id") * 3600L)
        val v = Transforms("epochtodate", ctx(df, col("epoch"), LongType, "epoch")).value
        df.select(col("event_id"), v.as("day"))
      },
      Some("""SELECT event_id,
        strftime(make_timestamp((1500000000 + event_id*3600) * 1000000), '%Y-%m-%d') AS day
        FROM events""")),

    // calculateAge with frozen now (SURVEY 7h); future epochs clamp to 0.
    Q("q_tr_calculateage",
      (s, dir) => {
        val now = 1700000000L
        val df = t(s, dir, "events")
          .withColumn("epoch", lit(1500000000L) + col("event_id") * 3600L)
          .withColumn("future", lit(now) + (col("event_id") + 1L) * 86400L)
        val eng = EngineConfig(nowEpoch = Some(now))
        val age = Transforms("calculateage", ctx(df, col("epoch"), LongType, "epoch", engine = eng)).value
        val fut = Transforms("calculateage", ctx(df, col("future"), LongType, "future", engine = eng)).value
        df.select(col("event_id"), age.as("age_days"), fut.as("age_future"))
      },
      Some("""SELECT event_id,
        greatest(0, date_diff('day',
          CAST(make_timestamp((1500000000 + event_id*3600) * 1000000) AS DATE),
          CAST(make_timestamp(1700000000 * 1000000::BIGINT) AS DATE))) AS age_days,
        0 AS age_future
        FROM events""")),

    // dateConvert: explicit layout and the no-inputFormat fallback list.
    Q("q_tr_dateconvert",
      (s, dir) => {
        val df = t(s, dir, "orders")
          .withColumn("slash", date_format(col("o_orderdate"), "yyyy/MM/dd"))
          .withColumn("iso", date_format(col("o_orderdate"), "yyyy-MM-dd"))
        val v1 = Transforms("dateconvert",
          ctx(df, col("slash"), StringType, "slash",
            Map("inputFormat" -> "2006/01/02", "outputFormat" -> "01/02/2006"))).value
        val v2 = Transforms("dateconvert",
          ctx(df, col("iso"), StringType, "iso",
            Map("outputFormat" -> "20060102"))).value // fallback-list parse
        df.select(col("o_orderkey"), v1.as("us_date"), v2.as("compact_date"))
      },
      Some("""SELECT o_orderkey, strftime(o_orderdate, '%m/%d/%Y') AS us_date,
        strftime(o_orderdate, '%Y%m%d') AS compact_date FROM orders""")),

    // multiDateConvert: two layouts, first-parse-wins.
    Q("q_tr_multidateconvert",
      (s, dir) => {
        val df = t(s, dir, "events")
          .withColumn("mixed",
            when(col("event_id") % 2 === 0, date_format(col("ts"), "yyyy-MM-dd"))
              .otherwise(date_format(col("ts"), "dd.MM.yyyy")))
        val v = Transforms("multidateconvert",
          ctx(df, col("mixed"), StringType, "mixed",
            Map("formats" -> Seq("2006-01-02", "02.01.2006"),
                "outputFormat" -> "20060102"))).value
        df.select(col("event_id"), v.as("day"))
      },
      Some("SELECT event_id, strftime(CAST(ts AS DATE), '%Y%m%d') AS day FROM events")),

    // branch: govaluate conditions over inputValue AND record fields.
    Q("q_tr_branch",
      (s, dir) => {
        val df = t(s, dir, "orders")
        val branches = Seq(
          Map("condition" -> "inputValue =~ '^1-'", "value" -> "urgent"),
          Map("condition" -> "inputValue =~ '^2-'", "value" -> "high"),
          Map("condition" -> "o_totalprice > 250000", "value" -> "big_order"))
        val v = Transforms("branch",
          ctx(df, col("o_orderpriority"), StringType, "o_orderpriority",
            Map("branches" -> branches))).value
        df.select(col("o_orderkey"), v.as("prio_class"))
      },
      Some("""SELECT o_orderkey,
        CASE WHEN regexp_matches(o_orderpriority, '^1-') THEN 'urgent'
             WHEN regexp_matches(o_orderpriority, '^2-') THEN 'high'
             WHEN o_totalprice > 250000 THEN 'big_order'
             ELSE o_orderpriority END AS prio_class
        FROM orders""")),

    // coalesce: reads record STATE fields; empty string counts as missing.
    Q("q_tr_coalesce",
      (s, dir) => {
        val df = t(s, dir, "orders")
          .withColumn("maybe",
            when(col("o_orderstatus") === "O", lit("")).otherwise(col("o_orderstatus")))
        val v = Transforms("coalesce",
          ctx(df, lit(null), NullType, "out",
            Map("fields" -> Seq("maybe", "o_orderpriority")))).value
        df.select(col("o_orderkey"), v.as("merged"))
      },
      Some("""SELECT o_orderkey,
        COALESCE(NULLIF(CASE WHEN o_orderstatus = 'O' THEN '' ELSE o_orderstatus END, ''),
                 o_orderpriority) AS merged
        FROM orders""")),

    // hash md5 with a missing field -> '<MISSING>' sentinel (sorted fields).
    Q("q_tr_hash_md5_missing",
      (s, dir) => {
        val df = t(s, dir, "customer")
        val v = Transforms("hash",
          ctx(df, lit(null), NullType, "h",
            Map("algorithm" -> "md5",
                "fields" -> Seq("c_name", "zz_absent")))).value
        df.select(col("c_custkey"), v.as("h"))
      },
      Some("SELECT c_custkey, md5(c_name || '||' || '<MISSING>') AS h FROM customer")),

    // hash sha256 over numeric fields (Go canonical float/int strings).
    Q("q_tr_hash_numeric",
      (s, dir) => {
        val df = t(s, dir, "customer")
        val v = Transforms("hash",
          ctx(df, lit(null), NullType, "h",
            Map("algorithm" -> "sha256",
                "fields" -> Seq("c_custkey", "c_acctbal")))).value
        df.select(col("c_custkey"), v.as("h"))
      },
      Some("""SELECT c_custkey, sha256(
        (CASE WHEN c_acctbal = floor(c_acctbal)
              THEN CAST(CAST(c_acctbal AS BIGINT) AS VARCHAR)
              ELSE CAST(c_acctbal AS VARCHAR) END)
        || '||' || CAST(c_custkey AS VARCHAR)) AS h
        FROM customer""")),

    // mustToInt: value + error-channel column (SURVEY 2.6).
    Q("q_tr_musttoint_err",
      (s, dir) => {
        val df = t(s, dir, "part")
          .withColumn("mixed",
            when(col("p_partkey") % 2 === 0, col("p_size").cast(StringType))
              .otherwise(col("p_type")))
        val out = Transforms("musttoint", ctx(df, col("mixed"), StringType, "mixed"))
        df.select(col("p_partkey"), out.value.as("int_val"), out.error.get.as("err_msg"))
      },
      Some("""SELECT p_partkey,
        CASE WHEN p_partkey % 2 = 0 THEN p_size ELSE NULL END AS int_val,
        CASE WHEN p_partkey % 2 = 0 THEN NULL
             ELSE 'mustToInt: cannot convert value to integer for field ''mixed''' END AS err_msg
        FROM part""")),

    // mustToFloat: value + error channel.
    Q("q_tr_musttofloat_err",
      (s, dir) => {
        val df = t(s, dir, "events")
          .withColumn("mixed",
            when(col("event_id") % 2 === 0, col("value").cast(StringType))
              .otherwise(col("event_type")))
        val out = Transforms("musttofloat", ctx(df, col("mixed"), StringType, "mixed"))
        df.select(col("event_id"), out.value.as("f_val"), out.error.get.as("err_msg"))
      },
      Some("""SELECT event_id,
        CASE WHEN event_id % 2 = 0 THEN value END AS f_val,
        CASE WHEN event_id % 2 <> 0
             THEN 'mustToFloat: cannot convert value to float for field ''mixed''' END AS err_msg
        FROM events""")),

    // mustEpochToDate: epoch -> date or error.
    Q("q_tr_mustepochtodate_err",
      (s, dir) => {
        val df = t(s, dir, "events")
          .withColumn("mixed",
            when(col("event_id") % 2 === 0,
              (lit(1600000000L) + col("event_id")).cast(StringType))
              .otherwise(col("event_type")))
        val out = Transforms("mustepochtodate", ctx(df, col("mixed"), StringType, "mixed"))
        df.select(col("event_id"), out.value.as("day"), out.error.get.as("err_msg"))
      },
      Some("""SELECT event_id,
        CASE WHEN event_id % 2 = 0
             THEN strftime(make_timestamp((1600000000 + event_id) * 1000000), '%Y-%m-%d') END AS day,
        CASE WHEN event_id % 2 <> 0
             THEN 'mustEpochToDate: cannot parse epoch for field ''mixed''' END AS err_msg
        FROM events""")),

    // hash sha512 (DuckDB 1.0 has no sha512 -> rows-only check).
    Q("q_tr_hash_sha512",
      (s, dir) => {
        val df = t(s, dir, "customer")
        val v = Transforms("hash",
          ctx(df, lit(null), NullType, "h",
            Map("algorithm" -> "sha512", "fields" -> Seq("c_name")))).value
        df.select(col("c_custkey"), v.as("h"))
      },
      None),

    // mustToBool: '' and unparseable are ERRORS (unlike toBool).
    Q("q_tr_musttobool_err",
      (s, dir) => {
        val df = t(s, dir, "part")
          .withColumn("mixed",
            when(col("p_partkey") % 3 === 0, lit("yes"))
              .when(col("p_partkey") % 3 === 1, lit(""))
              .otherwise(lit("0")))
        val out = Transforms("musttobool", ctx(df, col("mixed"), StringType, "mixed"))
        df.select(col("p_partkey"), out.value.as("bool_val"), out.error.get.as("err_msg"))
      },
      Some("""SELECT p_partkey,
        CASE WHEN p_partkey % 3 = 0 THEN true
             WHEN p_partkey % 3 = 1 THEN NULL
             ELSE false END AS bool_val,
        CASE WHEN p_partkey % 3 = 1
             THEN 'mustToBool: cannot convert value to boolean for field ''mixed''' END AS err_msg
        FROM part""")),

    // mustDateConvert: parse failure -> error channel, success -> reformat.
    Q("q_tr_mustdateconvert_err",
      (s, dir) => {
        val df = t(s, dir, "orders")
          .withColumn("mixed",
            when(col("o_orderkey") % 2 === 0, date_format(col("o_orderdate"), "yyyy-MM-dd"))
              .otherwise(lit("not-a-date")))
        val out = Transforms("mustdateconvert",
          ctx(df, col("mixed"), StringType, "mixed",
            Map("inputFormat" -> "2006-01-02", "outputFormat" -> "02-Jan-2006")))
        df.select(col("o_orderkey"), out.value.as("fmt_date"), out.error.get.as("err_msg"))
      },
      Some("""SELECT o_orderkey,
        CASE WHEN o_orderkey % 2 = 0 THEN strftime(o_orderdate, '%d-%b-%Y') END AS fmt_date,
        CASE WHEN o_orderkey % 2 <> 0
             THEN 'mustDateConvert: cannot parse date for field ''mixed''' END AS err_msg
        FROM orders""")),

    // validateRequired: null/whitespace-empty -> error.
    Q("q_tr_validate_required",
      (s, dir) => {
        val df = t(s, dir, "orders")
          .withColumn("maybe", when(col("o_orderstatus") === "P", lit(null).cast(StringType))
            .otherwise(col("o_orderstatus")))
        val out = Transforms("validaterequired", ctx(df, col("maybe"), StringType, "maybe"))
        df.select(col("o_orderkey"), out.value.as("v"), out.error.get.as("err_msg"))
      },
      Some("""SELECT o_orderkey,
        CASE WHEN o_orderstatus = 'P' THEN NULL ELSE o_orderstatus END AS v,
        CASE WHEN o_orderstatus = 'P'
             THEN 'validateRequired: field ''maybe'' is required' END AS err_msg
        FROM orders""")),

    // validateRegex: no-match -> error (non-string would pass).
    Q("q_tr_validate_regex",
      (s, dir) => {
        val df = t(s, dir, "orders")
        val out = Transforms("validateregex",
          ctx(df, col("o_orderpriority"), StringType, "o_orderpriority",
            Map("pattern" -> "^[1-3]-")))
        df.select(col("o_orderkey"), out.error.get.as("err_msg"))
      },
      Some("""SELECT o_orderkey,
        CASE WHEN NOT regexp_matches(o_orderpriority, '^[1-3]-')
             THEN 'validateRegex: field ''o_orderpriority'' does not match pattern' END AS err_msg
        FROM orders""")),

    // validateNumericRange: out-of-range -> error; non-numeric passes.
    Q("q_tr_validate_range",
      (s, dir) => {
        val df = t(s, dir, "customer")
        val out = Transforms("validatenumericrange",
          ctx(df, col("c_acctbal"), DoubleType, "c_acctbal",
            Map("min" -> 0, "max" -> 9000)))
        df.select(col("c_custkey"), out.error.get.as("err_msg"))
      },
      Some("""SELECT c_custkey,
        CASE WHEN c_acctbal < 0 OR c_acctbal > 9000
             THEN 'validateNumericRange: field ''c_acctbal'' out of range' END AS err_msg
        FROM customer""")),

    // validateAllowedValues: CompareValues cross-type numeric equality.
    Q("q_tr_validate_allowed",
      (s, dir) => {
        val df = t(s, dir, "part")
        val out = Transforms("validateallowedvalues",
          ctx(df, col("p_size"), IntegerType, "p_size",
            Map("values" -> Seq(1, 5, 10, "15", 23.0))))
        df.select(col("p_partkey"), out.error.get.as("err_msg"))
      },
      Some("""SELECT p_partkey,
        CASE WHEN p_size NOT IN (1, 5, 10, 15, 23)
             THEN 'validateAllowedValues: field ''p_size'' not in allowed values' END AS err_msg
        FROM part""")),
  )
}
