package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.expr.Goval
import graft.transforms.Transforms
import graft.ops.Dedup

/** One graded query: Spark plan + (optionally) its DuckDB oracle SQL.
  * `benched = false` marks a correctness fixture that [[graft.Bench]]
  * leaves out: an md5-portable oracle twin, a playbook result-twin, or
  * a check that runs an already-benched op twice (or re-runs it) only
  * to compare. Its production path is benched under another name;
  * benching both double-counts the operator and buries the headline in
  * hash-function overhead. Each fixture says why beside its definition. */
case class Q(name: String,
             fn: (SparkSession, String) => DataFrame,
             oracle: Option[String],
             benched: Boolean = true)

/**
 * The driver-graded query inventory (SparkEntry.queries /
 * SparkEntry.oracleSql are views over `Queries.all`).
 *
 * Conventions that keep the DuckDB hash-compare exact:
 *  - FP aggregations go through DECIMAL (exact, order-independent),
 *    then one deterministic cast to DOUBLE at the end.
 *  - Every computed column is aliased identically in Spark and SQL.
 *  - No floating-point SUM over doubles; no approx functions in
 *    oracled queries.
 */
object Queries {

  /** Read one testdata table through the schema-adapter layer
    * (graft.io.Schemas): arrival schemas are validated and known type
    * variants normalized — e.g. `events.ts` has shipped as both parquet
    * TIMESTAMP(NANOS) (read as raw long nanos via the legacy conf below)
    * and TIMESTAMP(MICROS); both normalize to session-TZ TimestampType.
    * An unknown variant raises a named GraftSchemaException at the read,
    * not a DATATYPE_MISMATCH N operators downstream (r7 postmortem). */
  def t(s: SparkSession, dir: String, name: String): DataFrame = {
    s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val path = s"$dir/$name.parquet"
    // r17: cache the ARRIVAL SCHEMA per path for the session process —
    // without an explicit schema every `read.parquet` resolution
    // re-lists the directory and re-reads parquet footers on the
    // driver, a fixed ~20-40 ms per query BUILD paid by all ~300
    // queries on every execution (OPTIMIZATION_r17.md: build is 60-240 ms
    // of a ~250 ms tail row). This is metadata caching — exactly what
    // a catalog/metastore provides in production — never result or
    // file-listing caching: the scan still lists and reads the live
    // files at execution. Testdata paths are immutable within a run;
    // the values depend only on the files' schema, and Schemas.adapt
    // still validates every arrival shape.
    val schema = schemaCache.computeIfAbsent(path,
      p => s.read.parquet(p).schema)
    graft.io.Schemas.adapt(name, s.read.schema(schema).parquet(path))
  }

  private val schemaCache =
    new java.util.concurrent.ConcurrentHashMap[String, StructType]()

  /** Exact (order-independent) FP aggregation intermediate. */
  def dec(c: org.apache.spark.sql.Column): org.apache.spark.sql.Column = c.cast("decimal(18,4)")

  val core: Seq[Q] = Seq(

    Q("q_agg_pricing",
      (s, dir) => {
        t(s, dir, "lineitem")
          .groupBy(col("l_returnflag"), col("l_linestatus"))
          .agg(
            sum(dec(col("l_quantity"))).cast("double").as("sum_qty"),
            sum(dec(col("l_extendedprice"))).cast("double").as("sum_base_price"),
            // product has <=4 decimals exactly (2dp * 2dp), so casting it
            // back to (18,4) is lossless AND keeps the summed type inside
            // both engines' precision-propagation rules at any SF
            sum((dec(col("l_extendedprice")) * (lit(1).cast("decimal(18,4)") - dec(col("l_discount"))))
              .cast("decimal(18,4)"))
              .cast("double").as("sum_disc_price"),
            count(lit(1)).as("count_order"))
      },
      Some("""SELECT l_returnflag, l_linestatus,
        CAST(SUM(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) AS sum_qty,
        CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,4))) AS DOUBLE) AS sum_base_price,
        CAST(SUM(CAST(CAST(l_extendedprice AS DECIMAL(18,4)) * (CAST(1 AS DECIMAL(18,4)) - CAST(l_discount AS DECIMAL(18,4))) AS DECIMAL(18,4))) AS DOUBLE) AS sum_disc_price,
        COUNT(*) AS count_order
        FROM lineitem GROUP BY l_returnflag, l_linestatus""")),

    Q("q_filter_goval",
      (s, dir) => {
        val pred = Goval.translate(
          "(o_orderstatus == 'O' && o_totalprice > 150000) || o_orderpriority =~ '^1-'",
          stringTyped = Set("o_orderstatus", "o_orderpriority")).sql
        t(s, dir, "orders").filter(expr(pred))
          .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"))
      },
      Some("""SELECT o_orderkey, o_custkey, o_totalprice FROM orders
        WHERE (o_orderstatus = 'O' AND o_totalprice > 150000)
           OR regexp_matches(o_orderpriority, '^1-')""")),

    Q("q_transform_toint",
      (s, dir) => {
        val df = t(s, dir, "customer")
        val out = Transforms("toint", Transforms.Ctx(
          col("c_acctbal"), DoubleType, "c_acctbal", _ => None, Map.empty))
        df.select(col("c_custkey"), out.value.as("acct_int"))
      },
      Some("""SELECT c_custkey,
        CASE WHEN c_acctbal = floor(c_acctbal) THEN CAST(c_acctbal AS BIGINT) END AS acct_int
        FROM customer""")),

    Q("q_transform_hash_sha256",
      (s, dir) => {
        val df = t(s, dir, "customer")
        val fields: String => Option[(org.apache.spark.sql.Column, DataType)] = n =>
          df.schema.fields.find(_.name == n).map(f => (col(n), f.dataType))
        val out = Transforms("hash", Transforms.Ctx(
          lit(null), NullType, "h", fields,
          Map("algorithm" -> "sha256",
              "fields" -> Seq("c_name", "c_mktsegment"))))
        df.select(col("c_custkey"), out.value.as("h"))
      },
      Some("""SELECT c_custkey, sha256(concat(c_mktsegment, '||', c_name)) AS h
        FROM customer""")),

    Q("q_dedup_first",
      (s, dir) => Dedup.byIngestOrder(t(s, dir, "events"), Seq("user_id"), keepFirst = true)
        .select(col("user_id"), col("event_id"), col("event_type")),
      Some("""SELECT user_id, event_id, event_type FROM events
        QUALIFY row_number() OVER (PARTITION BY user_id ORDER BY event_id) = 1""")),

    Q("q_flatten",
      (s, dir) => t(s, dir, "documents")
        .select(col("doc_id"), explode(split(col("text"), " ")).as("token")),
      Some("SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM documents")),
  )

  val all: Seq[Q] = core ++ TransformQueries.all ++ EtlQueries.all ++
    AnalyticsQueries.all ++ LlmQueries.all ++ IoQueries.all ++ PlaybookQueries.all

  def queries: Map[String, (SparkSession, String) => DataFrame] = {
    // a name registered twice would silently shadow one query in the
    // Map — the correctness surface would SHRINK with no red row
    // (the r7 vanishing-rows failure class, at the registry level)
    val dups = all.groupBy(_.name).collect { case (n, qs) if qs.size > 1 => n }
    require(dups.isEmpty, s"duplicate query registrations: ${dups.mkString(", ")}")
    all.map(q => q.name -> q.fn).toMap
  }

  def oracleSql: Map[String, String] =
    all.flatMap(q => q.oracle.map(o => q.name -> o.replaceAll("\\s+", " ").trim)).toMap
}
