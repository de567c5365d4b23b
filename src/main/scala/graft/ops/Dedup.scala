package graft.ops

import org.apache.spark.sql.{Column, DataFrame, Encoders, Row}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
import org.apache.spark.sql.types._
import graft.functions.GoValues

/**
 * Deduplication operators.
 *
 * Reference semantics (SURVEY §2.5): composite key = canonical strings
 * of SORTED key fields joined "||", nil/missing → sentinel
 * (/root/reference/internal/processor/processor.go:277-314); strategies
 * first/last/min/max (internal/config/types.go:24-27).
 *
 * Scale design: dedup is one shuffle on the key columns. We partition
 * by the RAW key columns (not the canonical string) so the shuffle can
 * use native binary comparators and AQE skew handling; the canonical
 * string only exists where Go-parity output is required.
 */
object Dedup {

  /**
   * Deterministic ingest-order key for `first`/`last` strategies.
   * `monotonically_increasing_id` alone is partition-index-dependent
   * and Spark packs file splits by size (not path order) — so we order
   * by (file, block_start, within-partition id), which is total and
   * stable for file-based scans regardless of split packing. The file
   * is its ordinal in path order ([[fileOrdinal]]), not the path: the
   * key rides through the dedup shuffle, and a path string would make
   * the shuffle's size depend on where the data lives.
   */
  def withIngestSeq(df: DataFrame, col_name: String = "_seq"): DataFrame = {
    val hasMeta = scala.util.Try(df("_metadata")).isSuccess
    if (hasMeta)
      df.withColumn(col_name,
        struct(fileOrdinal(df, col("_metadata.file_path")).as("f"),
               col("_metadata.file_block_start").as("b"),
               monotonically_increasing_id().as("i")))
    else
      df.withColumn(col_name, struct(lit("").as("f"), lit(0L).as("b"),
        monotonically_increasing_id().as("i")))
  }

  /** The rank of `path` (a `_metadata.file_path`) among `df`'s input
    * files, in the byte order Spark compares the path strings in, so
    * ordering by the rank orders as the path did. `inputFiles` is
    * driver metadata (no job runs) but may render a URI differently
    * (`file:///x` for `file:/x`); rebuilt from its parts, each renders
    * as Hadoop's `Path` and so `_metadata.file_path` do. The lookup is a
    * codegen'd binary search of the sorted literal; a path outside it
    * fails the task. */
  private def fileOrdinal(df: DataFrame, path: Column): Column = {
    val files = df.inputFiles.map { f =>
      val u = new java.net.URI(f)
      org.apache.spark.unsafe.types.UTF8String.fromString(
        new java.net.URI(u.getScheme, u.getAuthority, u.getPath, null, null).toString)
    }.sorted.map(_.toString)
    import org.apache.spark.sql.graft.ColumnBridge
    val rank = ColumnBridge.column(org.apache.spark.sql.catalyst.expressions.ArrayBinarySearch(
      ColumnBridge.expression(typedLit(files.toSeq)), ColumnBridge.expression(path)))
    when(rank < 0, raise_error(concat(path, lit(" is not an input file of the scan"))))
      .otherwise(rank)
  }

  /** Keep the first/last record per key in ingest order. */
  def byIngestOrder(df: DataFrame, keys: Seq[String], keepFirst: Boolean): DataFrame = {
    val seqd = if (df.columns.contains("_seq")) df else withIngestSeq(df)
    val ord = if (keepFirst) col("_seq").asc else col("_seq").desc
    val w = Window.partitionBy(keys.map(col): _*).orderBy(ord)
    seqd.withColumn("_rn", row_number().over(w))
      .filter(col("_rn") === 1)
      .drop("_rn", "_seq")
  }

  /**
   * Keep the record with min/max `strategyField` per key, ordered like
   * the reference's CompareValues (transform.go:1052-1117) as driven by
   * the processor's strict-improvement fold (processor.go:295-307):
   *   - nil is SMALLEST (nil wins min, loses max);
   *   - numeric values AND numeric strings compare as float64
   *     (parseValueAsFloat64 transform.go:1005-1030 — so string "10"
   *     beats "9" numerically, never lexicographically);
   *   - non-numeric strings compare lexicographically among themselves;
   *   - ties / incomparable keep the earliest-ingested record.
   * Cross-class (numeric string vs non-numeric string) the reference
   * compares raw strings pairwise, which is not a total order; we rank
   * numerics below non-numeric strings — the same result strings.Compare
   * gives whenever the non-numeric string starts with a letter (digits
   * and '-'/'+' sort before letters in ASCII).
   */
  def byExtreme(df: DataFrame, keys: Seq[String], strategyField: String,
                max: Boolean): DataFrame = {
    val seqd = if (df.columns.contains("_seq")) df else withIngestSeq(df)
    val sf = seqd(strategyField)
    val dt = seqd.schema.fields.find(_.name == strategyField)
      .map(_.dataType).getOrElse(StringType)
    val (prepped, ordCols, tmpCols): (DataFrame, Seq[Column], Seq[String]) = dt match {
      case _: StringType =>
        // Project ONLY the regex-heavy goToFloat key once per row:
        // sort-order expressions are re-evaluated on every comparison
        // inside the window's sort — O(n log n) parses without the
        // projection. The class and lex keys stay expressions in the
        // ordering (null checks and a branch over already-projected
        // columns — O(1) per compare, and projecting the lex copy would
        // double the string bytes through the exchange).
        val p = seqd.withColumn("_x_num", GoValues.goToFloat(sf, dt))
        // class: 0 = nil, 1 = numeric, 2 = non-numeric string
        val cls = when(sf.isNull, 0).when(col("_x_num").isNotNull, 1).otherwise(2)
        // lexicographic key ONLY for the non-numeric class: float-equal
        // numeric strings ("1" vs "1.0") are a CompareValues tie, so the
        // earliest-ingested record must win via _seq, never string order.
        val lex = when(cls === 2, sf)
        val ord =
          if (max) Seq(cls.desc, col("_x_num").desc_nulls_last,
                       lex.desc_nulls_last)
          else     Seq(cls.asc,  col("_x_num").asc_nulls_last,
                       lex.asc_nulls_last)
        (p, ord, Seq("_x_num"))
      case _ =>
        // native types: Spark's natural order matches CompareValues
        // (numeric, timestamp, bool false<true); nil smallest.
        (seqd,
         if (max) Seq(sf.desc_nulls_last) else Seq(sf.asc_nulls_first),
         Nil)
    }
    // tie / incomparable → earliest ingested wins (reference keeps stored)
    val w = Window.partitionBy(keys.map(col): _*)
      .orderBy(ordCols :+ col("_seq").asc: _*)
    prepped.withColumn("_rn", row_number().over(w))
      .filter(col("_rn") === 1)
      .drop("_rn" +: "_seq" +: tmpCols: _*)
  }

  /**
   * Streaming min/max dedup — the online face of [[byExtreme]]:
   * keep, per key, the single record whose `strategyField` is the
   * extreme under the reference's CompareValues order
   * (transform.go:1052-1117 as driven by the processor's
   * strict-improvement fold, processor.go:295-307):
   * nil smallest; numbers AND numeric strings compare as float64
   * (the shared [[graft.functions.GoFloatParse]] parser — the exact
   * JVM code the batch path's `go_parse_float` expression calls, so
   * the two faces cannot drift); non-numeric strings compare
   * lexicographically among themselves and rank above all numerics;
   * ties and incomparables keep the EARLIEST arrival (streaming's
   * statement of "earliest ingested", same caveat as the `first`
   * strategy's dropDuplicates).
   *
   * Emission contract (Append mode, file-sink compatible): a key's
   * current extreme row is held in keyed state and emitted once the
   * key has been QUIET for `quiet` of EVENT time — the watermark on
   * `tsCol` (delayed by `watermarkDelay`) passing the key's last-seen
   * event time + `quiet` fires an EventTimeTimeout, the row is
   * appended, the state dropped: the session-close pattern. A key
   * that keeps receiving rows keeps improving silently; a
   * re-appearing key after emission starts a fresh round (may emit
   * again — downstream min/max compaction is associative, so the
   * extreme of extremes is still THE extreme). Event-time (not
   * processing-time) timers are load-bearing here: they make the
   * operator deterministic under replay AND terminate under
   * Trigger.AvailableNow — a processing-time timer keeps scheduling
   * wall-clock batches, so a bounded catch-up run would either hang
   * or race its own clock.
   *
   * Scale shape: one shuffle on the key; state is exactly one row per
   * live key (the current extreme — not the arrivals), bounded by the
   * quiet-period turnover, per-partition in the state store.
   */
  def dedupExtremeStream(df: DataFrame, keys: Seq[String], strategyField: String,
                         max: Boolean, tsCol: String, quiet: String,
                         watermarkDelay: String): DataFrame = {
    val wm = df.withWatermark(tsCol, watermarkDelay)
    val schema = wm.schema
    val keyIdx = keys.map(schema.fieldIndex)
    val fIdx = schema.fieldIndex(strategyField)
    val tsIdx = schema.fieldIndex(tsCol)
    val isString = schema(fIdx).dataType.isInstanceOf[StringType]
    val keySchema = StructType(keyIdx.map(schema(_)).toArray)
    val quietMs = intervalMs(quiet)
    // state = the extreme row's fields + the key's max seen event time
    val stateSchema = StructType(schema.fields :+ StructField("_graft_seen_ts", LongType))
    val rowEnc = Encoders.row(schema)
    wm.groupByKey((r: Row) => Row.fromSeq(keyIdx.map(r.get)))(Encoders.row(keySchema))
      .flatMapGroupsWithState[Row, Row](
        OutputMode.Append(), GroupStateTimeout.EventTimeTimeout()) {
        (_: Row, rows: Iterator[Row], state: GroupState[Row]) =>
          if (state.hasTimedOut) {
            val s = state.get
            state.remove()
            Iterator.single(Row.fromSeq(s.toSeq.dropRight(1)))
          } else {
            var (cur, seenTs) = state.getOption match {
              case Some(s) => (Row.fromSeq(s.toSeq.dropRight(1)), s.getLong(schema.length))
              case None => (null: Row, Long.MinValue)
            }
            rows.foreach { r =>
              val ts = r.get(tsIdx) match {
                case t: java.sql.Timestamp => t.getTime
                case t: java.time.Instant => t.toEpochMilli
                case _ => Long.MinValue // null ts rows still compete on value
              }
              if (ts > seenTs) seenTs = ts
              if (cur == null ||
                  strictlyBetter(r.get(fIdx), cur.get(fIdx), isString, max))
                cur = r
            }
            if (cur != null) {
              state.update(Row.fromSeq(cur.toSeq :+ seenTs))
              // a late batch can put seenTs+quiet at or behind the
              // watermark (setTimeoutTimestamp rejects that) — clamp a
              // hair past it so the key emits on the next advance
              state.setTimeoutTimestamp(
                math.max(seenTs + quietMs, state.getCurrentWatermarkMs() + 1))
            }
            Iterator.empty
          }
      }(Encoders.row(stateSchema), rowEnc)
      .toDF()
  }

  /** CalendarInterval string ("30 seconds", "5 minutes") to millis. */
  private def intervalMs(s: String): Long = {
    val iv = org.apache.spark.sql.catalyst.util.IntervalUtils.safeStringToInterval(
      org.apache.spark.unsafe.types.UTF8String.fromString(s))
    require(iv != null && iv.months == 0, s"unparseable interval '$s'")
    iv.days * 86400000L + iv.microseconds / 1000L
  }

  /** CompareValues strict improvement: true iff `cand` strictly beats
    * `inc` for the requested extreme (ties keep the incumbent = the
    * earlier arrival). String columns use the 3-class order the batch
    * [[byExtreme]] states (nil < numeric < non-numeric lex); native
    * types use natural order with nil smallest. */
  private[ops] def strictlyBetter(cand: Any, inc: Any,
                                  isString: Boolean, max: Boolean): Boolean = {
    val c = compareGo(cand, inc, isString)
    if (max) c > 0 else c < 0
  }

  private def compareGo(a: Any, b: Any, isString: Boolean): Int =
    if (isString) {
      def numOf(v: Any): java.lang.Double =
        if (v == null) null
        else graft.functions.GoFloatParse.parse(
          org.apache.spark.unsafe.types.UTF8String.fromString(v.toString))
      val (na, nb) = (numOf(a), numOf(b))
      def cls(v: Any, n: java.lang.Double) = if (v == null) 0 else if (n != null) 1 else 2
      val (ca, cb) = (cls(a, na), cls(b, nb))
      if (ca != cb) ca - cb
      else if (ca == 1) java.lang.Double.compare(na, nb)
      else if (ca == 2) a.toString.compareTo(b.toString)
      else 0
    } else (a, b) match {
      case (null, null) => 0
      case (null, _) => -1
      case (_, null) => 1
      case (x: java.lang.Double, y: java.lang.Double) => java.lang.Double.compare(x, y)
      case (x: java.lang.Float, y: java.lang.Float) => java.lang.Float.compare(x, y)
      case (x: java.math.BigDecimal, y: java.math.BigDecimal) => x.compareTo(y)
      case (x: Number, y: Number) => java.lang.Long.compare(x.longValue(), y.longValue())
      case (x: Comparable[_], y) if x.getClass == y.getClass =>
        x.asInstanceOf[Comparable[Any]].compareTo(y)
      case _ => 0 // incomparable -> tie -> earliest arrival wins
    }

  /** Exact duplicate removal on a set of columns (hash-shuffle distinct). */
  def exact(df: DataFrame, keys: Seq[String]): DataFrame =
    if (keys.isEmpty) df.distinct() else df.dropDuplicates(keys)

  /**
   * C4-style duplicate-span removal: each document's token stream is
   * cut into consecutive non-overlapping `spanTokens`-token segments;
   * a segment that appears verbatim anywhere else in the corpus
   * survives only at its FIRST occurrence ((doc id, position) order)
   * and every later occurrence is dropped; each document is rebuilt
   * from its surviving segments in order. Documents whose every span
   * was dropped disappear, as in C4's line-level dedup.
   *
   * Shape: one shuffle keyed on the span text for the global
   * first-occurrence rank (the occ = 1 filter runs as
   * WindowGroupLimit, so map tasks keep one row per span before the
   * exchange), one shuffle on the doc id to rebuild. Spans are short
   * (`spanTokens` words); at 100 TB the rank key would be
   * xxhash64(span) to cut shuffle bytes — raw strings kept here for
   * oracle portability.
   */
  def spanDedup(docs: DataFrame, idCol: String, textCol: String,
                spanTokens: Int): DataFrame = {
    // native chunker (word_grams step = n): the slice/join lambda
    // construction it replaces ran interpreted per span (HOFs are
    // CodegenFallback) — same strings, parity spec-pinned
    graft.functions.Registry.ensure(docs.sparkSession)
    val chunks = call_function("word_grams",
      col(textCol), lit(spanTokens), lit(spanTokens))
    val spans = docs.select(col(idCol).as("id"), size(chunks).as("total_spans"),
      posexplode(chunks).as(Seq("span_idx", "span_text")))
    val firstW = Window.partitionBy(col("span_text"))
      .orderBy(col("id"), col("span_idx"))
    spans
      .withColumn("occ", row_number().over(firstW))
      .filter(col("occ") === 1)
      .groupBy(col("id"))
      .agg(
        array_join(
          transform(array_sort(collect_list(struct(col("span_idx"), col("span_text")))),
            s => s.getField("span_text")), " ").as("clean_text"),
        count(lit(1)).cast("int").as("kept_spans"),
        first(col("total_spans")).as("total_spans"))
      .withColumnRenamed("id", idCol)
  }

  /**
   * [[spanDedup]]'s 100 TB twin: the first-occurrence rank runs over
   * xxhash64(span) so the dedup exchange moves ONLY (hash, id,
   * span_idx) — 24 bytes a span instead of the span text — and the
   * rebuild re-derives span text row-locally from the doc after a
   * single join of the doc table against the tiny winner set
   * (recompute-over-shuffle: span strings never ride an exchange at
   * all). Result is identical to [[spanDedup]] absent 64-bit hash
   * collisions (~n²/2⁶⁴ — negligible below ~10⁹ distinct spans; a
   * collision drops a distinct span as if it were a duplicate).
   */
  def spanDedupHashed(docs: DataFrame, idCol: String, textCol: String,
                      spanTokens: Int): DataFrame = {
    graft.functions.Registry.ensure(docs.sparkSession)
    val chunks = call_function("word_grams",
      col(textCol), lit(spanTokens), lit(spanTokens))
    val keys = docs.select(col(idCol).as("id"),
      posexplode(transform(chunks, c => xxhash64(c))).as(Seq("span_idx", "h")))
    val firstW = Window.partitionBy(col("h"))
      .orderBy(col("id"), col("span_idx"))
    val winners = keys
      .withColumn("occ", row_number().over(firstW))
      .filter(col("occ") === 1)
      .groupBy(col("id"))
      .agg(sort_array(collect_list(col("span_idx"))).as("_keep"))
    docs.select(col(idCol).as("id"), col(textCol))
      .join(winners, "id")
      .select(col("id").as(idCol),
        array_join(transform(col("_keep"), i => element_at(chunks, i + 1)), " ")
          .as("clean_text"),
        size(col("_keep")).as("kept_spans"),
        size(chunks).as("total_spans"))
  }

  /** The per-domain boilerplate set (domain, h=xxhash64(line)) that
    * [[boilerplateLineRemoval]] subtracts. */
  private def boilerplateSet(docs: DataFrame, idCol: String, textCol: String,
                             domainCol: String, lineDelim: String,
                             minDocs: Int, maxDocFracBp: Int): DataFrame = {
    val linesOf: Column = split(col(textCol), java.util.regex.Pattern.quote(lineDelim))
    // distinct docs per (domain, line): a line repeated WITHIN one doc
    // counts once — the signal is cross-document repetition
    val docFreq = docs.select(col(idCol).as("id"), col(domainCol).as("domain"),
        explode(array_distinct(transform(linesOf, l => xxhash64(l)))).as("h"))
      .groupBy(col("domain"), col("h")).agg(count(lit(1)).as("dfd"))
    val nDocs = docs.groupBy(col(domainCol).as("domain")).agg(count(lit(1)).as("n_docs"))
    docFreq.join(nDocs, "domain")
      .filter(col("dfd") >= minDocs &&
        col("dfd") * lit(10000L) > lit(maxDocFracBp.toLong) * col("n_docs"))
      .select(col("domain"), col("h"))
  }

  /**
   * Boilerplate-line removal (the C4/RefinedWeb curation step): a line
   * that appears in MANY documents of the same domain (nav menus,
   * cookie banners, footers) is dropped from every document, and each
   * document is rebuilt from its surviving lines in order. A line is
   * boilerplate within a domain when it occurs in at least `minDocs`
   * distinct documents AND in more than `maxDocFracBp` basis points
   * (1/10000ths) of the domain's documents. The threshold compares
   * INTEGERS (dfd * 10000 > bp * n_docs) — no FP, exact in any engine.
   * Documents whose every line was boilerplate disappear, as in C4.
   *
   * Scale shape (the [[spanDedupHashed]] recipe): line text is hashed
   * to 8 bytes row-locally BEFORE anything shuffles, so the frequency
   * count, the threshold join and the keep-list anti-join all move
   * (domain, hash, id/idx) rows only; each surviving document is
   * rebuilt row-locally (element_at into its own line array) after ONE
   * join of the doc table against the per-doc keep list. A 64-bit
   * collision (~n²/2⁶⁴) folds two lines' counts together — noise at
   * any real corpus size.
   */
  def boilerplateLineRemoval(docs: DataFrame, idCol: String, textCol: String,
                             domainCol: String, lineDelim: String = "\n",
                             minDocs: Int = 2,
                             maxDocFracBp: Int = 500): DataFrame = {
    def linesOf: Column = split(col(textCol), java.util.regex.Pattern.quote(lineDelim))
    val keys = docs.select(col(idCol).as("id"), col(domainCol).as("domain"),
      posexplode(transform(linesOf, l => xxhash64(l))).as(Seq("idx", "h")))
    val boiler = boilerplateSet(docs, idCol, textCol, domainCol, lineDelim,
      minDocs, maxDocFracBp)
    val keep = keys.join(boiler, Seq("domain", "h"), "left_anti")
      .groupBy(col("id")).agg(sort_array(collect_list(col("idx"))).as("_keep"))
    docs.select(col(idCol).as("id"), col(domainCol), col(textCol))
      .join(keep, "id")
      .select(col("id").as(idCol), col(domainCol),
        array_join(transform(col("_keep"), i => element_at(linesOf, i + 1)), lineDelim)
          .as("clean_text"),
        size(col("_keep")).as("kept_lines"),
        size(linesOf).as("total_lines"))
  }

  /** Top-k rows per key by `orderCol` (desc), ties broken by
    * `tiebreak` asc. Spark executes this as WindowGroupLimit: each map
    * task keeps only k rows per key BEFORE the shuffle. */
  def topKPerKey(df: DataFrame, keys: Seq[String], orderCol: String,
                 tiebreak: String, k: Int): DataFrame = {
    val w = Window.partitionBy(keys.map(col): _*)
      .orderBy(col(orderCol).desc, col(tiebreak).asc)
    df.withColumn("_rank", row_number().over(w))
      .filter(col("_rank") <= k)
      .withColumnRenamed("_rank", "rank")
  }

  // ------------------------------------------------------------------
  // Near-duplicate detection (LLM-pipeline operators)
  // ------------------------------------------------------------------

  /** Lowercased whitespace tokens. */
  def tokens(text: Column): Column = split(lower(trim(text)), "\\s+")

  /**
   * Character shingles (n-grams) of the normalized text, distinct.
   * Produces an array<string>; at 100 TB each shingle is immediately
   * hashed (below) so the wide strings never shuffle.
   */
  def charShingles(text: Column, n: Int): Column = {
    val s = lower(text)
    array_distinct(
      transform(
        sequence(lit(1), greatest(lit(1), length(s) - (n - 1))),
        i => s.substr(i, lit(n))))
  }

  /**
   * MinHash signatures — the signature is doc-local, so this is ONE
   * native [[graft.expr.MinhashSigX64]] expression per row: a narrow
   * map stage with zero exchange at any scale. (Two earlier shapes
   * both lose: explode + partial-min groupBy pays a generate, a hash
   * aggregate and an exchange for row-local arithmetic; higher-order
   * `transform` lambdas are interpreted with per-element boxing.)
   *
   * PRECONDITION: `idCol` must be unique. Output is one signature row
   * per INPUT ROW; a duplicated id yields duplicate (id, sig) rows,
   * and downstream banding ([[minhashNearDupPairs]]) would see them as
   * distinct bucket members. (An earlier explode+groupBy(id) shape
   * silently merged duplicate ids into one signature over the union of
   * their shingles — that merge was an accident of shape, not a
   * contract; `dropDuplicates(idCol)` first if ids can repeat.)
   */
  def minhashSignatures(df: DataFrame, idCol: String, textCol: String,
                        shingleSize: Int, numHashes: Int): DataFrame = {
    graft.functions.Registry.ensure(df.sparkSession)
    df.filter(col(textCol).isNotNull)
      .select(col(idCol).as("id"),
        call_function("minhash_sig_x64",
          col(textCol), lit(shingleSize), lit(numHashes)).as("sig"))
  }

  /**
   * MinHash/LSH near-duplicate PAIRS.
   * shingle → signature → band buckets → self-join within bucket →
   * signature-agreement estimate ≥ threshold.
   *
   * Scale: the only wide operation is the groupBy on band key (one
   * shuffle of (bandKey, id, signature)); candidate verification is
   * per-bucket. Skewed buckets (boilerplate docs) are bounded by
   * `maxBucketSize`.
   */
  def minhashNearDupPairs(df: DataFrame, idCol: String, textCol: String,
                          shingleSize: Int = 5, numHashes: Int = 16,
                          bands: Int = 4, threshold: Double = 0.7,
                          maxBucketSize: Int = 1000): DataFrame = {
    require(numHashes % bands == 0, "numHashes must be divisible by bands")
    val rowsPerBand = numHashes / bands
    val sig = minhashSignatures(df, idCol, textCol, shingleSize, numHashes)
    // band key: hash of the band's slice of the signature
    val banded = sig.select(col("id"), col("sig"),
        posexplode(array((0 until bands).map { b =>
          xxhash64(slice(col("sig"), b * rowsPerBand + 1, rowsPerBand))
        }: _*)).as(Seq("band", "bucket")))
    val buckets = banded
      .groupBy(col("band"), col("bucket"))
      .agg(collect_list(struct(col("id"), col("sig"))).as("members"))
      .filter(size(col("members")).between(2, maxBucketSize))
    val pairs = buckets.select(explode(col("members")).as("a"), col("members"))
      .select(col("a"), explode(col("members")).as("b"))
      .filter(col("a.id") < col("b.id"))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"),
        (call_function("sig_agree_count", col("a.sig"), col("b.sig"))
          .cast(DoubleType) / numHashes).as("est_jaccard"))
      .distinct() // same pair can collide in several bands
    pairs.filter(col("est_jaccard") >= threshold)
  }

  /**
   * md5-portable MinHash signatures as BIGINT arrays: per seed j, the
   * min over distinct shingles of the first 15 hex chars of
   * md5("<j>|" + shingle) read base-16 — arithmetic DuckDB reproduces
   * exactly ('0x'||substr(md5(...),1,15))::BIGINT, which is what makes
   * the near-dup PAIR queries oracle-able. Same per-row, shuffle-free
   * shape as [[minhashSignatures]]; that xxhash64 integer-mixing path
   * (one string hash per shingle instead of `numHashes` md5s) is the
   * production/bench path.
   */
  def minhashPortableValues(df: DataFrame, idCol: String, textCol: String,
                            shingleSize: Int, numHashes: Int): DataFrame = {
    df.filter(col(textCol).isNotNull)
      .select(col(idCol).as("id"),
        charShingles(col(textCol), shingleSize).as("_shs"))
      .select(col("id"),
        array((0 until numHashes).map { j =>
          array_min(transform(col("_shs"), sh =>
            conv(substring(md5(concat(lit(s"$j|"), sh).cast("binary")), 1, 15), 16, 10)
              .cast(LongType)))
        }: _*).as("sig"))
  }

  /**
   * md5-portable MinHash/LSH near-dup pairs — the oracle twin of
   * [[minhashNearDupPairs]]. Identical banding algorithm, but the band
   * bucket key is the band's signature values rendered as a string
   * (engine-portable) instead of an xxhash64 of the slice.
   */
  def minhashPortablePairs(df: DataFrame, idCol: String, textCol: String,
                           shingleSize: Int = 4, numHashes: Int = 8,
                           bands: Int = 4, threshold: Double = 0.5,
                           maxBucketSize: Int = 1000): DataFrame = {
    require(numHashes % bands == 0, "numHashes must be divisible by bands")
    graft.functions.Registry.ensure(df.sparkSession)
    val rowsPerBand = numHashes / bands
    val sig = minhashPortableValues(df, idCol, textCol, shingleSize, numHashes)
    val banded = sig.select(col("id"), col("sig"),
      posexplode(array((0 until bands).map { b =>
        array_join(transform(slice(col("sig"), b * rowsPerBand + 1, rowsPerBand),
          _.cast(StringType)), ",")
      }: _*)).as(Seq("band", "bucket")))
    val buckets = banded
      .groupBy(col("band"), col("bucket"))
      .agg(collect_list(struct(col("id"), col("sig"))).as("members"))
      .filter(size(col("members")).between(2, maxBucketSize))
    buckets.select(explode(col("members")).as("a"), col("members"))
      .select(col("a"), explode(col("members")).as("b"))
      .filter(col("a.id") < col("b.id"))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"),
        (call_function("sig_agree_count", col("a.sig"), col("b.sig"))
          .cast(DoubleType) / numHashes).as("est_jaccard"))
      .distinct() // same pair can collide in several bands
      .filter(col("est_jaccard") >= threshold)
  }

  /**
   * One-permutation-hashing MinHash signatures (Li, Owen, Zhang 2012)
   * with rotation densification (Shrivastava & Li 2014): hash each
   * distinct shingle ONCE, route it to bin `h mod k`, keep the min
   * quotient `h div k` per bin, and fill an empty bin j from the next
   * non-empty bin at cyclic distance t with offset t·C (so a borrow
   * only matches a borrow of the same provenance).
   *
   * Why it exists next to [[minhashSignatures]]: the k-hash signature
   * pays `numHashes` mixing steps per shingle (even the native x64
   * expression); OPH pays ONE hash + one min-update per shingle,
   * k-independent — at 100 TB the signature stage is a linear scan
   * whose cost no longer multiplies by signature length. Estimator
   * quality matches classic MinHash on non-tiny docs (densification
   * handles the short-doc empty-bin case deterministically).
   *
   * `portableHashing=true` uses the md5 arithmetic DuckDB reproduces
   * exactly; the default xxhash64 path (sign bit masked) is the
   * production/bench twin with identical downstream algebra.
   */
  def ophSignatures(df: DataFrame, idCol: String, textCol: String,
                    shingleSize: Int = 4, k: Int = 8,
                    portableHashing: Boolean = false): DataFrame = {
    require(k >= 2, "k must be >= 2")
    if (!portableHashing) {
      // Production path: ONE native codegen expression per row
      // (graft.expr.OphSigX64) — the whole point of OPH is that the
      // signature stage is a single pass; building it from k
      // interpreted filter/transform lambdas measured 6× slower than
      // even the k-hash native signature at sf0.1.
      graft.functions.Registry.ensure(df.sparkSession)
      return df.filter(col(textCol).isNotNull)
        .select(col(idCol).as("id"),
          call_function("oph_sig_x64", col(textCol), lit(shingleSize), lit(k)).as("sig"))
    }
    // Portable (oracle) path: the identical bin/min/borrow algebra as
    // SQL expressions DuckDB can restate verbatim. Correctness fixture
    // only — never benched (Bench excludes it).
    val C = OphBorrowOffset
    val binExprs = (0 until k).map(j =>
      s"array_min(transform(filter(_hv, h -> h % $k = $j), h -> h div $k))").mkString(", ")
    val sigExprs = (0 until k).map { j =>
      val chain = (0 until k).map { t =>
        val src = s"element_at(_b, ${((j + t) % k) + 1})"
        if (t == 0) src else s"$src + ${t.toLong * C}L"
      }.mkString(", ")
      s"coalesce($chain)"
    }.mkString(", ")
    df.filter(col(textCol).isNotNull)
      .select(col(idCol).as("id"), charShingles(col(textCol), shingleSize).as("_shs"))
      .selectExpr("id",
        "transform(_shs, s -> cast(conv(substring(md5(cast(s as binary)), 1, 15), 16, 10) as bigint)) AS _hv")
      .selectExpr("id", s"array($binExprs) AS _b")
      .selectExpr("id", s"array($sigExprs) AS sig")
  }

  /** Cyclic-borrow offset for OPH densification: large enough that a
    * borrowed value only equals another borrow with the same source
    * distance, small enough that t·C never overflows on 60-bit
    * quotients (2^57 + k·2^40 ≪ 2^63). Shared with the native
    * expression ([[graft.expr.Fingerprints.OphBorrowOffset]]). */
  val OphBorrowOffset: Long = graft.expr.Fingerprints.OphBorrowOffset

  /**
   * OPH near-duplicate pairs — same banding/verification algebra as
   * [[minhashPortablePairs]] over the one-pass signature. Portable
   * mode keys buckets on the band values rendered as a string (what
   * the DuckDB twin states); production mode hashes the slice.
   */
  def ophPairs(df: DataFrame, idCol: String, textCol: String,
               shingleSize: Int = 4, k: Int = 8, bands: Int = 4,
               threshold: Double = 0.5, maxBucketSize: Int = 1000,
               portableHashing: Boolean = false): DataFrame = {
    require(k % bands == 0, "k must be divisible by bands")
    graft.functions.Registry.ensure(df.sparkSession)
    val rowsPerBand = k / bands
    val sig = ophSignatures(df, idCol, textCol, shingleSize, k, portableHashing)
    val bucketOf = (b: Int) =>
      if (portableHashing)
        array_join(transform(slice(col("sig"), b * rowsPerBand + 1, rowsPerBand),
          _.cast(StringType)), ",")
      else xxhash64(slice(col("sig"), b * rowsPerBand + 1, rowsPerBand)).cast(StringType)
    val banded = sig.select(col("id"), col("sig"),
      posexplode(array((0 until bands).map(bucketOf): _*)).as(Seq("band", "bucket")))
    val buckets = banded
      .groupBy(col("band"), col("bucket"))
      .agg(collect_list(struct(col("id"), col("sig"))).as("members"))
      .filter(size(col("members")).between(2, maxBucketSize))
    buckets.select(explode(col("members")).as("a"), col("members"))
      .select(col("a"), explode(col("members")).as("b"))
      .filter(col("a.id") < col("b.id"))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"),
        (call_function("sig_agree_count", col("a.sig"), col("b.sig"))
          .cast(DoubleType) / k).as("est_jaccard"))
      .distinct() // same pair can collide in several bands
      .filter(col("est_jaccard") >= threshold)
  }

  /**
   * Sketch-then-verify: the OPH candidates re-scored with the EXACT
   * shingle Jaccard (|A∩B|·10⁶ div |A∪B|, integral — union size by
   * inclusion-exclusion on distinct shingle sets) and filtered at
   * `exactThreshold` — the estimator proposes, the verifier decides,
   * so banding noise cannot leak into downstream dedup. The shingle
   * fetch is candidate-bounded (two id-keyed joins); only candidate
   * pairs ever hold two shingle sets in one row.
   */
  def ophVerifiedPairs(df: DataFrame, idCol: String, textCol: String,
                       shingleSize: Int = 4, k: Int = 8, bands: Int = 4,
                       estThreshold: Double = 0.5, exactThreshold: Double = 0.5,
                       maxBucketSize: Int = 1000,
                       portableHashing: Boolean = false): DataFrame = {
    // The candidate relation is pairs-sized (tiny) but feeds THREE
    // consumers (the verify chain + both id-prune branches) — persist
    // it so the banded OPH pipeline runs once. Then prune the corpus
    // to CANDIDATE DOCS before shingling: the exact-Jaccard verifier
    // only ever needs the shingle sets of docs that appear in a
    // candidate pair, so the expensive shingle materialization drops
    // from 2× the corpus to 1× the candidate docs (persisted, reused
    // by both join sides). Released via CachedRelations after the
    // caller's action.
    val cand = CachedRelations.track(
      ophPairs(df, idCol, textCol, shingleSize, k, bands,
        estThreshold, maxBucketSize, portableHashing)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
    val candIds = cand.select(col("id_a").as(idCol))
      .union(cand.select(col("id_b").as(idCol))).distinct()
    val sh = CachedRelations.track(
      df.join(candIds, Seq(idCol), "left_semi")
        .filter(col(textCol).isNotNull)
        .select(col(idCol).as("_sid"), charShingles(col(textCol), shingleSize).as("_shs"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
    cand
      .join(sh.select(col("_sid").as("id_a"), col("_shs").as("_sha")), "id_a")
      .join(sh.select(col("_sid").as("id_b"), col("_shs").as("_shb")), "id_b")
      .withColumn("jaccard_micro", expr(
        "cast(cast(size(array_intersect(_sha, _shb)) as bigint) * 1000000 div " +
          "(size(_sha) + size(_shb) - size(array_intersect(_sha, _shb))) as bigint)"))
      .filter(col("jaccard_micro") >= (exactThreshold * 1e6).toLong)
      .select(col("id_a"), col("id_b"), col("est_jaccard"), col("jaccard_micro"))
  }

  /**
   * SimHash (64-bit): per token, a 64-bit hash; bit j contributes +1/-1
   * to accumulator j; simhash bit j = sign. Near-dups = hamming
   * distance ≤ k on the signature. Scale path: one explode + one
   * groupBy(id) — token strings never shuffle (hashed first).
   */
  def simhash64(df: DataFrame, idCol: String, textCol: String): DataFrame =
    simhashFromHashes(
      df.select(col(idCol).as("id"),
          explode(array_distinct(tokens(col(textCol)))).as("tok"))
        .withColumn("h", xxhash64(col("tok"))), 64)

  /**
   * md5-portable SimHash (30 bits — the widest slice of a 15-hex-char
   * md5 prefix that stays positive in both engines): same sign-of-bit-
   * sums construction as [[simhash64]], token hashes from md5 so the
   * DuckDB oracle computes identical values.
   */
  def simhashPortable(df: DataFrame, idCol: String, textCol: String): DataFrame =
    simhashFromHashes(
      df.select(col(idCol).as("id"),
          explode(array_distinct(tokens(col(textCol)))).as("tok"))
        .withColumn("h",
          conv(substring(md5(col("tok").cast("binary")), 1, 15), 16, 10).cast(LongType)),
      30)

  /** Shared SimHash core over a (id, h) hashed-token frame. */
  private def simhashFromHashes(hashed: DataFrame, bits: Int): DataFrame = {
    val bitSums = (0 until bits).map { j =>
      sum(when(shiftright(col("h"), j).bitwiseAND(1) === 1, 1L).otherwise(-1L)).as(s"b$j")
    }
    val agg = hashed.groupBy(col("id")).agg(bitSums.head, bitSums.tail: _*)
    val sig = (0 until bits).map { j =>
      when(col(s"b$j") > 0, lit(1L << j)).otherwise(0L)
    }.reduce((a, b) => a.bitwiseOR(b))
    agg.select(col("id"), sig.as("simhash"))
  }

  /** Hamming distance between two 64-bit signatures. */
  def hamming64(a: Column, b: Column): Column = bit_count(a.bitwiseXOR(b))

  /**
   * SimHash near-duplicate PAIRS: band the 64-bit signature into
   * `bands` contiguous bit slices; by pigeonhole, any pair with
   * hamming distance < `bands` shares at least one exact band, so
   * bucketing on (band, slice) finds ALL such pairs with one shuffle;
   * candidates verify with bit_count. maxHamming must be < bands for
   * the guarantee (default 3 < 4).
   */
  def simhashNearDupPairs(df: DataFrame, idCol: String, textCol: String,
                          maxHamming: Int = 3, bands: Int = 4,
                          maxBucketSize: Int = 10000): DataFrame =
    hammingBandPairs(simhash64(df, idCol, textCol), 64, maxHamming, bands, maxBucketSize)

  /** md5-portable SimHash near-dup pairs (30-bit signature, 5 bands of
    * 6 bits) — the oracle twin of [[simhashNearDupPairs]]. */
  def simhashPortablePairs(df: DataFrame, idCol: String, textCol: String,
                           maxHamming: Int = 3, bands: Int = 5,
                           maxBucketSize: Int = 10000): DataFrame =
    hammingBandPairs(simhashPortable(df, idCol, textCol), 30, maxHamming, bands, maxBucketSize)

  /** Banded pigeonhole blocking over a (id, simhash) frame: any pair
    * with hamming ≤ maxHamming (< bands) shares at least one exact band
    * slice, so one shuffle on (band, slice) finds ALL such pairs.
    * Public: the same machinery serves ANY 64-bit-or-narrower Hamming
    * signature — text simhash here, perceptual image hashes
    * ([[Multimodal.imageNearDupPairs]]), audio fingerprints. */
  def hammingBandPairs(sigs: DataFrame, widthBits: Int, maxHamming: Int,
                       bands: Int, maxBucketSize: Int): DataFrame = {
    require(maxHamming < bands, "pigeonhole guarantee needs maxHamming < bands")
    require(widthBits % bands == 0, "widthBits must be divisible by bands")
    val bits = widthBits / bands
    val banded = sigs.select(col("id"), col("simhash"),
      posexplode(array((0 until bands).map { b =>
        shiftrightunsigned(col("simhash"), b * bits)
          .bitwiseAND(lit((1L << bits) - 1))
      }: _*)).as(Seq("band", "slice")))
    val buckets = banded.groupBy(col("band"), col("slice"))
      .agg(collect_list(struct(col("id"), col("simhash"))).as("members"))
      .filter(size(col("members")).between(2, maxBucketSize))
    buckets.select(explode(col("members")).as("a"), col("members"))
      .select(col("a"), explode(col("members")).as("b"))
      .filter(col("a.id") < col("b.id"))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"),
        hamming64(col("a.simhash"), col("b.simhash")).as("hamming"))
      .distinct()
      .filter(col("hamming") <= maxHamming)
  }

  /**
   * Embedding-cosine near-duplicate pairs. Brute-force O(n^2) form for
   * exactness (oracle-able); [[Similarity.lshTopK]]'s bucketing is the
   * same verify step behind an LSH blocker for scale.
   */
  def embeddingNearDupPairs(df: DataFrame, idCol: String, vecCol: String,
                            threshold: Double): DataFrame = {
    val v = df.select(col(idCol).as("id"), col(vecCol).cast("array<double>").as("v"))
      .withColumn("nrm", Similarity.norm(col("v")))
    val a = v.select(col("id").as("id_a"), col("v").as("va"), col("nrm").as("na"))
    val b = v.select(col("id").as("id_b"), col("v").as("vb"), col("nrm").as("nb"))
    a.crossJoin(b)
      .filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"),
        (Similarity.dot(col("va"), col("vb")) / (col("na") * col("nb"))).as("cos"))
      .filter(col("cos") >= threshold)
  }

  /**
   * Embedding-cosine near-dup pairs behind an LSH blocker — the 100 TB
   * twin of [[embeddingNearDupPairs]]: candidates are pairs sharing a
   * bucket in ANY of `tables` independent hyperplane tables
   * ([[graft.expr.LshBuckets]]), then exact-cosine verified. Only
   * (id, bucket) moves until the candidate distinct; vectors join back
   * for scoring (semi-join-then-fetch, same as [[Similarity.lshTopK]]).
   * Output ⊆ the brute-force pairs; recall is the documented price —
   * raise `tables` to trade shuffle volume for recall.
   */
  def embeddingNearDupPairsLsh(df: DataFrame, idCol: String, vecCol: String,
                               threshold: Double, dims: Int,
                               planes: Int = 6, tables: Int = 4,
                               maxBucketSize: Int = 10000): DataFrame = {
    graft.functions.Registry.ensure(df.sparkSession)
    val v = df.select(col(idCol).as("id"), col(vecCol).cast("array<double>").as("v"))
      .withColumn("nrm", Similarity.norm(col("v")))
    val bucketed = v.select(col("id"),
        posexplode(call_function("lsh_buckets",
          col("v"), lit(dims), lit(planes), lit(tables))).as(Seq("table", "bucket")))
    val cands = bucketed.groupBy(col("table"), col("bucket"))
      .agg(collect_list(col("id")).as("ids"))
      .filter(size(col("ids")).between(2, maxBucketSize))
      .select(explode(col("ids")).as("id_a"), col("ids"))
      .select(col("id_a"), explode(col("ids")).as("id_b"))
      .filter(col("id_a") < col("id_b"))
      .distinct() // a pair can share buckets in several tables
    cands
      .join(v.select(col("id").as("id_a"), col("v").as("va"), col("nrm").as("na")), "id_a")
      .join(v.select(col("id").as("id_b"), col("v").as("vb"), col("nrm").as("nb")), "id_b")
      .select(col("id_a"), col("id_b"),
        (Similarity.dot(col("va"), col("vb")) / (col("na") * col("nb"))).as("cos"))
      .filter(col("cos") >= threshold)
  }

  /**
   * SEMANTIC dedup: embedding-cosine near-dup pairs → connected
   * components → keep one canonical doc (min id) per cluster,
   * singletons pass through ([[Clusters.dedupByPairs]]).
   * `exactPairs=true` uses the brute-force O(n²) pair generator — the
   * oracle baseline; the default LSH blocker is the scale path (same
   * verify arithmetic, bounded buckets, recall documented on the pair
   * op).
   */
  def semanticDedup(df: DataFrame, idCol: String, vecCol: String,
                    threshold: Double, dims: Int,
                    exactPairs: Boolean = false): DataFrame = {
    val pairs =
      if (exactPairs) embeddingNearDupPairs(df, idCol, vecCol, threshold)
      else embeddingNearDupPairsLsh(df, idCol, vecCol, threshold, dims)
    Clusters.dedupByPairs(df, idCol, pairs, "id_a", "id_b")
  }

  /**
   * Incremental dedup of a NEW batch against an existing REFERENCE
   * corpus, without shuffling either side in full: the reference's
   * key-hashes aggregate into a bloom sketch (map-side partials, one
   * tiny driver merge — the sketch, not the corpus, is what moves);
   * new rows whose hash cannot be in the sketch pass through with NO
   * exchange at all, and only probable duplicates — fpp of the clean
   * volume plus the true dups — pay the exact anti-join that resolves
   * bloom false positives. The result is therefore EXACTLY the plain
   * anti-join on `keys`, which is what the oracle checks; the bloom
   * only prunes the shuffle. Size `expectedRefDistinct` to the
   * reference corpus (1% fpp ≈ 1.2 GB per 10⁹ keys — broadcast-able;
   * shard the reference and run per-shard passes beyond that).
   */
  def incrementalDedup(newDf: DataFrame, refDf: DataFrame, keys: Seq[String],
                       expectedRefDistinct: Long = 1000000L,
                       fpp: Double = 0.01): DataFrame = {
    val keyHash = xxhash64(keys.map(col): _*)
    val bloom = refDf.select(keyHash.as("_h")).stat.bloomFilter("_h", expectedRefDistinct, fpp)
    val flagged = newDf.withColumn("_maybe_dup",
      graft.functions.Registry.bloomColumn(keyHash, bloom))
    val clean = flagged.filter(!col("_maybe_dup")).drop("_maybe_dup")
    val resolved = flagged.filter(col("_maybe_dup")).drop("_maybe_dup")
      .join(refDf.select(keys.map(col): _*).distinct(), keys, "left_anti")
    clean.unionByName(resolved)
  }

  /**
   * Token n-gram Jaccard similarity pairs ≥ threshold, blocked by a
   * shared-ngram inverted index (never a full cross join).
   * Scale: explode → groupBy ngram (inverted index) → pair counts →
   * jaccard via |A∩B| / (|A|+|B|-|A∩B|). Frequent-ngram skew bounded
   * by `maxPostings`.
   */
  /** Distinct word n-grams of the normalized text, HASHED to 64 bits
    * before anything shuffles — gram-set operators only need equality,
    * and an 8-byte key beats a ~20-byte string in every exchange. Even
    * at 10^9 distinct grams the birthday bound gives ~3% odds of ONE
    * colliding pair corpus-wide — noise for count/jaccard consumers.
    * Native [[graft.expr.WordGramHashes]]: one primitive loop instead
    * of interpreted tokenize/slice/join lambdas per gram. */
  def wordGramHashes(text: Column, n: Int): Column = {
    graft.functions.Registry.ensure(org.apache.spark.sql.SparkSession.active)
    call_function("word_gram_hashes", text, lit(n))
  }

  /**
   * Lexical near-dup by TF-IDF cosine: doc pairs whose weighted term
   * vectors have cosine >= `threshold`. The weighted complement to
   * [[ngramJaccardPairs]] — common terms are idf-downweighted instead
   * of counted, so boilerplate vocabulary can't fake similarity.
   *
   * Scale shape: the inverted index moves (term, id, wn, n2) only —
   * weights and the doc's norm ride the posting row (no sizes join at
   * pair time); postings per term are bounded (stop-term removal);
   * the one broadcast is the single-row doc count.
   *
   * Cross-engine exactness: weights quantize to integer micros
   * (floor(tf*idf*1e6+0.5)) BEFORE any cross-row sum; dot products
   * and norms are then integer arithmetic, and the closing
   * cos = dot / (sqrt(n2a)*sqrt(n2b)) is IEEE-correctly-rounded.
   */
  def tfidfCosinePairs(df: DataFrame, idCol: String, textCol: String,
                       threshold: Double = 0.5,
                       maxPostings: Int = 1000): DataFrame = {
    val tk = df.select(col(idCol).as("id"), explode(tokens(col(textCol))).as("term"))
    val tf = tk.groupBy(col("id"), col("term")).agg(count(lit(1)).as("tf"))
    val dfreq = tf.groupBy(col("term")).agg(count(lit(1)).as("df"))
    val nDocs = df.select(count_distinct(col(idCol)).as("n_docs"))
    // w feeds both the norms and the inverted index on different
    // shuffle keys — recomputed per consumer ON PURPOSE: the recompute
    // is linear scan+combine work, and persisting this corpus-volume
    // relation measured ~30% slower at sf0.1 (see unigramLogProb for
    // the same finding; Corpus.clean shows the opposite case).
    val w = tf.join(dfreq, "term").crossJoin(broadcast(nDocs))
      .withColumn("wn",
        floor(col("tf") * log(lit(1.0) + col("n_docs").cast("double") / col("df"))
          * lit(1e6) + lit(0.5)).cast("long"))
      .filter(col("wn") > 0) // idf of a term in EVERY doc rounds to 0 weight
    // n2/dotn accumulate in DECIMAL(38,0): a high-tf doc (tf ~1e5 at a
    // deep-corpus idf) puts wn near 1e12, and wn*wn would silently wrap
    // Int64 in non-ANSI Spark while a SQL oracle's BIGINT multiply
    // raises — decimal keeps both engines exact to wn ~1e18.
    val wnDec = col("wn").cast("decimal(19,0)")
    val norm2 = w.groupBy(col("id")).agg(sum(wnDec * col("wn")).as("n2"))
    val posting = w.join(norm2, "id")
      .select(col("term"), col("id"), col("wn"), col("n2"))
    val index = posting.groupBy(col("term"))
      .agg(collect_list(struct(col("id"), col("wn"), col("n2"))).as("members"))
      .filter(size(col("members")).between(2, maxPostings))
    index
      .select(explode(col("members")).as("a"), col("members"))
      .select(col("a"), explode(col("members")).as("b"))
      .filter(col("a.id") < col("b.id"))
      .groupBy(col("a.id").as("id_a"), col("a.n2").as("n2a"),
        col("b.id").as("id_b"), col("b.n2").as("n2b"))
      .agg(sum(col("a.wn").cast("decimal(19,0)") * col("b.wn")).as("dotn"))
      .withColumn("cos", col("dotn").cast(DoubleType) /
        (sqrt(col("n2a").cast(DoubleType)) * sqrt(col("n2b").cast(DoubleType))))
      .filter(col("cos") >= threshold)
      .select(col("id_a"), col("id_b"), col("cos"))
  }

  /** `maxPostings <= 0` (the default) resolves a CORPUS-RELATIVE stop-gram
    * bound: clamp(1% of docs, 64, 100k). An absolute default was a silent
    * scale trap (r7 "What's wrong #4": the old 5000 equaled the fixture
    * corpus size — a no-op there, quadratic pair-expansion on any denser
    * corpus). The bound rides a broadcast one-row aggregate, not a driver
    * action, so the plan stays a single lazy DAG. Worst-case pair volume is
    * then ≤ grams·(0.01·N)²/2 per stop-gram-free index row — linear in the
    * corpus for fixed gram-frequency shape rather than N². */
  def ngramJaccardPairs(df: DataFrame, idCol: String, textCol: String,
                        n: Int = 3, threshold: Double = 0.5,
                        maxPostings: Int = 0): DataFrame = {
    // The posting row carries the doc's gram count, so the pair step
    // reads |A| and |B| straight off the bucket structs — no join back
    // to a sizes relation (the gram count is doc-local metadata, and
    // one extra int per posting is far cheaper than two shuffled joins
    // against a per-doc side at 100 TB).
    val posting = df.select(col(idCol).as("id"),
        wordGramHashes(col(textCol), n).as("grams"))
      .filter(size(col("grams")) > 0)
      .select(col("id"), size(col("grams")).as("n"), explode(col("grams")).as("g"))
    // inverted index, bounded postings per gram (stop-gram removal)
    val indexBase = posting.groupBy(col("g"))
      .agg(collect_list(struct(col("id"), col("n"))).as("members"))
    val index =
      if (maxPostings > 0)
        indexBase.filter(size(col("members")).between(lit(2), lit(maxPostings)))
      else {
        // corpus-relative bound via a broadcast one-row count — no driver
        // action, the whole thing stays one lazy DAG
        val nDocs = df.filter(col(textCol).isNotNull)
          .agg(count(lit(1)).as("n_docs"))
        val bound = least(greatest(ceil(col("n_docs") * lit(0.01)), lit(64L)),
          lit(100000L)).cast("int")
        indexBase.crossJoin(broadcast(nDocs))
          .filter(size(col("members")).between(lit(2), bound))
      }
    index
      .select(explode(col("members")).as("a"), col("members"))
      .select(col("a"), explode(col("members")).as("b"))
      .filter(col("a.id") < col("b.id"))
      .groupBy(col("a.id").as("id_a"), col("a.n").as("na"),
        col("b.id").as("id_b"), col("b.n").as("nb"))
      .agg(count(lit(1)).as("inter"))
      .withColumn("jaccard", col("inter").cast(DoubleType) /
        (col("na") + col("nb") - col("inter")))
      .filter(col("jaccard") >= threshold)
      .select(col("id_a"), col("id_b"), col("jaccard"))
  }

  /**
   * Exact-substring dedup (Lee et al. 2022, "Deduplicating Training
   * Data Makes Language Models Better" — the ExactSubstr variant,
   * re-expressed relationally): any L-token window whose exact text
   * occurs elsewhere in the corpus EARLIER in (doc_id, position)
   * order is a duplicate; every token covered by a duplicate window
   * is dropped and the document rebuilt from the survivors. Docs
   * losing every token vanish (the C4 convention); intra-doc repeats
   * collapse too (a window repeated inside one doc keeps only its
   * first occurrence). Unlike [[spanDedup]]'s fixed non-overlapping
   * spans, sliding windows catch duplication at ARBITRARY offsets —
   * the suffix-array result at one 8-byte hash per token instead of
   * a corpus-wide sort.
   *
   * Scale shape: windows hash row-locally (native `word_grams` +
   * xxhash64 — window text never rides an exchange); three
   * corpus-volume shuffles (first-occurrence agg on the window hash,
   * the dup-window join back, one id-keyed exchange shared by the
   * coverage window AND the rebuild agg) — the honest relational cost
   * of ExactSubstr. Coverage is INTERVAL arithmetic, not a position
   * set: dup-window starts ride a per-doc running-max window
   * (`lastStart + L - 1 >= pos` ⟺ covered), so window length L never
   * multiplies row volume — the r10 plan exploded every dup window
   * into L positions and hash-distinct'ed them, a 30× row blowup at
   * L=30 whose dedup table was the query's contention/GC hot spot
   * (22× degradation on a busy host vs ~2× for its peers). The
   * running-max frame is streaming (sort-based, spillable, O(1)
   * state), and because the rebuild groups by the window's own
   * partition key, Catalyst reuses the exchange — no second id
   * shuffle and no separate n_total join. First-occurrence order
   * packs as doc_id·10^9 + pos: positions must stay under 10^9 tokens
   * per doc and ids under ~9.2·10^9 (both safe for real corpora).
   *
   * The output is REBUILT TEXT, so this xxhash64 path is directly
   * oracle-able (the boilerplate precedent): an oracle groups by the
   * window string itself — identical grouping absent collisions.
   */
  def exactSubstrDedup(docs: DataFrame, idCol: String, textCol: String,
                       windowTokens: Int = 50,
                       rollingFp: Boolean = false): DataFrame = {
    require(windowTokens >= 2, "windowTokens must be at least 2")
    graft.functions.Registry.ensure(org.apache.spark.sql.SparkSession.active)
    val live = docs.filter(col(textCol).isNotNull)
    def packed = col("id") * lit(1000000000L) + col("pos")
    val toks = live.select(col(idCol).cast("long").as("id"),
        posexplode(call_function("word_grams", col(textCol), lit(1), lit(1)))
          .as(Seq("pos0", "tok")))
      .select(col("id"), (col("pos0") + 1).as("pos"), col("tok"))
    // Window keys: `rollingFp = true` switches to the Rabin–Karp
    // per-position fingerprints ([[graft.expr.Fingerprints
    // .tokenWindowFp]]) — O(T) per doc instead of O(T·L) window-string
    // assembly, which is what makes LONG windows (hundreds of tokens,
    // the "50-token spans" of real training-data ExactSubstr) affordable:
    // window text never exists, not even row-locally. Same grouping
    // semantics modulo hash collisions (both key schemes are 64-bit).
    val wins =
      if (rollingFp)
        live.select(col(idCol).cast("long").as("id"),
            posexplode(call_function("token_window_fp_x64",
              col(textCol), lit(windowTokens))).as(Seq("pos0", "h")))
          .select(col("id"), (col("pos0") + 1).as("pos"), col("h"))
      else
        live.select(col(idCol).cast("long").as("id"),
            posexplode(call_function("word_grams", col(textCol), lit(windowTokens), lit(1)))
              .as(Seq("pos0", "w")))
          .select(col("id"), (col("pos0") + 1).as("pos"), xxhash64(col("w")).as("h"))
    val firsts = wins.groupBy(col("h")).agg(min(packed).as("first_key"))
    // Start positions of duplicate windows (each covers [pos, pos+L-1]).
    // One row per (id, pos) by construction — a position has one window.
    val dupStarts = wins.join(firsts, "h")
      .filter(packed =!= col("first_key"))
      .select(col("id"), col("pos"))
    // Interleave tokens with dup-window starts; per doc, in position
    // order (starts before the token at the same position — a window
    // starting AT p covers p), a running max of start positions tells
    // each token the latest dup window opening at or before it. The
    // token is covered iff that window reaches it.
    val tagged = toks.select(col("id"), col("pos"), col("tok"), lit(1).as("is_tok"))
      .unionByName(dupStarts.select(col("id"), col("pos"),
        lit(null).cast("string").as("tok"), lit(0).as("is_tok")))
    val byPos = Window.partitionBy(col("id")).orderBy(col("pos"), col("is_tok"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val marked = tagged
      .withColumn("_last_start", max(when(col("is_tok") === 0, col("pos"))).over(byPos))
      .filter(col("is_tok") === 1)
      .withColumn("_keep",
        col("_last_start").isNull || col("_last_start") + lit(windowTokens - 1) < col("pos"))
    // The groupBy key IS the window's partition key: the id exchange is
    // reused, so the rebuild (and n_total — counted in the same agg, no
    // join) adds zero shuffles. collect_list skips nulls, so the
    // un-kept branch of the `when` drops covered tokens from the text.
    marked.groupBy(col("id"))
      .agg(count(lit(1)).as("n_total"),
        sum(when(col("_keep"), 1L).otherwise(0L)).as("n_kept"),
        array_join(array_sort(collect_list(
          when(col("_keep"), struct(col("pos"), col("tok")))))
          .getField("tok"), " ").as("clean_text"))
      .filter(col("n_kept") > 0) // docs losing every token vanish (C4 convention)
      .withColumn("n_dropped", col("n_total") - col("n_kept"))
      .select(col("id").as(idCol), col("clean_text"), col("n_kept"), col("n_dropped"))
  }

  /**
   * Cross-source duplication report: joins near-dup PAIRS (from any
   * blocker above) back to each side's source and counts pairs per
   * unordered source pair, with the duplication rate in integer
   * micros against the maximum possible pair count — n_lo·n_hi across
   * two sources, n·(n−1)/2 within one. High cross-source rates
   * localize crawl overlap and mirror sites; high within-source rates
   * localize templated content. This is the report that decides WHERE
   * the dedup budget goes before committing a 100 TB pass.
   *
   * Scale shape: two id-joins attach sources to the band-bounded pair
   * set (pair volume ≪ corpus volume, AQE broadcasts the smaller
   * side); the report closes with one tiny (source_lo, source_hi)
   * agg and a broadcast join against the per-source doc counts. All
   * rates are INTEGRAL division on micro-scaled longs — exact in any
   * engine.
   */
  def crossSourceDupReport(pairs: DataFrame, docs: DataFrame, idCol: String,
                           sourceCol: String): DataFrame = {
    val src = docs.select(col(idCol).cast("long").as("_cs_id"), col(sourceCol).as("_cs_src"))
    val bySrc = pairs
      .join(src.select(col("_cs_id").as("_ida"), col("_cs_src").as("_sa")),
        col("id_a") === col("_ida"))
      .join(src.select(col("_cs_id").as("_idb"), col("_cs_src").as("_sb")),
        col("id_b") === col("_idb"))
      .select(least(col("_sa"), col("_sb")).as("source_lo"),
        greatest(col("_sa"), col("_sb")).as("source_hi"))
      .groupBy(col("source_lo"), col("source_hi"))
      .agg(count(lit(1)).as("n_dup_pairs"))
    val counts = docs.groupBy(col(sourceCol).as("_src")).agg(count(lit(1)).as("_n"))
    bySrc
      .join(counts.select(col("_src").as("_lo"), col("_n").as("n_lo")),
        col("source_lo") === col("_lo"))
      .join(counts.select(col("_src").as("_hi"), col("_n").as("n_hi")),
        col("source_hi") === col("_hi"))
      .withColumn("max_pairs",
        when(col("source_lo") === col("source_hi"), expr("n_lo * (n_lo - 1) div 2"))
          .otherwise(col("n_lo") * col("n_hi")))
      .withColumn("dup_rate_micro", expr("n_dup_pairs * 1000000 div max_pairs"))
      .select(col("source_lo"), col("source_hi"), col("n_dup_pairs"),
        col("max_pairs"), col("dup_rate_micro"))
  }

  /**
   * Edit-distance-1 near-dup pairs (typo/variant dedup on short keys:
   * names, titles, urls) via FastSS deletion-variant blocking
   * (Bocek 2007): two strings are within Levenshtein distance 1 IFF
   * they share a member of {s} ∪ {s minus one char} — substitution
   * deletes the differing position from both, insertion/deletion
   * deletes the extra char, equality shares s itself. So blocking is
   * EXACT for d=1, not a recall tradeoff: candidates sharing a hashed
   * variant bucket are verified with one real levenshtein call and
   * nothing outside a shared bucket can qualify.
   *
   * Scale shape: ~len+1 variants per string, each an 8-byte xxhash64
   * before the exchange (variant STRINGS never ride it; the short
   * source string does, making bucket rows ~(8B + key + string)); ONE
   * bucket shuffle + per-bucket pairing, pair-distinct, then the
   * levenshtein verify runs only on candidates. `maxBucketSize` is a
   * skew valve (a variant shared by >size strings — a near-constant
   * key column — is dropped with its pairs); at its default the
   * result is exactly the brute-force O(n²) pair set, which is what
   * the oracle computes.
   */
  def editDistancePairs(df: DataFrame, idCol: String, strCol: String,
                        maxBucketSize: Int = 100000): DataFrame = {
    val s = col("_eds")
    val del = transform(sequence(lit(1), length(s)), i =>
      xxhash64(concat(s.substr(lit(1), i - lit(1)), s.substr(i + lit(1), length(s)))))
    val variants = array_distinct(concat(array(xxhash64(s)),
      when(length(s) > 0, del).otherwise(array().cast("array<bigint>"))))
    val bucketed = df
      .select(col(idCol).cast("long").as("id"), col(strCol).as("_eds"))
      .filter(s.isNotNull)
      .select(col("id"), s, explode(variants).as("bucket"))
    val buckets = bucketed
      .groupBy(col("bucket"))
      .agg(collect_list(struct(col("id"), col("_eds").as("s"))).as("members"))
      .filter(size(col("members")).between(2, maxBucketSize))
    buckets.select(explode(col("members")).as("a"), col("members"))
      .select(col("a"), explode(col("members")).as("b"))
      .filter(col("a.id") < col("b.id"))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"),
        col("a.s").as("_sa"), col("b.s").as("_sb"))
      .distinct() // a pair can share several variant buckets
      // r16: ONE thresholded levenshtein per pair (was two unbounded
      // evaluations — filter + select don't share subexpressions across
      // operators). The threshold form computes O(len·k) instead of
      // O(len²) and returns the exact distance when it is ≤ k (so the
      // kept rows' `dist` is unchanged) and -1 otherwise (filtered).
      .select(col("id_a"), col("id_b"),
        levenshtein(col("_sa"), col("_sb"), 1).as("dist"))
      .filter(col("dist").between(0, 1))
  }

  /** LSH band keys (as strings) for a MinHash signature column:
    * band b's key is the rendered value slice when `portable` (the
    * DuckDB-reproducible form) or an xxhash64 of the slice otherwise
    * (8 bytes of entropy, the production form). */
  private[graft] def sigBandKeys(sig: Column, numHashes: Int, bands: Int,
                                 portable: Boolean): Column = {
    val rowsPerBand = numHashes / bands
    array((0 until bands).map { b =>
      val sl = slice(sig, b * rowsPerBand + 1, rowsPerBand)
      if (portable) array_join(transform(sl, _.cast(StringType)), ",")
      else xxhash64(sl).cast(StringType)
    }: _*)
  }

  /** Signature-agreement Jaccard estimate between two equal-length
    * MinHash signature columns. */
  private[graft] def sigAgreement(a: Column, b: Column, numHashes: Int): Column = {
    // native count (r16) — the aggregate(zip_with(...)) form ran
    // interpreted per-element lambdas on every candidate pair
    graft.functions.Registry.ensure(org.apache.spark.sql.SparkSession.active)
    call_function("sig_agree_count", a, b).cast(DoubleType) / numHashes
  }

  /**
   * Near-dup STATE carry-forward between corpus versions. The state
   * of a deduped corpus version is simply its MinHash signature
   * relation (id, sig) — 8·numHashes bytes per kept doc, no text —
   * produced by [[minhashSignatures]] (production) or
   * [[minhashPortableValues]] (oracle twin) and persisted as an
   * ordinary table. When corpus version N+1 lands, the NEW batch is
   * classified against that state without re-reading or re-shuffling
   * version N's text:
   *
   *   - `dup_of_ref`  — the new doc shares an LSH band bucket with a
   *     state doc and their signature agreement ≥ `threshold`;
   *     `match_id` = the smallest such reference id (deterministic).
   *   - `dup_of_new`  — it survives the reference screen but lands in
   *     a near-dup connected component among the surviving batch
   *     whose canonical (min id) is a different doc; `match_id` = the
   *     canonical id.
   *   - `kept`        — neither; `match_id` is null. The kept rows'
   *     signatures are exactly the state DELTA: state(N+1) =
   *     state(N) ∪ sigs(kept), so successive batches chain without
   *     ever touching old text (pair this with [[incrementalDedup]]
   *     for the exact-key screen).
   *
   * The two-phase contract (reference screen FIRST, then new-new
   * clustering among survivors): duplication is resolved against the
   * frozen reference before the batch is compared to itself, so a
   * batch doc near a ref doc can never become the canonical of a new
   * cluster. This is NOT always identical to one full-corpus CC pass
   * (a chain a–b–c where only b touches ref resolves differently) — it
   * is the incremental contract, stated, not an approximation error.
   *
   * Scale shape: banding is row-local on both sides; the ref screen
   * is one (band, bucket) equi-join bounded by `maxBucketSize` on the
   * REFERENCE bucket population (the boilerplate-bucket bound the
   * batch paths use), and the new-new phase is the standard banded
   * self-join + connected components on the candidate pairs. Nothing
   * data-sized crosses the exchange but (bucket key, id, signature).
   */
  def incrementalNearDupVerdicts(newSig: DataFrame, refSig: DataFrame,
                                 numHashes: Int, bands: Int,
                                 threshold: Double,
                                 maxBucketSize: Int = 1000,
                                 portableBuckets: Boolean = false): DataFrame = {
    require(numHashes % bands == 0, "numHashes must be divisible by bands")
    val bandNew = newSig.select(col("id"), col("sig"),
      posexplode(sigBandKeys(col("sig"), numHashes, bands, portableBuckets))
        .as(Seq("band", "bucket")))
    val bandRef = refSig.select(col("id").as("rid"), col("sig").as("rsig"),
      posexplode(sigBandKeys(col("sig"), numHashes, bands, portableBuckets))
        .as(Seq("band", "bucket")))
    val refSizes = bandRef.groupBy(col("band"), col("bucket"))
      .agg(count(lit(1)).as("_n"))
      .filter(col("_n") <= maxBucketSize)
      .select(col("band"), col("bucket"))
    val dupRef = bandNew
      .join(refSizes, Seq("band", "bucket")) // drops over-popular ref buckets
      .join(bandRef, Seq("band", "bucket"))
      .filter(sigAgreement(col("sig"), col("rsig"), numHashes) >= threshold)
      .groupBy(col("id")).agg(min(col("rid")).as("match_id"))
    val survivors = bandNew.join(dupRef.select(col("id")), Seq("id"), "left_anti")
    val newBuckets = survivors
      .groupBy(col("band"), col("bucket"))
      .agg(collect_list(struct(col("id"), col("sig"))).as("members"))
      .filter(size(col("members")).between(2, maxBucketSize))
    val newPairs = newBuckets
      .select(explode(col("members")).as("a"), col("members"))
      .select(col("a"), explode(col("members")).as("b"))
      .filter(col("a.id") < col("b.id"))
      .filter(sigAgreement(col("a.sig"), col("b.sig"), numHashes) >= threshold)
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"))
      .distinct()
    val comp = Clusters.connectedComponents(newPairs, "id_a", "id_b")
    val newIds = newSig.select(col("id")).distinct()
    newIds
      .join(dupRef.withColumnRenamed("match_id", "_ref_match"), Seq("id"), "left")
      .join(comp.withColumnRenamed("component", "_comp"), Seq("id"), "left")
      .withColumn("status",
        when(col("_ref_match").isNotNull, lit("dup_of_ref"))
          .when(col("_comp").isNotNull && col("_comp") =!= col("id"),
            lit("dup_of_new"))
          .otherwise(lit("kept")))
      .withColumn("match_id",
        when(col("_ref_match").isNotNull, col("_ref_match"))
          .when(col("_comp").isNotNull && col("_comp") =!= col("id"), col("_comp")))
      .select(col("id"), col("status"), col("match_id"))
  }

  /**
   * Versioned state chain for [[incrementalNearDupVerdicts]] across N
   * corpus versions. State schema: `(id, sig, version)` — each kept
   * doc's signature stamped with the batch version that admitted it.
   * One version's screen → verdicts → append → compact is
   * [[nearDupStep]]; the N-version chain is [[nearDupSteps]].
   *
   * [[nearDupStateAppend]] unions batch `version`'s kept signatures
   * into the state (no shuffle — a union of already-computed
   * relations). [[nearDupStateCompact]] keeps ONE row per id, highest
   * version wins: a doc id re-registered with NEW accepted content in
   * a later version supersedes its older signature — new batches then
   * screen against the content the corpus actually carries, not a
   * stale fingerprint — and the state's size stays bounded by the
   * number of distinct kept ids, not by the number of versions.
   * Contract note: a re-sent id whose new content resolves as a DUP
   * does not touch the state — state rows describe accepted content
   * only.
   *
   * Scale shape: compact is one id-keyed shuffle over the signature
   * relation (8·numHashes bytes per doc — state-sized, never
   * text-sized) with a WindowGroupLimit top-1 per id; at 100 TB the
   * state is the only relation that persists across versions, and
   * compaction amortizes to one pass per ingested batch.
   */
  def nearDupStateAppend(state: DataFrame, newSig: DataFrame,
                         verdicts: DataFrame, version: Int): DataFrame = {
    val kept = verdicts.filter(col("status") === "kept").select(col("id"))
    state.unionByName(
      newSig.join(kept, Seq("id"), "left_semi")
        .select(col("id"), col("sig"), lit(version).as("version")))
  }

  /** One state row per id — the highest (latest) version wins. */
  def nearDupStateCompact(state: DataFrame): DataFrame = {
    val w = Window.partitionBy(col("id")).orderBy(col("version").desc)
    state.withColumn("_rn", row_number().over(w))
      .filter(col("_rn") === 1)
      .drop("_rn")
  }

  /**
   * One corpus version of the incremental near-dup lifecycle: screen
   * `batchSig` (`(id, sig)`) against `state` (`(id, sig, version)`;
   * `None` = the first version, an empty state), then append the kept
   * signatures as `version` and compact ([[NearDupStep.next]]).
   *
   * A relation is materialized only where it has two or more
   * consumers, at a [[CachedRelations.parquetStage]] boundary. The
   * batch signatures always are: the screen reads them twice and the
   * append once. The verdicts are staged when [[NearDupStep.next]] is
   * forced, because the caller's read of them is then the second
   * consumer. A last batch whose next state nothing reads keeps its
   * verdicts lazy. The next state itself stays lazy: the caller
   * materializes it as it needs — a stage boundary before the next
   * step ([[nearDupSteps]]) or the committed `v<N>` write
   * ([[nearDupStateWrite]]).
   */
  def nearDupStep(state: Option[DataFrame], batchSig: DataFrame, version: Int,
                  numHashes: Int, bands: Int, threshold: Double,
                  maxBucketSize: Int = 1000,
                  portableBuckets: Boolean = false): NearDupStep = {
    val sig = CachedRelations.parquetStage(batchSig)
    val prev = state.getOrElse(
      sig.limit(0).select(col("id"), col("sig"), lit(0).as("version")))
    new NearDupStep(prev, sig, version, incrementalNearDupVerdicts(
      sig, prev.select("id", "sig"), numHashes, bands, threshold,
      maxBucketSize, portableBuckets))
  }

  /** The result of [[nearDupStep]]. Force [[next]] before reading
    * [[verdicts]] when both are needed, so that both share one stage. */
  final class NearDupStep private[Dedup] (state: DataFrame, sig: DataFrame,
                                          version: Int, screened: DataFrame) {
    private var staged: Option[DataFrame] = None

    /** The state after this version: one row per id, latest wins. */
    lazy val next: DataFrame = {
      val v = CachedRelations.parquetStage(screened)
      staged = Some(v)
      nearDupStateCompact(nearDupStateAppend(state, sig, v, version))
    }

    /** This batch's `(id, status, match_id)`. */
    def verdicts: DataFrame = staged.getOrElse(screened)
  }

  /** The N-version chain: a lazy fold of [[nearDupStep]] over
    * `batchSigs` (version = position). Taking a step stages the
    * previous step's next state, which the new step screens against;
    * the last step's next state is never built. */
  def nearDupSteps(batchSigs: Seq[DataFrame], numHashes: Int, bands: Int,
                   threshold: Double,
                   portableBuckets: Boolean = false): Iterator[NearDupStep] =
    batchSigs.iterator.zipWithIndex
      .scanLeft(Option.empty[NearDupStep]) { case (prev, (sig, version)) =>
        Some(nearDupStep(prev.map(p => CachedRelations.parquetStage(p.next)),
          sig, version, numHashes, bands, threshold, portableBuckets = portableBuckets))
      }
      .flatten

  /** Every step's verdicts, tagged with its `batch` position. All steps
    * are taken first, so each verdicts read sees its step's stage. */
  def nearDupChain(steps: IterableOnce[NearDupStep]): DataFrame =
    steps.iterator.toVector.zipWithIndex
      .map { case (s, b) => s.verdicts.withColumn("batch", lit(b)) }
      .reduce(_ unionByName _)

  /**
   * Versioned on-disk persistence for the incremental chain's state
   * (`(id, sig, version)` parquet). Each ingested version writes a NEW
   * immutable subdirectory `v<N>` and never mutates an earlier one —
   * crash-safe by construction (a failed write leaves at worst a
   * partial `v<N>` that the next attempt's overwrite replaces; readers
   * always resolve the highest COMMITTED version, i.e. one with a
   * `_SUCCESS` marker). Old versions are lineage; prune them like any
   * retention policy.
   */
  def nearDupStateLatest(spark: org.apache.spark.sql.SparkSession,
                         dir: String): Option[(Int, DataFrame)] = {
    val hPath = new org.apache.hadoop.fs.Path(dir)
    val fs = hPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(hPath)) return None
    val versionDirs = fs.listStatus(hPath).toSeq
      .filter(s => s.isDirectory && s.getPath.getName.matches("v\\d+"))
    val versions = versionDirs
      .filter(s => fs.exists(new org.apache.hadoop.fs.Path(s.getPath, "_SUCCESS")))
      .map(_.getPath.getName.drop(1).toInt)
    // version dirs exist but NONE carries the commit marker: either a
    // committer configured with marksuccessfuljobs=false (common on
    // S3A) or every write crashed pre-commit. Returning None here would
    // silently restart the chain at v0 and OVERWRITE it — quiet loss of
    // the dedup state lineage — so refuse and name the recovery.
    if (versions.isEmpty && versionDirs.nonEmpty)
      throw new IllegalStateException(
        s"near-dup state dir $dir has ${versionDirs.size} version dir(s) " +
          s"(${versionDirs.map(_.getPath.getName).sorted.mkString(", ")}) but none " +
          "with a _SUCCESS marker. If the committer runs with " +
          "mapreduce.fileoutputcommitter.marksuccessfuljobs=false, re-enable it for " +
          "the state dir; if a write crashed pre-commit, delete the partial v<N> " +
          "dir(s). Refusing to silently restart the state chain at v0.")
    if (versions.isEmpty) None
    else {
      val v = versions.max
      Some((v, spark.read.parquet(s"$dir/v$v")))
    }
  }

  /** Persist one compacted state version (see [[nearDupStateLatest]]). */
  def nearDupStateWrite(state: DataFrame, dir: String, version: Int): Unit =
    state.write.mode("overwrite").parquet(s"$dir/v$version")

  /** A banding choice for an n-hash signature: candidate probability
    * for a pair at Jaccard s is p(s) = 1 − (1 − s^r)^b; `midpoint` =
    * (1/b)^(1/r) is the S-curve's similarity of steepest ascent, where
    * p ≈ 1 − 1/e. */
  case class LshPlan(bands: Int, rowsPerBand: Int,
                     midpoint: Double, pAtThreshold: Double) {
    def candidateProb(s: Double): Double =
      1.0 - math.pow(1.0 - math.pow(s, rowsPerBand), bands)
  }

  /**
   * Choose (bands, rowsPerBand) for `numHashes` MinHash rows so the
   * LSH S-curve midpoint `(1/b)^(1/r)` lands closest to the target
   * near-dup `threshold` (the standard MMDS banding heuristic: pairs
   * above the midpoint are caught with probability > 1 − 1/e ≈ 0.63,
   * pairs well below it are mostly never candidates). Enumerates the
   * divisors of `numHashes`; ties break toward FEWER bands (fewer
   * bucket keys shuffled per doc). Driver-side arithmetic over ≤
   * d(numHashes) divisors — use it to pick the `bands` argument of
   * [[minhashNearDupPairs]] / [[incrementalNearDupVerdicts]] instead
   * of guessing.
   */
  def lshPlan(numHashes: Int, threshold: Double): LshPlan = {
    require(numHashes >= 1, "numHashes must be >= 1")
    require(threshold > 0 && threshold < 1, "threshold must be in (0, 1)")
    val candidates = (1 to numHashes).filter(numHashes % _ == 0).map { b =>
      val r = numHashes / b
      val mid = math.pow(1.0 / b, 1.0 / r)
      (math.abs(mid - threshold), b, r, mid)
    }
    val (_, b, r, mid) = candidates.minBy { case (d, b, _, _) => (d, b) }
    LshPlan(b, r, mid,
      1.0 - math.pow(1.0 - math.pow(threshold, r), b))
  }
}
