package graft.functions

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}
import graft.expr.{BloomBytesMightContain, KnUnitsExpr, LineStatsExpr, TextStatsExpr, MknUnitsExpr, TaggedGramsExpr, SigAgreeCount, HammingX64, GoFormatFloat, GoParseFloat, LshBuckets, MinhashSigX64, NfcNormalize, OphSigX64, PqAdc, PqCn2, PqEncode, RollingFpX64, TokenWindowFpX64, VecDot, VecDotInt8, WinnowFpX64, WordGramHashes, WordGrams}

/** Registers graft's native Catalyst expressions as SQL functions on a
  * session (callable via `call_function`/`expr`). Idempotent. The same
  * definition list backs [[graft.GraftExtensions]] (the
  * spark.sql.extensions injection path), so the two registration
  * routes can't drift. */
object Registry {

  private def asInt(e: Expression): Int = e.eval(null).asInstanceOf[Number].intValue

  /** Codebook arguments are driver-built array LITERALS evaluated once
    * at plan time — they become reference objects in the generated
    * code, never per-row expression trees. */
  private def asDoubles(e: Expression): Array[Double] =
    e.eval(null).asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData].toDoubleArray()

  /** Every graft SQL function: (identifier, info, builder). */
  val defs: Seq[(FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression)] = Seq(
    (FunctionIdentifier("vec_dot"),
      new ExpressionInfo(classOf[VecDot].getName, "vec_dot"),
      (children: Seq[Expression]) => VecDot(children(0), children(1))),
    (FunctionIdentifier("vec_dot_i8"),
      new ExpressionInfo(classOf[VecDotInt8].getName, "vec_dot_i8"),
      (children: Seq[Expression]) => VecDotInt8(children(0), children(1))),
    (FunctionIdentifier("pq_encode"),
      new ExpressionInfo(classOf[PqEncode].getName, "pq_encode"),
      (children: Seq[Expression]) =>
        PqEncode(children(0), asDoubles(children(1)), asInt(children(2)), asInt(children(3)))),
    (FunctionIdentifier("pq_adc"),
      new ExpressionInfo(classOf[PqAdc].getName, "pq_adc"),
      (children: Seq[Expression]) =>
        PqAdc(children(0), children(1), asDoubles(children(2)), asInt(children(3)), asInt(children(4)))),
    (FunctionIdentifier("pq_cn2"),
      new ExpressionInfo(classOf[PqCn2].getName, "pq_cn2"),
      (children: Seq[Expression]) =>
        PqCn2(children(0), asDoubles(children(1)), asInt(children(2)))),
    (FunctionIdentifier("nfc"),
      new ExpressionInfo(classOf[NfcNormalize].getName, "nfc"),
      (children: Seq[Expression]) => NfcNormalize(children.head)),
    // NFKC: compatibility composition — folds width variants,
    // ligatures, and super/subscripts the canonical form keeps apart
    // (ﬁ -> fi, ４２ -> 42); the aggressive dedup-canonicalization mode
    (FunctionIdentifier("nfkc"),
      new ExpressionInfo(classOf[NfcNormalize].getName, "nfkc"),
      (children: Seq[Expression]) => NfcNormalize(children.head, "NFKC")),
    (FunctionIdentifier("go_format_float"),
      new ExpressionInfo(classOf[GoFormatFloat].getName, "go_format_float"),
      (children: Seq[Expression]) => GoFormatFloat(children.head)),
    (FunctionIdentifier("go_parse_float"),
      new ExpressionInfo(classOf[GoParseFloat].getName, "go_parse_float"),
      (children: Seq[Expression]) => GoParseFloat(children.head)),
    (FunctionIdentifier("lsh_buckets"),
      new ExpressionInfo(classOf[LshBuckets].getName, "lsh_buckets"),
      (children: Seq[Expression]) =>
        LshBuckets(children(0), asInt(children(1)), asInt(children(2)), asInt(children(3)))),
    (FunctionIdentifier("minhash_sig_x64"),
      new ExpressionInfo(classOf[MinhashSigX64].getName, "minhash_sig_x64"),
      (children: Seq[Expression]) =>
        MinhashSigX64(children(0), asInt(children(1)), asInt(children(2)))),
    (FunctionIdentifier("oph_sig_x64"),
      new ExpressionInfo(classOf[OphSigX64].getName, "oph_sig_x64"),
      (children: Seq[Expression]) =>
        OphSigX64(children(0), asInt(children(1)), asInt(children(2)))),
    (FunctionIdentifier("rolling_fp_x64"),
      new ExpressionInfo(classOf[RollingFpX64].getName, "rolling_fp_x64"),
      (children: Seq[Expression]) =>
        RollingFpX64(children(0), asInt(children(1)), asInt(children(2)))),
    (FunctionIdentifier("winnow_fp_x64"),
      new ExpressionInfo(classOf[WinnowFpX64].getName, "winnow_fp_x64"),
      (children: Seq[Expression]) =>
        WinnowFpX64(children(0), asInt(children(1)), asInt(children(2)))),
    (FunctionIdentifier("word_grams"),
      new ExpressionInfo(classOf[WordGrams].getName, "word_grams"),
      (children: Seq[Expression]) =>
        WordGrams(children(0), asInt(children(1)),
          if (children.length > 2) asInt(children(2)) else 1)),
    (FunctionIdentifier("word_gram_hashes"),
      new ExpressionInfo(classOf[WordGramHashes].getName, "word_gram_hashes"),
      (children: Seq[Expression]) =>
        WordGramHashes(children(0), asInt(children(1)))),
    (FunctionIdentifier("token_window_fp_x64"),
      new ExpressionInfo(classOf[TokenWindowFpX64].getName, "token_window_fp_x64"),
      (children: Seq[Expression]) =>
        TokenWindowFpX64(children(0), asInt(children(1)))),
    (FunctionIdentifier("bloom_bytes_might_contain"),
      new ExpressionInfo(classOf[BloomBytesMightContain].getName, "bloom_bytes_might_contain"),
      (children: Seq[Expression]) =>
        BloomBytesMightContain(children(0), children(1))),
    (FunctionIdentifier("tagged_grams"),
      new ExpressionInfo(classOf[TaggedGramsExpr].getName, "tagged_grams"),
      (children: Seq[Expression]) =>
        TaggedGramsExpr(children(0), asInt(children(1)) != 0)),
    (FunctionIdentifier("mkn_units"),
      new ExpressionInfo(classOf[MknUnitsExpr].getName, "mkn_units"),
      (children: Seq[Expression]) =>
        MknUnitsExpr(children(0), asInt(children(1)) != 0)),
    (FunctionIdentifier("kn_units"),
      new ExpressionInfo(classOf[KnUnitsExpr].getName, "kn_units"),
      (children: Seq[Expression]) => KnUnitsExpr(children(0))),
    (FunctionIdentifier("sig_agree_count"),
      new ExpressionInfo(classOf[SigAgreeCount].getName, "sig_agree_count"),
      (children: Seq[Expression]) => SigAgreeCount(children(0), children(1))),
    (FunctionIdentifier("hamming_x64"),
      new ExpressionInfo(classOf[HammingX64].getName, "hamming_x64"),
      (children: Seq[Expression]) => HammingX64(children(0), children(1))),
    (FunctionIdentifier("line_stats"),
      new ExpressionInfo(classOf[LineStatsExpr].getName, "line_stats"),
      (children: Seq[Expression]) => LineStatsExpr(children(0))),
    (FunctionIdentifier("text_stats"),
      new ExpressionInfo(classOf[TextStatsExpr].getName, "text_stats"),
      (children: Seq[Expression]) => TextStatsExpr(children(0))))

  private val registered = java.util.Collections.newSetFromMap(
    new java.util.concurrent.ConcurrentHashMap[String, java.lang.Boolean]())

  def ensure(spark: SparkSession): Unit = {
    val key = System.identityHashCode(spark).toString
    if (!registered.add(key)) return
    val reg = spark.sessionState.functionRegistry
    defs.foreach { case (id, info, builder) => reg.registerFunction(id, info, builder) }
  }

  /** Membership predicate for a concrete bloom sketch, built directly
    * as a Column (the sketch is a runtime object, so a name-only
    * registration can't express it; registering a UUID-named function
    * per call would leak the sketch into the session FunctionRegistry
    * for the session's lifetime). */
  def bloomColumn(hash: org.apache.spark.sql.Column,
                  bloom: org.apache.spark.util.sketch.BloomFilter): org.apache.spark.sql.Column =
    org.apache.spark.sql.graft.ColumnBridge.column(
      graft.expr.BloomMightContain(
        org.apache.spark.sql.graft.ColumnBridge.expression(hash), bloom))

  /** Evaluation barrier around an EXPENSIVE interpreted Column: value-
    * transparent, but the optimizer may not duplicate it into
    * consumers or pushed filters — see [[graft.expr.EvalBarrier]].
    * The wrapped column must itself be deterministic. */
  def barrier(c: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    org.apache.spark.sql.graft.ColumnBridge.column(
      graft.expr.EvalBarrier(
        org.apache.spark.sql.graft.ColumnBridge.expression(c)))
}
