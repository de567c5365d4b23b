package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.compile.PipelineCompiler
import graft.config.PlaybookLoader

/**
 * Playbook-compiled queries: each one is a YAML config string — the
 * exact text a user would put in a file and run through `cli.Main` —
 * loaded by [[PlaybookLoader]], compiled by [[PipelineCompiler]]
 * (including the `analytics:` stage chain, SURVEY §7 phase E), and
 * graded against the SAME DuckDB oracles as the Scala-API queries.
 * This pins the whole config surface end to end: YAML parse →
 * validation → stage compile → identical results to the hand-built
 * plans. The reference's identity is config-driven
 * (/root/reference/internal/config/types.go:39-64); these queries
 * prove the north-star analytics surface is too.
 *
 * A face that is a result-twin of a registered plan, and every
 * `_check` that runs the config path beside its API twin, passes
 * `benched = false`: the playbook adds a YAML parse, not a new plan.
 * Faces that are NEW plans (join_agg, window, zorder, ppl, …) are
 * benched.
 */
object PlaybookQueries {

  private def run(s: SparkSession, yaml: String): DataFrame =
    PipelineCompiler.compile(s, PlaybookLoader.fromString(yaml)).main

  /** The oracled Scala-API twin's own oracle — playbook faces are
    * result-twins by construction, so sharing the string guarantees
    * the two stay pinned to the SAME contract. (Searches the two
    * independent registries directly — going through Queries.all
    * would be a circular object initialization, since this list is
    * part of it.) */
  private def oracleOf(name: String): Option[String] =
    (LlmQueries.all.iterator ++ AnalyticsQueries.all.iterator)
      .find(_.name == name).flatMap(_.oracle)

  /** The registered twin's own plan function — the `_check` queries
    * compare the config path against EXACTLY the graded API query, not
    * a restatement of it. */
  private def twinFn(name: String): (SparkSession, String) => DataFrame =
    (LlmQueries.all.iterator ++ AnalyticsQueries.all.iterator)
      .find(_.name == name)
      .getOrElse(throw new IllegalStateException(s"no registered twin $name")).fn

  /** Shared YAML for q_playbook_ann and its equivalence check — one
    * string, so the two can never drift apart. Params mirror
    * q_llm_ann_ivf's operating point exactly. */
  private def annYaml(dir: String): String = s"""
    |source:
    |  type: parquet
    |  file: $dir/embeddings.parquet
    |destination:
    |  type: parquet
    |  file: /tmp/graft_playbook_unused
    |analytics:
    |  - op: ann_topk
    |    idCol: vec_id
    |    vecCol: embedding
    |    vecDims: 64
    |    k: 3
    |    method: ivf
    |    nlist: 16
    |    nprobe: 8
    |""".stripMargin

  /** Shared YAML for q_playbook_bpe and its equivalence check; params
    * mirror q_llm_bpe_fertility (40 merges, iterative encoder). */
  private def bpeYaml(dir: String): String = s"""
    |source:
    |  type: parquet
    |  file: $dir/documents.parquet
    |destination:
    |  type: parquet
    |  file: /tmp/graft_playbook_unused
    |analytics:
    |  - op: bpe_fertility
    |    textCol: text
    |    sourceCol: source
    |    numMerges: 40
    |""".stripMargin

  private def unigramYaml(dir: String): String = s"""
    |source:
    |  type: parquet
    |  file: $dir/documents.parquet
    |destination:
    |  type: parquet
    |  file: /tmp/graft_playbook_unused
    |analytics:
    |  - op: unigram_fertility
    |    textCol: text
    |    sourceCol: source
    |    vocabSize: 300
    |    emIters: 3
    |""".stripMargin

  private def wordpieceYaml(dir: String): String = s"""
    |source:
    |  type: parquet
    |  file: $dir/documents.parquet
    |destination:
    |  type: parquet
    |  file: /tmp/graft_playbook_unused
    |analytics:
    |  - op: wordpiece_fertility
    |    textCol: text
    |    sourceCol: source
    |    numMerges: 40
    |""".stripMargin

  private def pplYaml(dir: String): String = s"""
    |source:
    |  type: parquet
    |  file: $dir/documents.parquet
    |destination:
    |  type: parquet
    |  file: /tmp/graft_playbook_unused
    |analytics:
    |  - op: ppl_partition
    |    idCol: doc_id
    |    textCol: text
    |    sourceCol: source
    |""".stripMargin

  /** The messy-URL synthesis restated as a Spark SQL `derive` expr —
    * byte-identical to [[LlmQueries.synthUrl]] and the oracle CTE. */
  private val synthUrlSql: String =
    "CASE CAST(doc_id % 5 AS INT) " +
      "WHEN 0 THEN concat('HTTP://WWW.Site', CAST(doc_id % 3 AS STRING), '.Example.COM:80/A/b/?utm_source=x&b=2&a=1#frag') " +
      "WHEN 1 THEN concat('https://Site', CAST(doc_id % 3 AS STRING), '.example.com:443/A/b?a=1&b=2') " +
      "WHEN 2 THEN 'ftp://files.Example.org:80/x/' " +
      "WHEN 3 THEN concat('http://u:p@WWW.Site', CAST(doc_id % 3 AS STRING), '.example.com:8080/x/') " +
      "ELSE concat('not a url ', CAST(doc_id % 3 AS STRING)) END"

  val all: Seq[Q] = Seq(

    // The corpus-cleaning chain driven entirely from config — same
    // params as q_llm_corpus_clean_md5, same oracle.
    // Not benched: result-twin of q_llm_corpus_clean_md5; the YAML adds a parse, not a plan.
    Q("q_playbook_corpus_clean",
      (s, dir) => run(s, s"""
        |source:
        |  type: parquet
        |  file: $dir/documents.parquet
        |destination:
        |  type: parquet
        |  file: /tmp/graft_playbook_unused
        |analytics:
        |  - op: corpus_clean
        |    idCol: doc_id
        |    textCol: text
        |    minQuality: 0.2
        |    threshold: 0.5
        |    portableHashing: true
        |""".stripMargin),
      Some(LlmOracles.corpusCleanMd5), benched = false),

    // Per-(source, lang) data card from config — q_llm_datasheet's oracle.
    // Not benched: result-twin of q_llm_datasheet; the YAML adds a parse, not a plan.
    Q("q_playbook_datasheet",
      (s, dir) => run(s, s"""
        |source:
        |  type: parquet
        |  file: $dir/documents.parquet
        |destination:
        |  type: parquet
        |  file: /tmp/graft_playbook_unused
        |analytics:
        |  - op: datasheet
        |    sourceCol: source
        |    langCol: lang
        |    textCol: text
        |""".stripMargin),
      Some(LlmOracles.datasheet), benched = false),

    // derive (SQL expression) -> canonical-URL dedup verdicts, all from
    // config — q_llm_url_dedup's oracle.
    // Not benched: result-twin of q_llm_url_dedup; the YAML adds a parse, not a plan.
    Q("q_playbook_url_dedup",
      (s, dir) => run(s, s"""
        |source:
        |  type: parquet
        |  file: $dir/documents.parquet
        |destination:
        |  type: parquet
        |  file: /tmp/graft_playbook_unused
        |analytics:
        |  - op: derive
        |    target: url
        |    expr: "$synthUrlSql"
        |  - op: url_dedup
        |    idCol: doc_id
        |    urlCol: url
        |    mode: verdicts
        |""".stripMargin),
      Some(LlmOracles.urlDedup), benched = false),

    // The generic relational stages: where -> derive -> broadcast join
    // -> grouped aggregate, a classic dim-join rollup from config.
    Q("q_playbook_join_agg",
      (s, dir) => run(s, s"""
        |source:
        |  type: parquet
        |  file: $dir/orders.parquet
        |destination:
        |  type: parquet
        |  file: /tmp/graft_playbook_unused
        |analytics:
        |  - op: where
        |    condition: "o_orderstatus = 'O'"
        |  - op: derive
        |    target: c_custkey
        |    expr: o_custkey
        |  - op: join
        |    type: parquet
        |    file: $dir/customer.parquet
        |    keys: [c_custkey]
        |    broadcast: true
        |  - op: aggregate
        |    groupBy: [c_mktsegment]
        |    aggs:
        |      n_orders: "COUNT(*)"
        |      total_price: "CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE)"
        |""".stripMargin),
      Some("""SELECT c_mktsegment, COUNT(*) AS n_orders,
        CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) AS total_price
        FROM orders JOIN customer ON o_custkey = c_custkey
        WHERE o_orderstatus = 'O'
        GROUP BY c_mktsegment""")),

    // Deterministic train/val/test split + rollup from config — the
    // same md5 hash-bucket contract as q_llm_split, same oracle shape.
    // Not benched: result-twin of q_llm_split; the YAML adds a parse, not a plan.
    Q("q_playbook_split",
      (s, dir) => run(s, s"""
        |source:
        |  type: parquet
        |  file: $dir/documents.parquet
        |destination:
        |  type: parquet
        |  file: /tmp/graft_playbook_unused
        |analytics:
        |  - op: select
        |    cols: [doc_id, lang]
        |  - op: split
        |    keyCol: doc_id
        |  - op: aggregate
        |    groupBy: [split, lang]
        |    aggs:
        |      n: "COUNT(*)"
        |""".stripMargin),
      Some("""WITH b AS (SELECT doc_id, lang,
          ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT % 100 AS bucket
          FROM documents)
        SELECT CASE WHEN bucket < 90 THEN 'train'
                    WHEN bucket < 95 THEN 'val'
                    ELSE 'test' END AS split, lang, COUNT(*) AS n
        FROM b GROUP BY 1, 2"""), benched = false),

    // Window functions from config: top line per order by quantity —
    // the "windows exposed in the playbook schema" promise, verified.
    Q("q_playbook_window",
      (s, dir) => run(s, s"""
        |source:
        |  type: parquet
        |  file: $dir/lineitem.parquet
        |destination:
        |  type: parquet
        |  file: /tmp/graft_playbook_unused
        |analytics:
        |  - op: derive
        |    target: qty_rank
        |    expr: "row_number() OVER (PARTITION BY l_orderkey ORDER BY l_quantity DESC, l_linenumber)"
        |  - op: where
        |    condition: "qty_rank = 1"
        |  - op: select
        |    cols: [l_orderkey, l_linenumber, l_quantity, qty_rank]
        |""".stripMargin),
      Some("""SELECT l_orderkey, l_linenumber, l_quantity,
        CAST(qty_rank AS INT) AS qty_rank FROM (
          SELECT l_orderkey, l_linenumber, l_quantity,
            row_number() OVER (PARTITION BY l_orderkey
              ORDER BY l_quantity DESC, l_linenumber) AS qty_rank
          FROM lineitem) t
        WHERE qty_rank = 1""")),

    // Daily gap-fill resample from config — q_resample_daily's oracle.
    // Result-twin of the benched Scala-API plan (the YAML adds a
    // parse); excluded from the bench with the other twins.
    Q("q_playbook_resample",
      (s, dir) => run(s, s"""
        |source:
        |  type: parquet
        |  file: $dir/events.parquet
        |destination:
        |  type: parquet
        |  file: /tmp/graft_playbook_unused
        |analytics:
        |  - op: resample
        |    keys: [user_id]
        |    tsCol: ts
        |    valueCol: value
        |    stepSeconds: 86400
        |""".stripMargin),
      Some(AnalyticsQueries.resampleDailyOracle), benched = false),

    // Data contracts from config: the same 7-rule report as
    // q_expectations, declared in YAML (incl. a cross-source
    // ref_integrity rule). Result-twin — bench-excluded.
    Q("q_playbook_expect",
      (s, dir) => run(s, s"""
        |source:
        |  type: parquet
        |  file: $dir/lineitem.parquet
        |destination:
        |  type: parquet
        |  file: /tmp/graft_playbook_unused
        |analytics:
        |  - op: expect
        |    rules:
        |      - type: not_null
        |        col: l_orderkey
        |      - type: in_range
        |        col: l_quantity
        |        lo: 1.0
        |        hi: 30.0
        |      - type: accepted_values
        |        col: l_returnflag
        |        values: [A, N, R]
        |      - type: matches_regex
        |        col: l_linestatus
        |        regex: "^[OF]$$"
        |      - type: satisfies
        |        predicate: "l_extendedprice >= 0"
        |        name: nonneg_price
        |      - type: unique
        |        cols: [l_orderkey, l_linenumber]
        |      - type: ref_integrity
        |        col: l_orderkey
        |        refType: parquet
        |        refFile: $dir/orders.parquet
        |        refCol: o_orderkey
        |""".stripMargin),
      Some(AnalyticsQueries.expectationsOracle), benched = false),

    // Gopher quality rules from config — q_llm_gopher_rules' oracle,
    // default thresholds. Result-twin — bench-excluded.
    Q("q_playbook_gopher",
      (s, dir) => run(s, s"""
        |source:
        |  type: parquet
        |  file: $dir/documents.parquet
        |destination:
        |  type: parquet
        |  file: /tmp/graft_playbook_unused
        |analytics:
        |  - op: gopher_rules
        |    idCol: doc_id
        |    textCol: text
        |""".stripMargin),
      oracleOf("q_llm_gopher_rules"), benched = false),

    // PII redaction from config: the deterministic PII injection is a
    // `derive` SQL stage (same string the Scala twin builds), then
    // pii_redact into `clean` — q_llm_redact_pii's oracle.
    // Not benched: result-twin of q_llm_redact_pii; the YAML adds a parse, not a plan.
    Q("q_playbook_pii",
      (s, dir) => run(s, s"""
        |source:
        |  type: parquet
        |  file: $dir/documents.parquet
        |destination:
        |  type: parquet
        |  file: /tmp/graft_playbook_unused
        |analytics:
        |  - op: derive
        |    target: injected
        |    expr: "concat(text, ' contact user', CAST(doc_id AS STRING), '@example.com or 555.123.4567 id 123-45-', lpad(CAST(pmod(doc_id, 10000) AS STRING), 4, '0'))"
        |  - op: pii_redact
        |    textCol: injected
        |    target: clean
        |  - op: select
        |    cols: [doc_id, clean]
        |""".stripMargin),
      oracleOf("q_llm_redact_pii"), benched = false),

    // Benchmark decontamination from config: the corpus/benchmark
    // split is a `where` stage + `refWhere` on the SAME file —
    // q_llm_decontaminate's oracle (flags, 3-grams, minOverlap 2).
    // Not benched: result-twin of q_llm_decontaminate; the YAML adds a parse, not a plan.
    Q("q_playbook_decontam",
      (s, dir) => run(s, s"""
        |source:
        |  type: parquet
        |  file: $dir/documents.parquet
        |destination:
        |  type: parquet
        |  file: /tmp/graft_playbook_unused
        |analytics:
        |  - op: where
        |    condition: "doc_id % 97 <> 0"
        |  - op: decontaminate
        |    idCol: doc_id
        |    textCol: text
        |    refType: parquet
        |    refFile: $dir/documents.parquet
        |    refWhere: "doc_id % 97 = 0"
        |    n: 3
        |    minOverlap: 2
        |""".stripMargin),
      oracleOf("q_llm_decontaminate"), benched = false),

    // DSIR importance weights from config (md5-portable face) —
    // q_llm_dsir_md5's oracle: src0 is the target distribution.
    // Not benched: result-twin of q_llm_dsir_md5; the YAML adds a parse, not a plan.
    Q("q_playbook_dsir",
      (s, dir) => run(s, s"""
        |source:
        |  type: parquet
        |  file: $dir/documents.parquet
        |destination:
        |  type: parquet
        |  file: /tmp/graft_playbook_unused
        |analytics:
        |  - op: where
        |    condition: "source <> 'src0'"
        |  - op: dsir_weight
        |    idCol: doc_id
        |    textCol: text
        |    refType: parquet
        |    refFile: $dir/documents.parquet
        |    refWhere: "source = 'src0'"
        |    portableHashing: true
        |""".stripMargin),
      oracleOf("q_llm_dsir_md5"), benched = false),

    // Sequence packing from config — q_llm_pack_windows' oracle
    // (2048-token windows, 16 shards).
    // Not benched: result-twin of q_llm_pack_windows; the YAML adds a parse, not a plan.
    Q("q_playbook_pack",
      (s, dir) => run(s, s"""
        |source:
        |  type: parquet
        |  file: $dir/documents.parquet
        |destination:
        |  type: parquet
        |  file: /tmp/graft_playbook_unused
        |analytics:
        |  - op: pack_windows
        |    idCol: doc_id
        |    textCol: text
        |    capacity: 2048
        |    shards: 16
        |""".stripMargin),
      oracleOf("q_llm_pack_windows"), benched = false),

    // Long-document chunking from config — q_llm_chunk's oracle
    // (20-token chunks, 4-token overlap).
    // Not benched: result-twin of q_llm_chunk; the YAML adds a parse, not a plan.
    Q("q_playbook_chunk",
      (s, dir) => run(s, s"""
        |source:
        |  type: parquet
        |  file: $dir/documents.parquet
        |destination:
        |  type: parquet
        |  file: /tmp/graft_playbook_unused
        |analytics:
        |  - op: chunk_docs
        |    idCol: doc_id
        |    textCol: text
        |    chunkTokens: 20
        |    overlap: 4
        |""".stripMargin),
      oracleOf("q_llm_chunk"), benched = false),

    // Length-bucketed batches from config — q_llm_length_batches'
    // oracle (batchSize 8, 16 shards).
    // Not benched: result-twin of q_llm_length_batches; the YAML adds a parse, not a plan.
    Q("q_playbook_length_batches",
      (s, dir) => run(s, s"""
        |source:
        |  type: parquet
        |  file: $dir/documents.parquet
        |destination:
        |  type: parquet
        |  file: /tmp/graft_playbook_unused
        |analytics:
        |  - op: length_batches
        |    idCol: doc_id
        |    textCol: text
        |    batchSize: 8
        |    shards: 16
        |""".stripMargin),
      oracleOf("q_llm_length_batches"), benched = false),

    // IVF ANN from config over the embeddings table — result-twin of
    // q_llm_ann_ivf (rows-only: the k-means cells are engine-local;
    // the operating point's recall is RecallCheck-pinned on the twin,
    // and q_playbook_ann_check pins config-path ≡ API-path exactly).
    // Not benched: result-twin of q_llm_ann_ivf; the YAML adds a parse, not a plan.
    Q("q_playbook_ann", (s, dir) => run(s, annYaml(dir)), None, benched = false),

    // Engine-internal equivalence oracle for the config path: the
    // playbook-compiled ann_topk stage must produce EXACTLY the rows of
    // its direct-API twin (same seeded k-means, same probes, same
    // deterministic (cos desc, nid) tie-break) — one full-outer join on
    // (qid, rank), zero tolerance on neighbor ids, 1e-9 on the score.
    // The oracle pins the verdict: every embedding row appears as a
    // query and not one (qid, rank) slot disagrees.
    // Not benched: runs the op twice (config path, API twin) only to compare.
    Q("q_playbook_ann_check",
      (s, dir) => {
        val pb = run(s, annYaml(dir))
          .select(col("qid"), col("rank"),
            col("nid").as("p_nid"), col("cos").as("p_cos"))
        val api = twinFn("q_llm_ann_ivf")(s, dir)
          .select(col("qid"), col("rank"),
            col("nid").as("a_nid"), col("cos").as("a_cos"))
        pb.join(api, Seq("qid", "rank"), "full_outer")
          .agg(
            countDistinct(when(col("p_nid").isNotNull, col("qid"))).as("n_queries"),
            sum(when(col("p_nid").isNull || col("a_nid").isNull ||
                col("p_nid") =!= col("a_nid") ||
                abs(col("p_cos") - col("a_cos")) > 1e-9, 1L)
              .otherwise(0L)).as("n_mismatch"))
      },
      Some("""SELECT (SELECT COUNT(*) FROM embeddings) AS n_queries,
        CAST(0 AS BIGINT) AS n_mismatch"""), benched = false),

    // BPE fertility from config — result-twin of q_llm_bpe_fertility
    // (rows-only: iterative merge application; the trainer and encoder
    // are spec-pinned on closed forms in TokenizerSpec/BpeEncodeSpec,
    // and q_playbook_bpe_check pins config-path ≡ API-path exactly).
    // Not benched: result-twin of q_llm_bpe_fertility; the YAML adds a parse, not a plan.
    Q("q_playbook_bpe", (s, dir) => run(s, bpeYaml(dir)), None, benched = false),

    // Engine-internal equivalence oracle for the config path: the
    // playbook-compiled bpe_fertility stage (train + encode + report)
    // must match its direct-API twin row for row — all five per-source
    // counters are integer-exact, so the compare is zero-tolerance.
    // Not benched: runs the op twice (config path, API twin) only to compare.
    Q("q_playbook_bpe_check",
      (s, dir) => {
        val metrics = Seq("n_words", "n_tokens", "n_chars",
          "fertility_micro", "chars_per_token_micro")
        val pb = run(s, bpeYaml(dir)).select(col("source") +:
          metrics.map(m => col(m).as(s"p_$m")): _*)
        val api = twinFn("q_llm_bpe_fertility")(s, dir).select(col("source") +:
          metrics.map(m => col(m).as(s"a_$m")): _*)
        val diff = metrics
          .map(m => col(s"p_$m").isNull || col(s"a_$m").isNull ||
            col(s"p_$m") =!= col(s"a_$m"))
          .reduce(_ || _)
        pb.join(api, Seq("source"), "full_outer")
          .agg(
            countDistinct(when(col("p_n_words").isNotNull, col("source"))).as("n_sources"),
            sum(when(diff, 1L).otherwise(0L)).as("n_mismatch"))
      },
      Some("""SELECT (SELECT COUNT(DISTINCT source) FROM documents
          WHERE text IS NOT NULL) AS n_sources,
        CAST(0 AS BIGINT) AS n_mismatch"""), benched = false),

    // Unigram-LM fertility from config (r12 family twin of
    // q_llm_unigram_fertility — EM training is iterative, so rows-only;
    // the _check below pins config-path ≡ API-path exactly).
    // Not benched: result-twin of q_llm_unigram_fertility; the YAML adds a parse, not a plan.
    Q("q_playbook_unigram", (s, dir) => run(s, unigramYaml(dir)), None, benched = false),

    // Engine-internal equivalence oracle for the config path: the
    // playbook-compiled unigram_fertility stage (EM train + Viterbi +
    // report) must match its direct-API twin row for row — all five
    // per-source counters are integer-exact, zero-tolerance compare.
    // Not benched: runs the op twice (config path, API twin) only to compare.
    Q("q_playbook_unigram_check",
      (s, dir) => {
        val metrics = Seq("n_words", "n_tokens", "n_chars",
          "fertility_micro", "chars_per_token_micro")
        val pb = run(s, unigramYaml(dir)).select(col("source") +:
          metrics.map(m => col(m).as(s"p_$m")): _*)
        val api = twinFn("q_llm_unigram_fertility")(s, dir).select(col("source") +:
          metrics.map(m => col(m).as(s"a_$m")): _*)
        val diff = metrics
          .map(m => col(s"p_$m").isNull || col(s"a_$m").isNull ||
            col(s"p_$m") =!= col(s"a_$m"))
          .reduce(_ || _)
        pb.join(api, Seq("source"), "full_outer")
          .agg(
            countDistinct(when(col("p_n_words").isNotNull, col("source"))).as("n_sources"),
            sum(when(diff, 1L).otherwise(0L)).as("n_mismatch"))
      },
      Some("""SELECT (SELECT COUNT(DISTINCT source) FROM documents
          WHERE text IS NOT NULL) AS n_sources,
        CAST(0 AS BIGINT) AS n_mismatch"""), benched = false),

    // WordPiece fertility from config (family twin of
    // q_llm_wordpiece_fertility — score-driven merge training is
    // iterative, so rows-only; the _check below pins config-path ≡
    // API-path exactly).
    // Not benched: result-twin of q_llm_wordpiece_fertility; the YAML adds a parse, not a plan.
    Q("q_playbook_wordpiece", (s, dir) => run(s, wordpieceYaml(dir)), None, benched = false),

    // Engine-internal equivalence oracle for the config path: the
    // playbook-compiled wordpiece_fertility stage (train + greedy
    // encode + report) must match its direct-API twin row for row —
    // all six per-source counters are integer-exact, zero-tolerance.
    // Not benched: runs the op twice (config path, API twin) only to compare.
    Q("q_playbook_wordpiece_check",
      (s, dir) => {
        val metrics = Seq("n_words", "n_tokens", "n_chars", "unk_words",
          "fertility_micro", "chars_per_token_micro")
        val pb = run(s, wordpieceYaml(dir)).select(col("source") +:
          metrics.map(m => col(m).as(s"p_$m")): _*)
        val api = twinFn("q_llm_wordpiece_fertility")(s, dir).select(col("source") +:
          metrics.map(m => col(m).as(s"a_$m")): _*)
        val diff = metrics
          .map(m => col(s"p_$m").isNull || col(s"a_$m").isNull ||
            col(s"p_$m") =!= col(s"a_$m"))
          .reduce(_ || _)
        pb.join(api, Seq("source"), "full_outer")
          .agg(
            countDistinct(when(col("p_n_words").isNotNull, col("source"))).as("n_sources"),
            sum(when(diff, 1L).otherwise(0L)).as("n_mismatch"))
      },
      Some("""SELECT (SELECT COUNT(DISTINCT source) FROM documents
          WHERE text IS NOT NULL) AS n_sources,
        CAST(0 AS BIGINT) AS n_mismatch"""), benched = false),

    // The C4 cleaner from config (replace-textCol form of the oracled
    // q_llm_c4_rules; same salted page via a `derive` so the rules
    // demonstrably fire) — fully oracled: the oracle joins the cleaned
    // text back under the original column, exactly what the stage does.
    // Not benched: result-twin of q_llm_c4_rules; the YAML adds a parse and a join.
    Q("q_playbook_c4",
      (s, dir) => run(s, s"""
        |source:
        |  type: parquet
        |  file: $dir/documents.parquet
        |destination:
        |  type: parquet
        |  file: /tmp/graft_playbook_unused
        |analytics:
        |  - op: select
        |    cols: [doc_id, lang, source]
        |  - op: derive
        |    target: text
        |    expr: "${LlmQueries.synthC4Sql}"
        |  - op: c4_rules
        |    idCol: doc_id
        |    textCol: text
        |    minSentences: 3
        |""".stripMargin),
      Some(raw"""WITH base AS (SELECT doc_id, lang, source,
            ${LlmQueries.synthC4DuckSql} AS text FROM documents),
        d AS (SELECT doc_id, text, lang, source FROM base
          WHERE text IS NOT NULL
            AND NOT contains(lower(text), 'lorem ipsum')
            AND NOT contains(text, '{')),
        l AS (SELECT doc_id,
            list_filter(list_transform(string_split(text, chr(10)),
              x -> trim(x)), x -> x <> '') AS alllines
          FROM d),
        k AS (SELECT doc_id,
            list_filter(alllines, x -> regexp_matches(x, '[.!?"]$$')
              AND len(string_split_regex(x, '\s+')) >= 3
              AND NOT contains(lower(x), 'javascript')) AS kept
          FROM l),
        c AS (SELECT doc_id, array_to_string(kept, chr(10)) AS clean_text,
            len(kept) AS kept_lines FROM k),
        s AS (SELECT doc_id, clean_text, kept_lines,
            len(list_filter(list_transform(
              regexp_split_to_array(clean_text, '[.!?]+'), x -> trim(x)),
              x -> x <> '')) AS n_sentences
          FROM c)
        SELECT d.doc_id, s.clean_text AS text, d.lang, d.source
        FROM d JOIN s USING (doc_id)
        WHERE s.kept_lines > 0 AND s.n_sentences >= 3"""), benched = false),

    // CCNet perplexity bands from config (annotate form of the oracled
    // q_llm_ppl_partition; rows-only result, the _check below pins
    // config-path ≡ API-path exactly).
    Q("q_playbook_ppl", (s, dir) => run(s, pplYaml(dir)), None),

    // Engine-internal equivalence oracle for the config path: the
    // playbook-compiled ppl_partition annotation must carry exactly
    // the twin's (avg_nll_micro, ppl_band) per doc — docs under two
    // tokens are NULL-banded in the annotate form and absent from the
    // twin, so the compare runs over the twin's domain; both counters
    // integer/string-exact, zero tolerance.
    // Not benched: runs the op twice (config path, API twin) only to compare.
    Q("q_playbook_ppl_check",
      (s, dir) => {
        val pb = run(s, pplYaml(dir))
          .select(col("doc_id"), col("avg_nll_micro").as("p_nll"),
            col("ppl_band").as("p_band"))
        val api = twinFn("q_llm_ppl_partition")(s, dir)
          .select(col("doc_id"), col("avg_nll_micro").as("a_nll"),
            col("ppl_band").as("a_band"))
        val diff = col("p_nll").isNull || col("p_nll") =!= col("a_nll") ||
          col("p_band").isNull || col("p_band") =!= col("a_band")
        api.join(pb, Seq("doc_id"), "left")
          .agg(count(lit(1)).as("n_docs"),
            sum(when(diff, 1L).otherwise(0L)).as("n_mismatch"))
      },
      Some("""SELECT (SELECT COUNT(*) FROM documents WHERE text IS NOT NULL
          AND len(string_split_regex(lower(trim(text)), '\s+')) >= 2) AS n_docs,
        CAST(0 AS BIGINT) AS n_mismatch"""), benched = false),

    // Gap-based sessionization + the exact per-session aggregate from
    // config (sessionize stage + aggregate stage restating
    // sessionStats' arithmetic) — q_sessionize's oracle. Result-twin.
    // Not benched: result-twin of q_sessionize; the YAML adds a parse, not a plan.
    Q("q_playbook_sessionize",
      (s, dir) => run(s, s"""
        |source:
        |  type: parquet
        |  file: $dir/events.parquet
        |destination:
        |  type: parquet
        |  file: /tmp/graft_playbook_unused
        |analytics:
        |  - op: sessionize
        |    keyCol: user_id
        |    tsCol: ts
        |    gapSeconds: 3600
        |    tiebreak: [event_id]
        |  - op: aggregate
        |    groupBy: [user_id, session_idx]
        |    aggs:
        |      n_events: "count(1)"
        |      span_secs: "unix_timestamp(max(ts)) - unix_timestamp(min(ts))"
        |      total_value: "cast(sum(cast(value as decimal(18,4))) as double)"
        |""".stripMargin),
      oracleOf("q_sessionize"), benched = false),

    // Gap report from config — q_gap_report's oracle. Result-twin.
    // Not benched: result-twin of q_gap_report; the YAML adds a parse, not a plan.
    Q("q_playbook_gap_report",
      (s, dir) => run(s, s"""
        |source:
        |  type: parquet
        |  file: $dir/events.parquet
        |destination:
        |  type: parquet
        |  file: /tmp/graft_playbook_unused
        |analytics:
        |  - op: gap_report
        |    keys: [user_id]
        |    tsCol: ts
        |    stepSeconds: 86400
        |""".stripMargin),
      oracleOf("q_gap_report"), benched = false),

    // KMV audience overlap from config (portable face) —
    // q_kmv_overlap's oracle. Result-twin.
    // Not benched: result-twin of q_kmv_overlap; the YAML adds a parse, not a plan.
    Q("q_playbook_audience",
      (s, dir) => run(s, s"""
        |source:
        |  type: parquet
        |  file: $dir/events.parquet
        |destination:
        |  type: parquet
        |  file: /tmp/graft_playbook_unused
        |analytics:
        |  - op: audience_overlap
        |    groupCol: event_type
        |    valueCol: user_id
        |    k: 256
        |    portableHashing: true
        |""".stripMargin),
      oracleOf("q_kmv_overlap"), benched = false),

    // The FULL incremental corpus-version lifecycle from config: three
    // playbook invocations ingest the doc_id % 3 batches in sequence
    // against the SAME versioned stateDir (version auto-increments;
    // each run screens against the prior runs' kept-signature state,
    // then appends + compacts its own) — and the unioned verdicts are
    // exactly q_llm_incr_neardup_chain's DuckDB oracle. This pins the
    // config path's state persistence (nearDupStateLatest/Write) to
    // the same contract the Scala chain proves. md5-portable face;
    // bench-excluded like its twins.
    Q("q_playbook_incr_neardup",
      (s, dir) => {
        val state = s"${graft.ops.CachedRelations.tempDir("pb_incr")}/state"
        def runBatch(m: Int) = run(s, s"""
          |source:
          |  type: parquet
          |  file: $dir/documents.parquet
          |destination:
          |  type: parquet
          |  file: /tmp/graft_playbook_unused
          |analytics:
          |  - op: where
          |    condition: "doc_id % 3 = $m"
          |  - op: incr_neardup
          |    idCol: doc_id
          |    textCol: text
          |    stateDir: $state
          |    portableHashing: true
          |    shingleSize: 4
          |    numHashes: 8
          |    bands: 4
          |    threshold: 0.5
          |""".stripMargin)
        val v0 = runBatch(0)
        val v1 = runBatch(1) // compiled AFTER v0's state landed
        val v2 = runBatch(2)
        v0.unionByName(v1).unionByName(v2)
          .withColumnRenamed("version", "batch")
      },
      oracleOf("q_llm_incr_neardup_chain"), benched = false),

    // Z-order clustering from config: zorder_cluster adds `zval` and
    // range-clusters; the select projects the key columns so the
    // result is q_zorder_value's oracle. A NEW plan (the range
    // exchange is the clustering cost) — benched.
    Q("q_playbook_zorder",
      (s, dir) => run(s, s"""
        |source:
        |  type: parquet
        |  file: $dir/lineitem.parquet
        |destination:
        |  type: parquet
        |  file: /tmp/graft_playbook_unused
        |analytics:
        |  - op: zorder_cluster
        |    dims: [l_partkey, l_suppkey]
        |    bits: 16
        |  - op: select
        |    cols: [l_orderkey, l_linenumber, zval]
        |""".stripMargin),
      Some(AnalyticsQueries.zorderValueOracle))
  )
}
