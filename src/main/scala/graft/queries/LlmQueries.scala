package graft.queries

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.ops.{Dedup, Multimodal, Sampling, Similarity, TextAnalysis}
import graft.queries.Queries.t

/**
 * Training-data pipeline operators over documents/embeddings:
 * dedup (exact + near-dup), similarity search, text analysis,
 * multimodal binary plumbing. Oracled wherever the computation is
 * engine-portable (md5-based hashing, integer/double arithmetic);
 * xxhash64 scale paths are rows-only checked.
 */
object LlmQueries {

  /** Deterministic 9×8 P5 image per doc whose [[Multimodal.dHash64]]
    * is closed-form in doc_id — Fibonacci-mixed group id (doc_id/4)
    * XOR a (doc_id%4)-low-bit variant mask — so image-pipeline queries
    * are oracle-able while the engine really decodes and hashes. */
  def synthImages(s: org.apache.spark.sql.SparkSession,
                  dir: String): org.apache.spark.sql.DataFrame = {
    import s.implicits._
    t(s, dir, "documents").select(col("doc_id")).as[Long]
      .mapPartitions(_.map { id =>
        val bits = (id / 4) * 0x9E3779B97F4A7C15L ^ ((1L << (id % 4).toInt) - 1L)
        (id, Multimodal.synthPgmBits(bits))
      }).toDF("doc_id", "content")
  }

  /** C4-shaped salt page, six deterministic lines per doc built from
    * doc_id alone so any engine constructs the byte-identical text:
    * one good intro sentence, a no-terminal-punct line, a too-short
    * line, a javascript line, a %3-keyed missing second sentence
    * (falls to minSentences=3), a %5-keyed lorem-ipsum line (page
    * rule), and a %7-keyed curly-brace line (page rule). Spark SQL
    * face (the playbook twin reuses it verbatim in a `derive`). */
  private[queries] val synthC4Sql: String =
    "concat(" +
      "'Intro sentence number one for doc ', CAST(doc_id AS STRING), '.', chr(10), " +
      "'no terminal punct line', chr(10), " +
      "'Too short.', chr(10), " +
      "'Enable javascript to continue.', chr(10), " +
      "CASE WHEN doc_id % 3 = 0 THEN '' ELSE 'Second proper sentence here!' END, chr(10), " +
      "CASE WHEN doc_id % 5 = 0 THEN 'this has lorem ipsum inside.' ELSE 'Benign closing line text here.' END, chr(10), " +
      "CASE WHEN doc_id % 7 = 0 THEN 'stray { brace' ELSE '' END)"

  /** DuckDB restatement of [[synthC4Sql]] (VARCHAR cast; everything
    * else is the shared SQL subset). */
  private[queries] val synthC4DuckSql: String =
    synthC4Sql.replace("CAST(doc_id AS STRING)", "CAST(doc_id AS VARCHAR)")

  /** Deterministic messy-URL synthesis shared by the URL queries and
    * their oracles: 5 doc_id-keyed shapes (uppercase+www+default
    * port+tracking+fragment+trailing slash / https+default port /
    * non-http scheme whose port must survive (and whose host must
    * still blocklist-match without it) / userinfo + non-default port
    * that must be stripped from the HOST but kept in the canonical
    * form / not-a-URL). */
  private[queries] def synthUrl: org.apache.spark.sql.Column = {
    val k = pmod(col("doc_id"), lit(3)).cast("string")
    when(pmod(col("doc_id"), lit(5)) === 0,
        concat(lit("HTTP://WWW.Site"), k,
          lit(".Example.COM:80/A/b/?utm_source=x&b=2&a=1#frag")))
      .when(pmod(col("doc_id"), lit(5)) === 1,
        concat(lit("https://Site"), k, lit(".example.com:443/A/b?a=1&b=2")))
      .when(pmod(col("doc_id"), lit(5)) === 2,
        lit("ftp://files.Example.org:80/x/"))
      .when(pmod(col("doc_id"), lit(5)) === 3,
        concat(lit("http://u:p@WWW.Site"), k, lit(".example.com:8080/x/")))
      .otherwise(concat(lit("not a url "), k))
  }

  val all: Seq[Q] = Seq(

    // Exact dedup on content, keep first in ingest order.
    Q("q_llm_dedup_exact",
      (s, dir) => Dedup.byIngestOrder(t(s, dir, "documents"), Seq("text"), keepFirst = true)
        .select(col("doc_id"), col("lang"), col("n_chars")),
      Some("""SELECT doc_id, lang, n_chars FROM documents
        QUALIFY row_number() OVER (PARTITION BY text ORDER BY doc_id) = 1""")),

    // Boilerplate-line removal (C4/RefinedWeb curation): the corpus has
    // no newline structure, so the query first spanizes each doc into
    // 8-token "lines" (deterministic in both engines), then drops lines
    // occurring in >=2 docs AND >4% (400 bp) of a source's docs. The
    // production path itself is oracled — the xxhash64 grouping is
    // internal; the OUTPUT is rebuilt text, which is engine-portable.
    Q("q_llm_boilerplate",
      (s, dir) => {
        graft.functions.Registry.ensure(s)
        val lined = array_join(
          call_function("word_grams", col("text"), lit(8), lit(8)), "\n")
        val docs = t(s, dir, "documents")
          .select(col("doc_id"), col("source"), lined.as("text"))
        Dedup.boilerplateLineRemoval(docs, "doc_id", "text", "source",
          minDocs = 2, maxDocFracBp = 400)
      },
      Some("""WITH d0 AS (SELECT doc_id, source,
          string_split_regex(lower(trim(text)), '\s+') AS toks FROM documents),
        d AS (SELECT doc_id, source,
            list_transform(generate_series(0, CAST(ceil(len(toks)/8.0) AS INT) - 1),
              i -> array_to_string(toks[i*8+1:i*8+8], ' ')) AS ls FROM d0),
        l AS (SELECT doc_id, source,
            CAST(unnest(generate_series(1, len(ls))) AS INT) AS idx,
            unnest(ls) AS line FROM d),
        f AS (SELECT source, line, COUNT(DISTINCT doc_id) AS dfd FROM l GROUP BY 1, 2),
        nd AS (SELECT source, COUNT(*) AS n_docs FROM d GROUP BY 1),
        b AS (SELECT source, line FROM f JOIN nd USING (source)
          WHERE dfd >= 2 AND dfd * 10000 > 400 * n_docs),
        k AS (SELECT l.doc_id, l.source, l.idx, l.line FROM l
          LEFT JOIN b ON b.source = l.source AND b.line = l.line
          WHERE b.line IS NULL),
        tot AS (SELECT doc_id, len(ls) AS total_lines FROM d)
        SELECT k.doc_id, any_value(k.source) AS source,
          string_agg(k.line, chr(10) ORDER BY k.idx) AS clean_text,
          CAST(COUNT(*) AS INT) AS kept_lines,
          CAST(any_value(tot.total_lines) AS INT) AS total_lines
        FROM k JOIN tot USING (doc_id) GROUP BY k.doc_id""")),

    // CCNet-style unigram-LM perplexity proxy: per-doc NLL under the
    // corpus's own unigram distribution, integer micros end-to-end.
    Q("q_llm_unigram_lp",
      (s, dir) => TextAnalysis.unigramLogProb(t(s, dir, "documents"), "doc_id", "text"),
      Some("""WITH tk AS (SELECT doc_id,
          unnest(string_split_regex(lower(trim(text)), '\s+')) AS term FROM documents),
        tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM tk GROUP BY 1, 2),
        ug AS (SELECT term, CAST(SUM(tf) AS BIGINT) AS cnt FROM tf GROUP BY 1),
        tot AS (SELECT CAST(SUM(cnt) AS BIGINT) AS total FROM ug),
        w AS (SELECT doc_id, tf,
            CAST(floor(-ln(CAST(cnt AS DOUBLE) / total) * 1e6 + 0.5) AS BIGINT) AS nll
          FROM tf JOIN ug USING (term) CROSS JOIN tot)
        SELECT doc_id, CAST(SUM(tf) AS BIGINT) AS n_tokens,
          CAST(SUM(tf * nll) AS BIGINT) AS sum_nll_micro,
          CAST(SUM(tf * nll) // SUM(tf) AS BIGINT) AS avg_nll_micro
        FROM w GROUP BY 1""")),

    // Lexical diversity: type-token + hapax ratios, pure integer math.
    Q("q_llm_lexical",
      (s, dir) => TextAnalysis.lexicalDiversity(t(s, dir, "documents"), "doc_id", "text"),
      Some("""WITH tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM (
          SELECT doc_id, unnest(string_split_regex(lower(trim(text)), '\s+')) AS term
          FROM documents) GROUP BY 1, 2)
        SELECT doc_id, CAST(SUM(tf) AS BIGINT) AS n_tokens,
          CAST(COUNT(*) AS BIGINT) AS n_types,
          CAST(SUM(CASE WHEN tf = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_hapax,
          CAST(COUNT(*) * 1000000 // SUM(tf) AS BIGINT) AS ttr_micro,
          CAST(SUM(CASE WHEN tf = 1 THEN 1 ELSE 0 END) * 1000000 // COUNT(*) AS BIGINT)
            AS hapax_micro
        FROM tf GROUP BY 1""")),

    // Deterministic weighted sampling (A-ES, weight = n_chars): hash-
    // derived u, exponential arrival keys in integer micros, top-k.
    Q("q_llm_weighted_sample",
      (s, dir) => Sampling.weightedSample(
        t(s, dir, "documents").select(col("doc_id"), col("n_chars")),
        "doc_id", "n_chars", k = 100),
      Some("""WITH s AS (SELECT doc_id, n_chars,
          ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 12))::BIGINT AS h
          FROM documents)
        SELECT doc_id, n_chars,
          CAST(floor(-ln((h + 1.0) / 281474976710656.0) / n_chars * 1e6 + 0.5)
            AS BIGINT) AS key_micro
        FROM s WHERE n_chars > 0 ORDER BY key_micro, doc_id LIMIT 100""")),

    // Length-bucketed inference batches (pad-waste minimizer): per-
    // shard length sort, fixed batches, per-batch max + pad report.
    Q("q_llm_length_batches",
      (s, dir) => graft.ops.Packing.lengthBatches(
        t(s, dir, "documents"), "doc_id", "text", batchSize = 8, shards = 16),
      Some("""WITH t AS (SELECT doc_id, doc_id % 16 AS shard,
          CAST(len(string_split_regex(lower(trim(text)), '\s+')) AS BIGINT) AS n_tokens
          FROM documents),
        r AS (SELECT doc_id, shard, n_tokens,
          CAST((row_number() OVER (PARTITION BY shard ORDER BY n_tokens, doc_id) - 1) // 8
            AS BIGINT) AS batch_idx FROM t)
        SELECT doc_id, CAST(shard AS BIGINT) AS shard, n_tokens, batch_idx,
          CAST(max(n_tokens) OVER (PARTITION BY shard, batch_idx) AS BIGINT) AS batch_max,
          CAST(max(n_tokens) OVER (PARTITION BY shard, batch_idx) - n_tokens AS BIGINT)
            AS pad_tokens
        FROM r""")),

    // Per-source corpus-health report: mean quality (row-local micro
    // quantization -> order-independent integer sums -> integral mean)
    // and high-quality rate in basis points. ONE map-side-combining
    // shuffle keyed by source.
    Q("q_llm_source_quality",
      (s, dir) => {
        val q = TextAnalysis.qualityScore(col("text"))
        t(s, dir, "documents").groupBy(col("source"))
          .agg(count(lit(1)).as("n_docs"),
            sum(floor(q * lit(1e6) + lit(0.5)).cast("long")).as("_qsum"),
            sum(when(q >= 0.5, 1L).otherwise(0L)).as("_nhigh"))
          .select(col("source"), col("n_docs"),
            expr("_qsum div n_docs").as("q_mean_micro"),
            expr("_nhigh * 10000 div n_docs").as("high_rate_bp"))
      },
      Some(LlmOracles.sourceQuality)),

    // Token / char counting + mean token length.
    Q("q_llm_token_stats",
      (s, dir) => t(s, dir, "documents").select(col("doc_id"),
        TextAnalysis.tokenCount(col("text")).as("n_tokens"),
        TextAnalysis.charCount(col("text")).as("n_chars2"),
        TextAnalysis.avgTokenLen(col("text")).as("avg_tok_len")),
      Some("""SELECT doc_id,
        len(string_split_regex(lower(trim(text)), '\s+')) AS n_tokens,
        length(text) AS n_chars2,
        CAST(length(regexp_replace(text, '\s+', '', 'g')) AS DOUBLE)
          / len(string_split_regex(lower(trim(text)), '\s+')) AS avg_tok_len
        FROM documents""")),

    // Quality scoring: punctuation noise + stopword density + length.
    Q("q_llm_quality",
      (s, dir) => t(s, dir, "documents").select(col("doc_id"),
        TextAnalysis.punctRatio(col("text")).as("punct_ratio"),
        TextAnalysis.stopwordRatio(col("text")).as("stop_ratio"),
        TextAnalysis.qualityScore(col("text")).as("quality")),
      Some(LlmOracles.quality)),

    // Per-source quality percentile calibration (CCNet-style: a
    // global cutoff over-prunes whole low-register sources; the
    // per-source percentile makes thresholds comparable).
    Q("q_llm_calibration",
      (s, dir) => graft.ops.TextAnalysis.perSourcePercentile(
        t(s, dir, "documents"), "doc_id", "source", "text"),
      Some(LlmOracles.calibration)),

    // Per-source log2-bucketed doc-length histogram (bit-length
    // bucketing: integer-exact where FP log2 flips at powers of two).
    Q("q_llm_length_hist",
      (s, dir) => graft.ops.TextAnalysis.lengthHistogram(
        t(s, dir, "documents"), "source", "n_chars"),
      Some("""SELECT source, CAST(length(bin(n_chars)) AS INT) AS len_bits,
          COUNT(*) AS n_docs, MIN(n_chars) AS min_len, MAX(n_chars) AS max_len
        FROM documents GROUP BY 1, 2""")),

    // Language ID via stopword-overlap argmax.
    Q("q_llm_lang_id",
      (s, dir) => t(s, dir, "documents").select(col("doc_id"), col("lang"),
        TextAnalysis.langId(col("text")).as("lang_pred")),
      Some(LlmOracles.langId)),

    // Document fingerprint (normalized md5).
    Q("q_llm_fingerprint",
      (s, dir) => t(s, dir, "documents").select(col("doc_id"),
        TextAnalysis.fingerprint(col("text")).as("fp")),
      Some("""SELECT doc_id,
        md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')) AS fp
        FROM documents""")),

    // Portable MinHash signature (md5-min over 4-char shingles, 8 seeds).
    // Not benched: md5 oracle twin of the benched q_llm_minhash_sig_x64.
    Q("q_llm_minhash_sig",
      (s, dir) => TextAnalysis.minhashPortableDf(t(s, dir, "documents"), "doc_id", "text"),
      Some(LlmOracles.minhashSig), benched = false),

    // Portable SimHash (30-bit, md5-derived token hashes).
    Q("q_llm_simhash",
      (s, dir) => Dedup.simhashPortable(t(s, dir, "documents"), "doc_id", "text")
        .withColumnRenamed("id", "doc_id"),
      Some(LlmOracles.simhash)),

    // Token-trigram Jaccard near-dup pairs via inverted index.
    Q("q_llm_ngram_jaccard",
      (s, dir) => Dedup.ngramJaccardPairs(t(s, dir, "documents"), "doc_id", "text",
        n = 3, threshold = 0.1, maxPostings = 5000),
      Some(LlmOracles.ngramJaccard)),

    // MinHash/LSH near-dup pairs — xxhash64 scale path (rows-only).
    Q("q_llm_minhash_pairs",
      (s, dir) => Dedup.minhashNearDupPairs(t(s, dir, "documents"), "doc_id", "text",
        shingleSize = 5, numHashes = 16, bands = 4, threshold = 0.5),
      None),

    // SimHash 64-bit xxhash scale path (rows-only).
    Q("q_llm_simhash64",
      (s, dir) => Dedup.simhash64(t(s, dir, "documents"), "doc_id", "text"),
      None),

    // SimHash near-dup pairs: banded pigeonhole blocking (rows-only).
    Q("q_llm_simhash_pairs",
      (s, dir) => Dedup.simhashNearDupPairs(t(s, dir, "documents"), "doc_id", "text",
        maxHamming = 3, bands = 4),
      None),

    // md5-portable twins of the xxhash64 near-dup pair paths: identical
    // banding algorithms with engine-portable hashes — these carry the
    // hard DuckDB-oracle signal for the pair pipelines (the xxhash64
    // variants above stay the production/bench paths).
    Q("q_llm_minhash_pairs_md5",
      (s, dir) => Dedup.minhashPortablePairs(t(s, dir, "documents"), "doc_id", "text",
        shingleSize = 4, numHashes = 8, bands = 4, threshold = 0.5),
      Some(LlmOracles.minhashPairsMd5), benched = false),

    Q("q_llm_simhash_pairs_md5",
      (s, dir) => Dedup.simhashPortablePairs(t(s, dir, "documents"), "doc_id", "text",
        maxHamming = 3, bands = 5),
      Some(LlmOracles.simhashPairsMd5), benched = false),

    // xxhash64 minhash signature headline for the bench (same explode +
    // partial-min algorithm as the oracled md5 twin q_llm_minhash_sig;
    // the hash function itself is engine-local, hence rows-only). The
    // signature array is rendered as a comma string for the dump: the
    // driver's rows-only pass still sorts the frame, and pandas cannot
    // sort ndarray cells.
    Q("q_llm_minhash_sig_x64",
      (s, dir) => Dedup.minhashSignatures(t(s, dir, "documents"), "doc_id", "text",
        shingleSize = 5, numHashes = 16)
        .select(col("id").as("doc_id"),
          array_join(col("sig").cast("array<string>"), ",").as("sig")),
      None),

    // Embedding-cosine near-dup pairs (brute-force exact, oracled).
    Q("q_llm_cosine_neardup",
      (s, dir) => Dedup.embeddingNearDupPairs(t(s, dir, "embeddings"), "vec_id", "embedding",
        threshold = 0.4),
      Some("""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        p AS (SELECT a.vec_id AS id_a, b.vec_id AS id_b,
          list_dot_product(a.v, b.v)
            / (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v))) AS cos
          FROM e a CROSS JOIN e b WHERE a.vec_id < b.vec_id)
        SELECT id_a, id_b, cos FROM p WHERE cos >= 0.4""")),

    // SEMANTIC dedup: cosine pairs -> connected components -> keep the
    // min-id representative per cluster. Brute-force pairs here so the
    // whole composite (pairs + clustering + canonical selection)
    // verifies against DuckDB's recursive CTE; the LSH-blocked pair
    // generator is the spec-covered scale path.
    Q("q_llm_semantic_dedup",
      (s, dir) => Dedup.semanticDedup(t(s, dir, "embeddings"), "vec_id", "embedding",
          threshold = 0.4, dims = 64, exactPairs = true)
        .select(col("vec_id"), col("label")),
      Some(LlmOracles.semanticDedup)),

    // Incremental dedup of a new batch against a reference corpus:
    // bloom prefilter + exact anti-join on the survivors. The result
    // equals the plain anti-join on the content key (the bloom only
    // prunes the shuffle), so the scale path itself is oracle-able.
    Q("q_llm_incremental_dedup",
      (s, dir) => {
        val docs = t(s, dir, "documents")
          .withColumn("content_key", substring(col("text"), 1, 48))
        Dedup.incrementalDedup(
            docs.filter(col("doc_id") % 3 === 0),
            docs.filter(col("doc_id") % 3 =!= 0),
            Seq("content_key"), expectedRefDistinct = 10000L)
          .select(col("doc_id"), col("lang"), col("n_chars"))
      },
      Some("""WITH d AS (SELECT doc_id, lang, n_chars, substr(text, 1, 48) AS ck FROM documents)
        SELECT doc_id, lang, n_chars FROM d n
        WHERE doc_id % 3 = 0 AND NOT EXISTS (
          SELECT 1 FROM d r WHERE r.doc_id % 3 <> 0 AND r.ck = n.ck)""")),

    // Brute-force cosine top-3 for the first 20 vectors.
    Q("q_llm_cosine_topk",
      (s, dir) => {
        val e = t(s, dir, "embeddings")
        Similarity.bruteForceTopK(e.filter(col("vec_id") < 20), e, "vec_id", "embedding", k = 3)
      },
      Some(LlmOracles.cosineTopK)),

    // LSH-bucketed ANN — the 100 TB path (rows-only). planes=5/tables=6
    // is the r8 RecallCheck operating point on the 2026-08-13 testdata:
    // recall@3 0.925/0.926/0.946 at sf0.001/0.01/0.1 at 36 bucket-probes
    // per query vs the old 6-plane/8-table config's 56 (which measured
    // 0.884-0.923 — shorter buckets beat more tables on this corpus).
    Q("q_llm_ann_lsh",
      (s, dir) => Similarity.lshTopK(t(s, dir, "embeddings"), "vec_id", "embedding",
        dims = 64, k = 3, planes = 5, tables = 6),
      None),

    // Binary sign-quantization ANN: 1-bit codes (32× compression on
    // the candidate exchange), Hamming-distance coarse pass, exact
    // cosine rerank of the 96 closest codes. Fully deterministic (no
    // hash tables, no k-means), so unlike the other ANN paths it is
    // exactly oracle-able END TO END, approximation included.
    // RecallCheck rerank sweep on the 2026-08-13 sf0.01 embeddings:
    // 24->0.556, 48->0.725, 64->0.785, 96->0.867, 128->0.917. An
    // ABSOLUTE rerank dilutes as the corpus grows (r12 RECALL artifact:
    // 0.67 at 2000 vectors with rerank=96), so the production operating
    // point keeps the reranked FRACTION constant: max(96, ceil(0.2·N)),
    // N counted over the same qid window the ranking shuffles on — the
    // oracle restates the scaled threshold exactly.
    Q("q_llm_ann_binary",
      (s, dir) => {
        val e = t(s, dir, "embeddings")
        Similarity.binaryTopK(e.filter(col("vec_id") < 20), e,
          "vec_id", "embedding", dims = 64, k = 3, rerank = 96, rerankFrac = 0.2)
      },
      Some(LlmOracles.binaryTopK)),

    // ANN recall audit as a query: binary-quantization ANN at a
    // deliberately thin rerank=24 vs exact brute force — BOTH sides
    // deterministic, so the per-query recall itself is oracled (the
    // in-cluster form of the RecallCheck measurement).
    Q("q_llm_recall_audit",
      (s, dir) => {
        val e = t(s, dir, "embeddings")
        val q = e.filter(col("vec_id") < 20)
        Similarity.recallAudit(
          Similarity.binaryTopK(q, e, "vec_id", "embedding", dims = 64, k = 3, rerank = 24),
          Similarity.bruteForceTopK(q, e, "vec_id", "embedding", k = 3))
      },
      Some(LlmOracles.recallAudit)),

    // Exact k-NN label classification: majority label among the 5
    // nearest corpus vectors, deterministic tie-break (votes desc,
    // best rank, label asc) — the decision rule is pure relational
    // algebra over the neighbor set, so it is exactly oracle-able.
    Q("q_llm_knn_classify",
      (s, dir) => {
        val e = t(s, dir, "embeddings")
        Similarity.knnClassify(e.filter(col("vec_id") < 50), e,
          "vec_id", "embedding", "label", k = 5)
      },
      Some(LlmOracles.knnClassify)),

    // Production twin: the SAME vote over IVF-ANN neighbors for the
    // whole corpus (rows-only — the k-means cells are engine-local;
    // the decision rule itself is oracled above).
    Q("q_llm_knn_classify_ivf",
      (s, dir) => {
        val e = t(s, dir, "embeddings")
        Similarity.knnClassifyFrom(
          Similarity.ivfTopK(e, "vec_id", "embedding", dims = 64, k = 5,
            nlist = 16, nprobe = 8),
          e, "vec_id", "label")
      },
      None),

    // Ratio-margin pair mining (Artetxe & Schwenk 2019) over the
    // exact self top-3 of a 200-vector sub-corpus: hub-corrected
    // pair scores in integer ppm — micro-quantized cosines, integral
    // sums and division, so the approximation-free path hash-matches
    // DuckDB end to end including the margins.
    Q("q_llm_margin",
      (s, dir) => {
        val e = t(s, dir, "embeddings").filter(col("vec_id") < 200)
        Similarity.marginPairs(
          Similarity.bruteForceTopK(e, e, "vec_id", "embedding", k = 3),
          k = 3)
      },
      Some(LlmOracles.marginPairs)),

    // Production twin: margins over the IVF self top-k at corpus
    // scale (rows-only — ANN neighbor set is engine-local).
    Q("q_llm_margin_ivf",
      (s, dir) => {
        val e = t(s, dir, "embeddings")
        Similarity.marginPairs(
          Similarity.ivfTopK(e, "vec_id", "embedding", dims = 64, k = 3,
            nlist = 16, nprobe = 8),
          k = 3)
      },
      None),

    // BPE trainer iteration zero: weighted adjacent char-pair counts
    // over the distinct-word relation (a length-2 substring IS the
    // pair — pure counting, exactly oracle-able).
    Q("q_llm_bpe_pairs",
      (s, dir) => graft.ops.Tokenizer.bpePairCounts(t(s, dir, "documents"), "text"),
      Some("""WITH wf AS (SELECT w, COUNT(*) AS freq FROM (
            SELECT unnest(string_split_regex(lower(trim(text)), '\s+')) AS w
            FROM documents WHERE text IS NOT NULL) GROUP BY 1),
        p AS (SELECT substr(w, i, 2) AS pair, freq FROM (
            SELECT w, freq, unnest(generate_series(1, length(w) - 1)) AS i
            FROM wf WHERE length(w) >= 2))
        SELECT pair, CAST(SUM(freq) AS BIGINT) AS n FROM p GROUP BY 1""")),

    // Learned BPE merge table (40 merges): the iterative merge loop is
    // not SQL-expressible — rows-only; the pair-count arithmetic each
    // iteration repeats is pinned by q_llm_bpe_pairs, and the merge
    // semantics by TokenizerSpec's closed-form fixture.
    Q("q_llm_bpe_merges",
      (s, dir) => graft.ops.Tokenizer.bpeTrain(t(s, dir, "documents"), "text",
        numMerges = 40),
      None),

    // Per-source tokenizer fertility under the 40 learned merges —
    // the encode/apply half of the tokenizer surface. Rows-only like
    // q_llm_bpe_merges (iterative application); the application loop
    // is the trainer's own (TokenizerSpec pins both on closed forms),
    // and the fertility arithmetic is integral.
    Q("q_llm_bpe_fertility",
      (s, dir) => {
        val docs = t(s, dir, "documents")
        val merges = graft.ops.Tokenizer.bpeTrain(docs, "text", numMerges = 40)
          .orderBy("rank").collect()
          .map(r => (r.getString(1), r.getString(2))).toSeq
        graft.ops.Tokenizer.bpeFertility(docs, "text", "source", merges)
      },
      None),

    // Tokenizer encode at production table size (r10): 1000 learned
    // merges applied through the NATIVE min-rank encoder
    // (expr/BpeExprs — O(firing-merges·len) per word vs applyMerges'
    // O(tableSize·len) rescan; equivalence spec-pinned in
    // BpeEncodeSpec) over the full fertility pipeline. Rows-only like
    // the other iterative-BPE queries; the 40-merge UDF twin above
    // stays as the contract instantiation.
    Q("q_llm_bpe_encode_1k",
      (s, dir) => {
        val docs = t(s, dir, "documents")
        val merges = graft.ops.Tokenizer.bpeTrain(docs, "text", numMerges = 1000)
          .orderBy("rank").collect()
          .map(r => (r.getString(1), r.getString(2))).toSeq
        graft.ops.Tokenizer.bpeFertility(docs, "text", "source", merges,
          nativeEncode = true)
      },
      None),

    // Gate-visible equivalence for the native encoder: the 1000-merge
    // table learned on the REAL corpus, applied to the REAL distinct
    // vocabulary through BOTH encoders — the O(tableSize·len)
    // iterative reference (applyMerges) and the O(firing·len) native
    // min-rank expression — must agree token-sequence for
    // token-sequence on every word. The oracle pins full vocabulary
    // coverage (DuckDB restates the tokenization) and zero mismatches.
    // Not benched: both encoders only to compare (q_llm_bpe_encode_1k benches native).
    Q("q_llm_bpe_native_check",
      (s, dir) => {
        val docs = t(s, dir, "documents")
        val merges = graft.ops.Tokenizer.bpeTrain(docs, "text", numMerges = 1000)
          .orderBy("rank").collect()
          .map(r => (r.getString(1), r.getString(2))).toIndexedSeq
        val iterative = udf((w: String) =>
          graft.ops.Tokenizer.applyMerges(w, merges).toSeq)
        docs.filter(col("text").isNotNull)
          .select(explode(Dedup.tokens(col("text"))).as("w")).distinct()
          .select(col("w"), iterative(col("w")).as("t_iter"),
            graft.ops.Tokenizer.bpeEncodeCol(col("w"), merges).as("t_native"))
          .agg(count(lit(1)).as("n_words"),
            sum(when(col("t_iter") =!= col("t_native"), 1L).otherwise(0L))
              .as("n_mismatch"))
      },
      Some("""SELECT (SELECT COUNT(DISTINCT w) FROM (
          SELECT unnest(string_split_regex(lower(trim(text)), '\s+')) AS w
          FROM documents WHERE text IS NOT NULL)) AS n_words,
        CAST(0 AS BIGINT) AS n_mismatch"""), benched = false),

    // Unigram-LM tokenizer (Kudo 2018 — the SentencePiece-default
    // family, next to BPE). Training is exact forward-backward EM over
    // the vocabulary-bounded word table (iterative, not
    // SQL-expressible) → the fertility report is rows-only like the
    // iterative-BPE trio; the _check row below pins the trained
    // model's contracts through the DuckDB gate.
    Q("q_llm_unigram_fertility",
      (s, dir) => {
        val docs = t(s, dir, "documents")
        val vocab = graft.ops.Tokenizer.unigramTrainLocalFrom(docs, "text",
          vocabSize = 300, emIters = 3)
        graft.ops.Tokenizer.unigramFertility(docs, "text", "source", vocab)
      },
      None),

    // Gate-visible unigram contracts: on the REAL corpus vocabulary,
    // (1) Viterbi segmentation under the trained model reconstructs
    // every distinct word exactly (full coverage, the property that
    // makes a tokenizer lossless), (2) the trained piece distribution
    // normalizes (sum of probs = 1), (3) the prune bound held. DuckDB
    // restates the distinct-word count; the contract counters pin to
    // constants.
    // Not benched: a coverage verdict; q_llm_unigram_fertility benches the pipeline.
    Q("q_llm_unigram_check",
      (s, dir) => {
        val docs = t(s, dir, "documents")
        val vocab = graft.ops.Tokenizer.unigramTrainLocalFrom(docs, "text",
          vocabSize = 300, emIters = 3)
        val normOk = math.abs(vocab.values.map(math.exp).sum - 1.0) < 1e-9
        val sizeOk = vocab.size <= 300
        val enc = udf((w: String) =>
          graft.ops.Tokenizer.unigramEncode(w, vocab).mkString)
        docs.filter(col("text").isNotNull)
          .select(explode(Dedup.tokens(col("text"))).as("w")).distinct()
          .agg(count(lit(1)).as("n_words"),
            sum(when(enc(col("w")) =!= col("w"), 1L).otherwise(0L))
              .as("n_unreconstructed"))
          .withColumn("norm_ok", lit(normOk))
          .withColumn("size_ok", lit(sizeOk))
      },
      Some("""SELECT (SELECT COUNT(DISTINCT w) FROM (
          SELECT unnest(string_split_regex(lower(trim(text)), '\s+')) AS w
          FROM documents WHERE text IS NOT NULL)) AS n_words,
        CAST(0 AS BIGINT) AS n_unreconstructed,
        CAST(TRUE AS BOOLEAN) AS norm_ok,
        CAST(TRUE AS BOOLEAN) AS size_ok"""), benched = false),

    // WordPiece trainer iteration zero (Schuster & Nakajima 2012, the
    // BERT family): for every adjacent ##-marked seed-symbol pair, the
    // corpus-weighted adjacency count plus both symbols' standalone
    // frequencies — the three integers the likelihood score
    // n/(fa*fb) is a pure function of. Raw integers, exactly
    // oracle-able (the iterative trainer repeats exactly this
    // arithmetic; q_llm_wordpiece_merges covers the loop rows-only).
    Q("q_llm_wordpiece_pairs",
      (s, dir) => graft.ops.Tokenizer.wordpiecePairScores(t(s, dir, "documents"), "text"),
      Some("""WITH wf AS (SELECT w, COUNT(*) AS freq FROM (
            SELECT unnest(string_split_regex(lower(trim(text)), '\s+')) AS w
            FROM documents WHERE text IS NOT NULL) GROUP BY 1),
        sym AS (SELECT CASE WHEN i = 1 THEN substr(w, 1, 1)
                  ELSE '##' || substr(w, i, 1) END AS s, freq
            FROM (SELECT w, freq, unnest(generate_series(1, length(w))) AS i
                  FROM wf WHERE length(w) >= 1)),
        sf AS (SELECT s, CAST(SUM(freq) AS BIGINT) AS f FROM sym GROUP BY 1),
        pr AS (SELECT CASE WHEN i = 1 THEN substr(w, 1, 1)
                  ELSE '##' || substr(w, i, 1) END AS left_sym,
                '##' || substr(w, i + 1, 1) AS right_sym, freq
            FROM (SELECT w, freq, unnest(generate_series(1, length(w) - 1)) AS i
                  FROM wf WHERE length(w) >= 2)),
        pc AS (SELECT left_sym, right_sym, CAST(SUM(freq) AS BIGINT) AS n
            FROM pr GROUP BY 1, 2)
        SELECT pc.left_sym, pc.right_sym, pc.n,
          lf.f AS left_freq, rf.f AS right_freq
        FROM pc JOIN sf lf ON lf.s = pc.left_sym
                JOIN sf rf ON rf.s = pc.right_sym""")),

    // Learned WordPiece merge table (40 merges): the score-driven
    // merge loop is iterative like BPE's — rows-only; the score
    // arithmetic each iteration repeats is pinned by
    // q_llm_wordpiece_pairs and the merge/tie-break semantics by
    // WordPieceSpec's closed-form fixture (two rounds of which TIE on
    // the exact ratio, exercising the BigInt compare).
    Q("q_llm_wordpiece_merges",
      (s, dir) => graft.ops.Tokenizer.wordpieceTrain(t(s, dir, "documents"), "text",
        numMerges = 40),
      None),

    // Per-source WordPiece fertility under the 40-merge vocabulary —
    // greedy longest-match-first inference over the distinct-word
    // relation (rows-only like the other iterative-tokenizer reports;
    // the extra unk_words counter is the out-of-alphabet health
    // number, zero here by the full-alphabet char seed).
    Q("q_llm_wordpiece_fertility",
      (s, dir) => {
        val docs = t(s, dir, "documents")
        val vocab = graft.ops.Tokenizer.wordpieceVocabFrom(docs, "text", numMerges = 40)
        graft.ops.Tokenizer.wordpieceFertility(docs, "text", "source", vocab)
      },
      None),

    // Gate-visible WordPiece contracts on the REAL corpus vocabulary:
    // greedy inference under the trained vocab (1) never degrades a
    // training-corpus word to [UNK] (the char-seed guarantee), and
    // (2) reconstructs every distinct word exactly when the ##
    // prefixes are stripped — the losslessness property. DuckDB
    // restates the distinct-word count; the contract counters pin to
    // constants.
    // Not benched: a coverage verdict; q_llm_wordpiece_fertility benches the pipeline.
    Q("q_llm_wordpiece_check",
      (s, dir) => {
        val docs = t(s, dir, "documents")
        val vocab = graft.ops.Tokenizer.wordpieceVocabFrom(docs, "text", numMerges = 40)
        val enc = udf((w: String) =>
          graft.ops.Tokenizer.wordpieceEncode(w, vocab)
            .map(_.stripPrefix("##")).mkString)
        docs.filter(col("text").isNotNull)
          .select(explode(Dedup.tokens(col("text"))).as("w")).distinct()
          .agg(count(lit(1)).as("n_words"),
            sum(when(enc(col("w")) =!= col("w"), 1L).otherwise(0L))
              .as("n_unreconstructed"))
      },
      Some("""SELECT (SELECT COUNT(DISTINCT w) FROM (
          SELECT unnest(string_split_regex(lower(trim(text)), '\s+')) AS w
          FROM documents WHERE text IS NOT NULL)) AS n_words,
        CAST(0 AS BIGINT) AS n_unreconstructed"""), benched = false),

    // Byte-level BPE (GPT-2 family) trainer iteration zero: corpus-
    // weighted adjacent UTF-8 BYTE pair counts, each pair spelled as
    // 4 uppercase hex chars — a 4-char odd-offset slice of
    // hex(encode(word)) IS the byte pair, so DuckDB restates the
    // relation exactly (both engines' hex() agree char-for-char).
    Q("q_llm_bbpe_pairs",
      (s, dir) => graft.ops.Tokenizer.bbpePairCounts(t(s, dir, "documents"), "text"),
      Some("""WITH wf AS (SELECT w, COUNT(*) AS freq FROM (
            SELECT unnest(string_split_regex(lower(trim(text)), '\s+')) AS w
            FROM documents WHERE text IS NOT NULL) GROUP BY 1),
        hx AS (SELECT hex(encode(w)) AS h, freq FROM wf),
        p AS (SELECT substr(h, 2*i - 1, 4) AS pair, freq FROM (
            SELECT h, freq, unnest(generate_series(1, length(h) // 2 - 1)) AS i
            FROM hx WHERE length(h) >= 4))
        SELECT pair, CAST(SUM(freq) AS BIGINT) AS n FROM p GROUP BY 1""")),

    // Learned byte-level merge table (40 merges): the iterative loop
    // is not SQL-expressible — rows-only; the per-round pair counting
    // is pinned by q_llm_bbpe_pairs (green twin) and the merge/
    // tie-break semantics by ByteBpeSpec's closed-form fixture.
    Q("q_llm_bbpe_merges",
      (s, dir) => graft.ops.Tokenizer.bbpeTrain(t(s, dir, "documents"), "text",
        numMerges = 40),
      None),

    // Per-source byte-level fertility under 200 learned merges —
    // rows-only like the other iterative-tokenizer reports (encode is
    // the trainer's own fuse loop, spec-pinned; the bytes_per_token
    // column is the GPT-2 family's compression number).
    Q("q_llm_bbpe_fertility",
      (s, dir) => {
        val docs = t(s, dir, "documents")
        val merges = graft.ops.Tokenizer.bbpeTrain(docs, "text", numMerges = 200)
          .orderBy("rank").collect()
          .map(r => (r.getString(1), r.getString(2))).toSeq
        graft.ops.Tokenizer.bbpeFertility(docs, "text", "source", merges)
      },
      None),

    // Gate-visible byte-level-BPE contract on the REAL corpus
    // vocabulary: under 200 trained merges, decode(encode(w))
    // reconstructs EVERY distinct word exactly — the never-UNK
    // losslessness that defines the family (merges only concatenate
    // byte symbols, so the byte stream survives any merge table).
    // DuckDB restates the distinct-word count; the counter pins to 0.
    // Not benched: a coverage verdict; q_llm_bbpe_fertility benches the pipeline.
    Q("q_llm_bbpe_check",
      (s, dir) => {
        val docs = t(s, dir, "documents")
        val merges = graft.ops.Tokenizer.bbpeTrain(docs, "text", numMerges = 200)
          .orderBy("rank").collect()
          .map(r => (r.getString(1), r.getString(2))).toIndexedSeq
        val roundtrip = udf((w: String) =>
          graft.ops.Tokenizer.bbpeDecode(
            graft.ops.Tokenizer.bbpeEncode(w, merges).toSeq))
        docs.filter(col("text").isNotNull)
          .select(explode(Dedup.tokens(col("text"))).as("w")).distinct()
          .agg(count(lit(1)).as("n_words"),
            sum(when(roundtrip(col("w")) =!= col("w"), 1L).otherwise(0L))
              .as("n_unreconstructed"))
      },
      Some("""SELECT (SELECT COUNT(DISTINCT w) FROM (
          SELECT unnest(string_split_regex(lower(trim(text)), '\s+')) AS w
          FROM documents WHERE text IS NOT NULL)) AS n_words,
        CAST(0 AS BIGINT) AS n_unreconstructed"""), benched = false),

    // Gate-visible equivalence for the BYTE-LEVEL native encoder —
    // the q_llm_bpe_native_check twin for the GPT-2 family: a
    // 200-merge table learned on the REAL corpus, applied to the REAL
    // distinct vocabulary through BOTH encoders (iterative per-rank
    // rescan vs native min-rank), token sequence for token sequence.
    // Not benched: both encoders only to compare (the persisted-tokenizer face benches native).
    Q("q_llm_bbpe_native_check",
      (s, dir) => {
        val docs = t(s, dir, "documents")
        val merges = graft.ops.Tokenizer.bbpeTrain(docs, "text", numMerges = 200)
          .orderBy("rank").collect()
          .map(r => (r.getString(1), r.getString(2))).toIndexedSeq
        val iterative = udf((w: String) =>
          graft.ops.Tokenizer.bbpeEncode(w, merges).toSeq)
        docs.filter(col("text").isNotNull)
          .select(explode(Dedup.tokens(col("text"))).as("w")).distinct()
          .select(col("w"), iterative(col("w")).as("t_iter"),
            graft.ops.Tokenizer.bbpeEncodeCol(col("w"), merges).as("t_native"))
          .agg(count(lit(1)).as("n_words"),
            sum(when(col("t_iter") =!= col("t_native"), 1L).otherwise(0L))
              .as("n_mismatch"))
      },
      Some("""SELECT (SELECT COUNT(DISTINCT w) FROM (
          SELECT unnest(string_split_regex(lower(trim(text)), '\s+')) AS w
          FROM documents WHERE text IS NOT NULL)) AS n_words,
        CAST(0 AS BIGINT) AS n_mismatch"""), benched = false),

    // Persisted-tokenizer production face (the fit-once lifecycle for
    // the tokenizer families, like q_llm_ann_persist / q_llm_mkn_ppl_idx):
    // 1000 BPE merges fitted ONCE as a stamped artifact, the fertility
    // report run through the loaded model + native encoder with zero
    // training work. Rows-only; q_llm_tok_index_check pins loaded ≡
    // in-session and TokenizerIndexSpec pins the stale/heal lifecycle.
    // ENSURE-not-rebuild (the q_llm_mkn_ppl_idx convention, r13 verdict
    // ask 8): verify the stamp, fit only when absent/stale/wrong — the
    // benched min-over-passes is the steady-state report leg.
    Q("q_llm_bpe_fertility_idx",
      (s, dir) => {
        val docs = t(s, dir, "documents")
        val tbl = s"$dir/documents.parquet"
        val idx = s"/tmp/graft_tok_idx_bpe_${math.abs(dir.hashCode)}"
        try {
          val m = graft.ops.TokenizerIndex.verify(s, tbl, idx, "bpe", "text")
          if (m.param != 1000) throw new IllegalStateException("param changed")
        } catch { case _: IllegalStateException =>
          graft.ops.TokenizerIndex.write(s, tbl, idx, "bpe", "text", param = 1000) }
        graft.ops.TokenizerIndex.fertilityIndexed(s, docs, "bpe", "text", "source",
          tbl, idx)
      },
      None),

    // Engine-internal equivalence oracle for the persisted tokenizer:
    // the loaded-artifact fertility must produce EXACTLY the rows of
    // the in-session refit (merges are strings and longs — parquet
    // round-trips them identically) — full-outer join on source, zero
    // tolerance on every column.
    // Not benched: trains and loads only to compare (q_llm_bpe_fertility_idx is).
    Q("q_llm_tok_index_check",
      (s, dir) => {
        val docs = t(s, dir, "documents")
        val tbl = s"$dir/documents.parquet"
        val idx = s"${graft.ops.CachedRelations.tempDir("tok_idx_")}/idx"
        graft.ops.TokenizerIndex.write(s, tbl, idx, "bpe", "text", param = 1000)
        val loaded = graft.ops.TokenizerIndex.fertilityIndexed(s, docs, "bpe",
            "text", "source", tbl, idx)
          .select(col("source"), col("n_tokens").as("l_t"),
            col("fertility_micro").as("l_f"))
        val merges = graft.ops.Tokenizer.bpeTrain(docs, "text", numMerges = 1000)
          .orderBy("rank").collect()
          .map(r => (r.getString(1), r.getString(2))).toSeq
        val fit = graft.ops.Tokenizer.bpeFertility(docs, "text", "source", merges,
            nativeEncode = true)
          .select(col("source"), col("n_tokens").as("f_t"),
            col("fertility_micro").as("f_f"))
        loaded.join(fit, Seq("source"), "full_outer")
          .agg(count(lit(1)).as("n_sources"),
            sum(when(col("l_t").isNull || col("f_t").isNull ||
                col("l_t") =!= col("f_t") || col("l_f") =!= col("f_f"), 1L)
              .otherwise(0L)).as("n_mismatch"))
      },
      Some("""SELECT (SELECT COUNT(DISTINCT source) FROM documents
          WHERE text IS NOT NULL) AS n_sources,
        CAST(0 AS BIGINT) AS n_mismatch"""), benched = false),

    // BPE-ish pre-tokenization count (word runs + punctuation).
    Q("q_llm_bpe_tokens",
      (s, dir) => t(s, dir, "documents").select(col("doc_id"),
        TextAnalysis.bpeTokenCount(col("text")).as("n_bpe")),
      Some("""SELECT doc_id,
        len(regexp_extract_all(lower(text), '[a-z0-9_]+|[^a-z0-9_\s]')) AS n_bpe
        FROM documents""")),

    // Mod-sampling rolling-hash fingerprint (content-defined dedup shape).
    // Not benched: md5 oracle twin of the benched q_llm_rolling_fp_x64.
    Q("q_llm_rolling_fp",
      (s, dir) => TextAnalysis.rollingFingerprint(t(s, dir, "documents"), "doc_id", "text"),
      Some("""WITH sh AS (SELECT doc_id,
          unnest(list_distinct(list_transform(
            generate_series(1, greatest(1, length(lower(text)) - 7)),
            i -> substr(lower(text), i, 8)))) AS s
          FROM documents),
        h AS (SELECT doc_id, ('0x' || substr(md5(s), 1, 15))::BIGINT AS h FROM sh)
        SELECT doc_id, array_to_string(list_sort(list(DISTINCT h)), ',') AS fp
        FROM h WHERE h % 16 = 0 GROUP BY doc_id"""), benched = false),

    // Winnowing fingerprint (window-min over positional shingle hashes).
    // xxhash64 production twins of the two md5-portable fingerprint
    // fixtures below — identical algorithm, engine-local hash (rows-only).
    Q("q_llm_rolling_fp_x64",
      (s, dir) => TextAnalysis.rollingFingerprint(t(s, dir, "documents"), "doc_id", "text",
        portableHash = false),
      None),
    Q("q_llm_winnowing_x64",
      (s, dir) => TextAnalysis.winnowingFingerprint(t(s, dir, "documents"), "doc_id", "text",
        portableHash = false),
      None),

    // Not benched: md5 oracle twin of the benched q_llm_winnowing_x64.
    Q("q_llm_winnowing",
      (s, dir) => TextAnalysis.winnowingFingerprint(t(s, dir, "documents"), "doc_id", "text"),
      Some("""WITH base AS (SELECT doc_id, lower(text) AS lt FROM documents),
        p AS (SELECT doc_id,
            unnest(generate_series(1, greatest(1, length(lt) - 7))) AS pos, lt
          FROM base),
        h AS (SELECT doc_id, pos,
            ('0x' || substr(md5(substr(lt, pos, 8)), 1, 15))::BIGINT AS h FROM p),
        wm AS (SELECT doc_id,
            min(h) OVER (PARTITION BY doc_id ORDER BY pos
              ROWS BETWEEN 3 PRECEDING AND CURRENT ROW) AS wmin,
            row_number() OVER (PARTITION BY doc_id ORDER BY pos) AS rn
          FROM h)
        SELECT doc_id, array_to_string(list_sort(list(DISTINCT wmin)), ',') AS fp
        FROM wm WHERE rn >= 4 GROUP BY doc_id"""), benched = false),

    // Near-dup dedup end-to-end: pairs -> connected components ->
    // canonical representative per cluster (rows-only: xxhash64 pairs).
    Q("q_llm_dedup_clusters",
      (s, dir) => {
        val docs = t(s, dir, "documents")
        val pairs = Dedup.minhashNearDupPairs(docs, "doc_id", "text",
          shingleSize = 5, numHashes = 16, bands = 4, threshold = 0.5)
        graft.ops.Clusters.dedupByPairs(docs.select(col("doc_id"), col("lang"), col("n_chars")),
          "doc_id", pairs, "id_a", "id_b")
      },
      None),

    // Oracle twin of the cluster dedup: md5-portable pairs, connected
    // components checked against a DuckDB recursive-CTE min-label walk.
    // Not benched: md5 oracle twin of the benched q_llm_dedup_clusters.
    Q("q_llm_dedup_clusters_md5",
      (s, dir) => {
        val docs = t(s, dir, "documents")
        val pairs = Dedup.minhashPortablePairs(docs, "doc_id", "text",
          shingleSize = 4, numHashes = 8, bands = 4, threshold = 0.5)
        graft.ops.Clusters.dedupByPairs(docs.select(col("doc_id"), col("lang"), col("n_chars")),
          "doc_id", pairs, "id_a", "id_b")
      },
      Some(LlmOracles.dedupClustersMd5), benched = false),

    // Large-star/small-star connected components (Kiveris 2014) — the
    // O(log² n) scale engine whose round count is independent of graph
    // diameter (connectedComponents' distributed branch). The md5
    // face hash-matches the DuckDB recursive-CTE min-label walk; the
    // x64 twin below benches the engine on the production pair graph.
    Q("q_llm_cc_star",
      (s, dir) => {
        val pairs = Dedup.minhashPortablePairs(t(s, dir, "documents"),
          "doc_id", "text", shingleSize = 4, numHashes = 8, bands = 4,
          threshold = 0.5)
        graft.ops.Clusters.connectedComponentsStar(pairs, "id_a", "id_b")
      },
      Some(LlmOracles.ccStarMd5), benched = false),

    Q("q_llm_cc_star_x64",
      (s, dir) => {
        val pairs = Dedup.minhashNearDupPairs(t(s, dir, "documents"),
          "doc_id", "text", shingleSize = 5, numHashes = 16, bands = 4,
          threshold = 0.5)
        graft.ops.Clusters.connectedComponentsStar(pairs, "id_a", "id_b")
      },
      None),

    // IVF ANN (k-means coarse quantizer + probe + exact re-rank) —
    // rows-only (k-means cells are seed-deterministic but engine-local).
    // nlist=16/nprobe=8 is the r8 RecallCheck operating point on the
    // 2026-08-13 testdata: recall@3 0.859/0.843/0.830 at sf0.001/0.01/0.1
    // — the same probed-cell fraction (1/2) as the old 8/4 config (which
    // had sunk to 0.774 on the regenerated vectors), but finer cells
    // select candidates better at equal expected candidate volume.
    Q("q_llm_ann_ivf",
      (s, dir) => Similarity.ivfTopK(t(s, dir, "embeddings"), "vec_id", "embedding",
        dims = 64, k = 3, nlist = 16, nprobe = 8),
      None),

    // Memory-bound IVF variant: int8-code coarse scoring (native
    // integer dot), exact float re-rank on the rerankFactor*k
    // survivors only — rows-only; RecallCheck pins it within ~0.02 of
    // the float path.
    Q("q_llm_ann_ivf8",
      (s, dir) => Similarity.ivfTopKInt8(t(s, dir, "embeddings"), "vec_id", "embedding",
        dims = 64, k = 3, nlist = 16, nprobe = 8),
      None),

    // IVF-PQ: product-quantized candidates (m codebook lookups per
    // candidate instead of a float-vector fetch), asymmetric-distance
    // coarse pass, exact re-rank — rows-only; RecallCheck reports the
    // recall alongside the float/int8 paths.
    // m=16/ksub=32 is the r8 operating point (the old ksub=16 fell to
    // 0.736 at sf0.1 on the regenerated vectors; 5-bit codes recover
    // it — 16 5-bit codes = 10 B/vector on the candidate exchange).
    // rerankFrac=0.2 (r16): a fixed rerank=24·k diluted monotonically
    // with corpus size (recall@3 0.859/0.843/0.817 across SFs, heading
    // for the 0.8 floor); the corpus-scaled operating point reranks a
    // constant FRACTION of each query's cell-pruned candidates — the
    // binaryTopK fix applied to PQ.
    Q("q_llm_ann_pq",
      (s, dir) => Similarity.ivfPqTopK(t(s, dir, "embeddings"), "vec_id", "embedding",
        dims = 64, k = 3, nlist = 16, nprobe = 8, m = 16, ksub = 32,
        rerankFactor = 24, rerankFrac = 0.2),
      None),

    // Cross-corpus IVF lookup: every 50th vector queries the rest
    // (the retrieval shape — no self-join; rows-only, ivf cells).
    Q("q_llm_ann_lookup",
      (s, dir) => {
        val e = t(s, dir, "embeddings")
        Similarity.ivfLookup(
          e.filter(col("vec_id") % 50 === 0),
          e.filter(col("vec_id") % 50 =!= 0),
          "vec_id", "embedding", dims = 64, k = 3, nlist = 16, nprobe = 8)
      },
      None),

    // Persisted-ANN-index lifecycle as one graded plan (the "fit once,
    // probe for weeks" production shape): build + stamp an IVF-FLAT
    // index of the embeddings table (seeded coarse quantizer, vectors
    // partitioned by cell), then answer a query batch through the
    // VERIFIED index — centroids load as literals, the cell join
    // partition-prunes the codes, nothing refits and the corpus table
    // is never re-read. Rows-only (k-means cells are engine-local);
    // q_llm_ann_persist_check pins loaded ≡ in-session exactly, the
    // `ivf_loaded` RecallCheck path gates its recall, and
    // AnnIndexSpec pins the stale/rebuild lifecycle.
    Q("q_llm_ann_persist",
      (s, dir) => {
        val e = t(s, dir, "embeddings")
        val tbl = s"$dir/embeddings.parquet"
        val idx = s"/tmp/graft_ann_idx_ivf_${math.abs(dir.hashCode)}"
        graft.ops.AnnIndex.writeIvfIndex(s, e, tbl, idx, "vec_id", "embedding",
          dims = 64, nlist = 16)
        graft.ops.AnnIndex.ivfLookupIndexed(s, e.filter(col("vec_id") % 50 === 0),
          tbl, idx, k = 3, nprobe = 8)
      },
      None),

    // Engine-internal equivalence oracle for the persisted IVF index:
    // a loaded-index probe must produce EXACTLY the rows of the
    // in-session fit (persisted centroids round-trip through parquet
    // doubles bit-exactly; assignments are stored, not recomputed) —
    // one full-outer join on (qid, rank), zero tolerance on neighbor
    // ids, 1e-9 on the score.
    // Not benched: index and in-session fit only to compare (q_llm_ann_persist, q_llm_ann_ivf are).
    Q("q_llm_ann_persist_check",
      (s, dir) => {
        val e = t(s, dir, "embeddings")
        val tbl = s"$dir/embeddings.parquet"
        val idx = s"${graft.ops.CachedRelations.tempDir("ann_persist_")}/idx"
        graft.ops.AnnIndex.writeIvfIndex(s, e, tbl, idx, "vec_id", "embedding",
          dims = 64, nlist = 16)
        val queries = e.filter(col("vec_id") % 50 === 0)
        val loaded = graft.ops.AnnIndex.ivfLookupIndexed(s, queries, tbl, idx,
            k = 3, nprobe = 8)
          .select(col("qid"), col("rank"), col("nid").as("l_nid"), col("cos").as("l_cos"))
        val fit = Similarity.ivfLookup(queries, e, "vec_id", "embedding",
            dims = 64, k = 3, nlist = 16, nprobe = 8)
          .select(col("qid"), col("rank"), col("nid").as("f_nid"), col("cos").as("f_cos"))
        loaded.join(fit, Seq("qid", "rank"), "full_outer")
          .agg(
            countDistinct(when(col("l_nid").isNotNull, col("qid"))).as("n_queries"),
            sum(when(col("l_nid").isNull || col("f_nid").isNull ||
                col("l_nid") =!= col("f_nid") ||
                abs(col("l_cos") - col("f_cos")) > 1e-9, 1L)
              .otherwise(0L)).as("n_mismatch"))
      },
      Some("""SELECT (SELECT COUNT(*) FROM embeddings WHERE vec_id % 50 = 0) AS n_queries,
        CAST(0 AS BIGINT) AS n_mismatch"""), benched = false),

    // Append-lifecycle equivalence oracle (r13 verdict ask 4): an index
    // built on two thirds of the corpus and APPENDED with the rest
    // (new vectors assigned to the FROZEN cells, stamp gaining a delta
    // part) must answer probes EXACTLY like a full rebuild when every
    // cell is probed — at nprobe = nlist the cell assignment cannot
    // affect the result set, so any divergence is a lifecycle bug
    // (lost rows, duplicated codes, wrong norms). Full-outer join on
    // (qid, rank), zero tolerance on neighbor ids, 1e-9 on the score.
    // Not benched: two indexes only to compare (q_llm_ann_persist benches the probe).
    Q("q_llm_ann_append_check",
      (s, dir) => {
        val e = t(s, dir, "embeddings")
        val tmp = graft.ops.CachedRelations.tempDir("ann_append_")
        val baseTbl = s"$tmp/base"
        val deltaTbl = s"$tmp/delta"
        val fullTbl = s"$dir/embeddings.parquet"
        e.filter(col("vec_id") % 3 =!= 0).write.mode("overwrite").parquet(baseTbl)
        e.filter(col("vec_id") % 3 === 0).write.mode("overwrite").parquet(deltaTbl)
        val idxA = s"$tmp/idx_appended"
        val idxR = s"$tmp/idx_rebuilt"
        graft.ops.AnnIndex.writeIvfIndex(s, s.read.parquet(baseTbl), baseTbl, idxA,
          "vec_id", "embedding", dims = 64, nlist = 16)
        graft.ops.AnnIndex.appendIvfIndex(s, s.read.parquet(deltaTbl), deltaTbl,
          idxA, baseTbl)
        graft.ops.AnnIndex.writeIvfIndex(s, e, fullTbl, idxR,
          "vec_id", "embedding", dims = 64, nlist = 16)
        val queries = e.filter(col("vec_id") % 50 === 0)
        val appended = graft.ops.AnnIndex.ivfLookupIndexed(s, queries, baseTbl, idxA,
            k = 3, nprobe = 16)
          .select(col("qid"), col("rank"), col("nid").as("a_nid"), col("cos").as("a_cos"))
        val rebuilt = graft.ops.AnnIndex.ivfLookupIndexed(s, queries, fullTbl, idxR,
            k = 3, nprobe = 16)
          .select(col("qid"), col("rank"), col("nid").as("r_nid"), col("cos").as("r_cos"))
        appended.join(rebuilt, Seq("qid", "rank"), "full_outer")
          .agg(
            countDistinct(when(col("a_nid").isNotNull, col("qid"))).as("n_queries"),
            sum(when(col("a_nid").isNull || col("r_nid").isNull ||
                col("a_nid") =!= col("r_nid") ||
                abs(col("a_cos") - col("r_cos")) > 1e-9, 1L)
              .otherwise(0L)).as("n_mismatch"))
      },
      Some("""SELECT (SELECT COUNT(*) FROM embeddings WHERE vec_id % 50 = 0) AS n_queries,
        CAST(0 AS BIGINT) AS n_mismatch"""), benched = false),

    // Append equivalence for the BINARY index: sign quantization has
    // no fitted state, so an appended index must equal a full rebuild
    // EXACTLY at every operating point (incl. the corpus-scaled
    // rerankFrac — both sides see the same corpus size).
    // Not benched: two indexes only to compare (q_llm_ann_binary benches the probe).
    Q("q_llm_ann_bin_append_check",
      (s, dir) => {
        val e = t(s, dir, "embeddings")
        val tmp = graft.ops.CachedRelations.tempDir("annb_append_")
        val baseTbl = s"$tmp/base"
        val deltaTbl = s"$tmp/delta"
        val fullTbl = s"$dir/embeddings.parquet"
        e.filter(col("vec_id") % 3 =!= 0).write.mode("overwrite").parquet(baseTbl)
        e.filter(col("vec_id") % 3 === 0).write.mode("overwrite").parquet(deltaTbl)
        val idxA = s"$tmp/idx_appended"
        val idxR = s"$tmp/idx_rebuilt"
        graft.ops.AnnIndex.writeBinaryIndex(s, s.read.parquet(baseTbl), baseTbl,
          idxA, "vec_id", "embedding", dims = 64)
        graft.ops.AnnIndex.appendBinaryIndex(s, s.read.parquet(deltaTbl), deltaTbl,
          idxA, baseTbl)
        graft.ops.AnnIndex.writeBinaryIndex(s, e, fullTbl, idxR,
          "vec_id", "embedding", dims = 64)
        val queries = e.filter(col("vec_id") % 50 === 0)
        val appended = graft.ops.AnnIndex.binaryLookupIndexed(s, queries, e,
            baseTbl, idxA, k = 3, rerank = 96, rerankFrac = 0.2)
          .select(col("qid"), col("rank"), col("nid").as("a_nid"), col("cos").as("a_cos"))
        val rebuilt = graft.ops.AnnIndex.binaryLookupIndexed(s, queries, e,
            fullTbl, idxR, k = 3, rerank = 96, rerankFrac = 0.2)
          .select(col("qid"), col("rank"), col("nid").as("r_nid"), col("cos").as("r_cos"))
        appended.join(rebuilt, Seq("qid", "rank"), "full_outer")
          .agg(
            countDistinct(when(col("a_nid").isNotNull, col("qid"))).as("n_queries"),
            sum(when(col("a_nid").isNull || col("r_nid").isNull ||
                col("a_nid") =!= col("r_nid") ||
                abs(col("a_cos") - col("r_cos")) > 1e-9, 1L)
              .otherwise(0L)).as("n_mismatch"))
      },
      Some("""SELECT (SELECT COUNT(*) FROM embeddings WHERE vec_id % 50 = 0) AS n_queries,
        CAST(0 AS BIGINT) AS n_mismatch"""), benched = false),

    // Append equivalence for the IVF-PQ index, on a bounded sub-corpus:
    // with every cell probed AND a rerank set covering every candidate,
    // the (frozen vs refit) quantizers cannot drop or reorder anything —
    // the exact re-rank decides alone, so appended ≡ rebuild row-exactly.
    // Not benched: two indexes only to compare (q_llm_ann_pq benches the probe).
    Q("q_llm_ann_pq_append_check",
      (s, dir) => {
        val e = t(s, dir, "embeddings")
        val tmp = graft.ops.CachedRelations.tempDir("annpq_append_")
        val sub = e.filter(col("vec_id") % 5 === 0)
        val baseTbl = s"$tmp/base"
        val deltaTbl = s"$tmp/delta"
        val fullTbl = s"$tmp/full"
        sub.filter(col("vec_id") % 3 =!= 0).write.mode("overwrite").parquet(baseTbl)
        sub.filter(col("vec_id") % 3 === 0).write.mode("overwrite").parquet(deltaTbl)
        sub.write.mode("overwrite").parquet(fullTbl)
        val idxA = s"$tmp/idx_appended"
        val idxR = s"$tmp/idx_rebuilt"
        graft.ops.AnnIndex.writePqIndex(s, s.read.parquet(baseTbl), baseTbl, idxA,
          "vec_id", "embedding", dims = 64, nlist = 16, m = 16, ksub = 32)
        graft.ops.AnnIndex.appendPqIndex(s, s.read.parquet(deltaTbl), deltaTbl,
          idxA, baseTbl)
        graft.ops.AnnIndex.writePqIndex(s, s.read.parquet(fullTbl), fullTbl, idxR,
          "vec_id", "embedding", dims = 64, nlist = 16, m = 16, ksub = 32)
        // the exhaustive-rerank premise must hold at ANY corpus scale:
        // derive the cap from the sub-corpus count so rerankFactor·k
        // always covers every candidate (a fixed cap would truncate on
        // a bigger SF and the frozen-vs-refit ADC orderings would keep
        // different survivor sets — a spurious gate failure)
        val exhaustive = (s.read.parquet(fullTbl).count() / 3 + 1).toInt
        val appended = graft.ops.AnnIndex.pqTopKIndexed(s, s.read.parquet(fullTbl),
            baseTbl, idxA, k = 3, nprobe = 16, rerankFactor = exhaustive)
          .select(col("qid"), col("rank"), col("nid").as("a_nid"), col("cos").as("a_cos"))
        val rebuilt = graft.ops.AnnIndex.pqTopKIndexed(s, s.read.parquet(fullTbl),
            fullTbl, idxR, k = 3, nprobe = 16, rerankFactor = exhaustive)
          .select(col("qid"), col("rank"), col("nid").as("r_nid"), col("cos").as("r_cos"))
        appended.join(rebuilt, Seq("qid", "rank"), "full_outer")
          .agg(
            countDistinct(when(col("a_nid").isNotNull, col("qid"))).as("n_queries"),
            sum(when(col("a_nid").isNull || col("r_nid").isNull ||
                col("a_nid") =!= col("r_nid") ||
                abs(col("a_cos") - col("r_cos")) > 1e-9, 1L)
              .otherwise(0L)).as("n_mismatch"))
      },
      Some("""SELECT (SELECT COUNT(*) FROM embeddings WHERE vec_id % 5 = 0) AS n_queries,
        CAST(0 AS BIGINT) AS n_mismatch"""), benched = false),

    // Same contract for the persisted IVF-PQ index: loaded centroids +
    // codebooks + codes must reproduce ivfPqTopK row-exactly at the
    // production operating point.
    // Not benched: index and in-session fit only to compare (q_llm_ann_pq is).
    Q("q_llm_ann_pq_persist_check",
      (s, dir) => {
        val e = t(s, dir, "embeddings")
        val tbl = s"$dir/embeddings.parquet"
        val idx = s"${graft.ops.CachedRelations.tempDir("annpq_persist_")}/idx"
        graft.ops.AnnIndex.writePqIndex(s, e, tbl, idx, "vec_id", "embedding",
          dims = 64, nlist = 16, m = 16, ksub = 32)
        val loaded = graft.ops.AnnIndex.pqTopKIndexed(s, e, tbl, idx,
            k = 3, nprobe = 8, rerankFactor = 24, rerankFrac = 0.2)
          .select(col("qid"), col("rank"), col("nid").as("l_nid"), col("cos").as("l_cos"))
        val fit = Similarity.ivfPqTopK(e, "vec_id", "embedding",
            dims = 64, k = 3, nlist = 16, nprobe = 8, m = 16, ksub = 32,
            rerankFactor = 24, rerankFrac = 0.2)
          .select(col("qid"), col("rank"), col("nid").as("f_nid"), col("cos").as("f_cos"))
        loaded.join(fit, Seq("qid", "rank"), "full_outer")
          .agg(
            countDistinct(when(col("l_nid").isNotNull, col("qid"))).as("n_queries"),
            sum(when(col("l_nid").isNull || col("f_nid").isNull ||
                col("l_nid") =!= col("f_nid") ||
                abs(col("l_cos") - col("f_cos")) > 1e-9, 1L)
              .otherwise(0L)).as("n_mismatch"))
      },
      Some("""SELECT (SELECT COUNT(*) FROM embeddings) AS n_queries,
        CAST(0 AS BIGINT) AS n_mismatch"""), benched = false),

    // Persisted-LSH production face (the lifecycle row of the CHEAPEST
    // index kind): ENSURE-not-rebuild like q_llm_mkn_ppl_idx — verify
    // the stamp AND the fit geometry, build only when absent, stale,
    // or at a different operating point; a coherent artifact probes
    // directly, with BOTH bucket legs read from the codes (zero
    // hyperplane sums at probe time). Rows-only:
    // q_llm_ann_lsh_persist_check pins loaded ≡ in-session lshTopK
    // row-exactly and the `lsh_loaded` RecallCheck path gates recall.
    Q("q_llm_ann_lsh_persist",
      (s, dir) => {
        val e = t(s, dir, "embeddings")
        val tbl = s"$dir/embeddings.parquet"
        val idx = s"/tmp/graft_ann_idx_lshp_${math.abs(dir.hashCode)}"
        val ok = try {
          val m = graft.ops.AnnIndex.verify(s, tbl, idx, "lsh")
          m.planes == 5 && m.tables == 6
        } catch { case _: IllegalStateException => false }
        if (!ok) graft.ops.AnnIndex.writeLshIndex(s, e, tbl, idx,
          "vec_id", "embedding", dims = 64, planes = 5, tables = 6)
        graft.ops.AnnIndex.lshTopKIndexed(s, e, tbl, idx, k = 3)
      },
      None),

    // Same contract for the persisted LSH index — the one ANN kind
    // with NO fitted state (hyperplanes are deterministic hashes), so
    // the loaded self-join must equal the in-session lshTopK at the
    // production operating point row-exactly, with not one hyperplane
    // sum computed on the probe side (both bucket legs read the codes).
    // Not benched: index and in-session fit only to compare (q_llm_ann_lsh is).
    Q("q_llm_ann_lsh_persist_check",
      (s, dir) => {
        val e = t(s, dir, "embeddings")
        val tbl = s"$dir/embeddings.parquet"
        val idx = s"${graft.ops.CachedRelations.tempDir("annlsh_persist_")}/idx"
        graft.ops.AnnIndex.writeLshIndex(s, e, tbl, idx, "vec_id", "embedding",
          dims = 64, planes = 5, tables = 6)
        val loaded = graft.ops.AnnIndex.lshTopKIndexed(s, e, tbl, idx, k = 3)
          .select(col("qid"), col("rank"), col("nid").as("l_nid"), col("cos").as("l_cos"))
        val fit = Similarity.lshTopK(e, "vec_id", "embedding",
            dims = 64, k = 3, planes = 5, tables = 6)
          .select(col("qid"), col("rank"), col("nid").as("f_nid"), col("cos").as("f_cos"))
        loaded.join(fit, Seq("qid", "rank"), "full_outer")
          .agg(
            countDistinct(when(col("l_nid").isNotNull, col("qid"))).as("n_queries"),
            sum(when(col("l_nid").isNull || col("f_nid").isNull ||
                col("l_nid") =!= col("f_nid") ||
                abs(col("l_cos") - col("f_cos")) > 1e-9, 1L)
              .otherwise(0L)).as("n_mismatch"))
      },
      // every vector has at least one same-bucket neighbor at this
      // operating point on this corpus (recall-gated), so the query
      // count is the full table like the pq persist check
      Some("""SELECT (SELECT COUNT(*) FROM embeddings) AS n_queries,
        CAST(0 AS BIGINT) AS n_mismatch"""), benched = false),

    // Append equivalence for the LSH index: buckets are a pure
    // function of the vector (no fitted state at all), so an appended
    // index must equal a full rebuild EXACTLY at every operating
    // point — the strongest equivalence in the append family.
    // Not benched: two indexes only to compare (q_llm_ann_lsh benches the probe).
    Q("q_llm_ann_lsh_append_check",
      (s, dir) => {
        val e = t(s, dir, "embeddings")
        val tmp = graft.ops.CachedRelations.tempDir("annlsh_append_")
        val baseTbl = s"$tmp/base"
        val deltaTbl = s"$tmp/delta"
        val fullTbl = s"$dir/embeddings.parquet"
        e.filter(col("vec_id") % 3 =!= 0).write.mode("overwrite").parquet(baseTbl)
        e.filter(col("vec_id") % 3 === 0).write.mode("overwrite").parquet(deltaTbl)
        val idxA = s"$tmp/idx_appended"
        val idxR = s"$tmp/idx_rebuilt"
        graft.ops.AnnIndex.writeLshIndex(s, s.read.parquet(baseTbl), baseTbl, idxA,
          "vec_id", "embedding", dims = 64, planes = 5, tables = 6)
        graft.ops.AnnIndex.appendLshIndex(s, s.read.parquet(deltaTbl), deltaTbl,
          idxA, baseTbl)
        graft.ops.AnnIndex.writeLshIndex(s, e, fullTbl, idxR,
          "vec_id", "embedding", dims = 64, planes = 5, tables = 6)
        val appended = graft.ops.AnnIndex.lshTopKIndexed(s, e, baseTbl, idxA, k = 3)
          .select(col("qid"), col("rank"), col("nid").as("a_nid"), col("cos").as("a_cos"))
        val rebuilt = graft.ops.AnnIndex.lshTopKIndexed(s, e, fullTbl, idxR, k = 3)
          .select(col("qid"), col("rank"), col("nid").as("r_nid"), col("cos").as("r_cos"))
        appended.join(rebuilt, Seq("qid", "rank"), "full_outer")
          .agg(
            countDistinct(when(col("a_nid").isNotNull, col("qid"))).as("n_queries"),
            sum(when(col("a_nid").isNull || col("r_nid").isNull ||
                col("a_nid") =!= col("r_nid") ||
                abs(col("a_cos") - col("r_cos")) > 1e-9, 1L)
              .otherwise(0L)).as("n_mismatch"))
      },
      Some("""SELECT (SELECT COUNT(*) FROM embeddings) AS n_queries,
        CAST(0 AS BIGINT) AS n_mismatch"""), benched = false),

    // Same contract for the persisted binary index: stored sign bits
    // must reproduce binaryTopK (incl. the corpus-fraction-scaled
    // rerank) row-exactly.
    // Not benched: index and in-session fit only to compare (q_llm_ann_binary is).
    Q("q_llm_ann_bin_persist_check",
      (s, dir) => {
        val e = t(s, dir, "embeddings")
        val tbl = s"$dir/embeddings.parquet"
        val idx = s"${graft.ops.CachedRelations.tempDir("annb_persist_")}/idx"
        graft.ops.AnnIndex.writeBinaryIndex(s, e, tbl, idx, "vec_id", "embedding",
          dims = 64)
        val queries = e.filter(col("vec_id") < 20)
        val loaded = graft.ops.AnnIndex.binaryLookupIndexed(s, queries, e, tbl, idx,
            k = 3, rerank = 96, rerankFrac = 0.2)
          .select(col("qid"), col("rank"), col("nid").as("l_nid"), col("cos").as("l_cos"))
        val fit = Similarity.binaryTopK(queries, e, "vec_id", "embedding",
            dims = 64, k = 3, rerank = 96, rerankFrac = 0.2)
          .select(col("qid"), col("rank"), col("nid").as("f_nid"), col("cos").as("f_cos"))
        loaded.join(fit, Seq("qid", "rank"), "full_outer")
          .agg(
            countDistinct(when(col("l_nid").isNotNull, col("qid"))).as("n_queries"),
            sum(when(col("l_nid").isNull || col("f_nid").isNull ||
                col("l_nid") =!= col("f_nid") ||
                abs(col("l_cos") - col("f_cos")) > 1e-9, 1L)
              .otherwise(0L)).as("n_mismatch"))
      },
      Some("""SELECT (SELECT COUNT(*) FROM embeddings WHERE vec_id < 20) AS n_queries,
        CAST(0 AS BIGINT) AS n_mismatch"""), benched = false),

    // End-to-end corpus cleaning: quality gate -> exact dedup ->
    // near-dup cluster resolution (rows-only: xxhash64 pairs).
    Q("q_llm_corpus_clean",
      (s, dir) => graft.ops.Corpus.clean(t(s, dir, "documents"), "doc_id", "text",
        graft.ops.Corpus.CleanConfig(minQuality = 0.2, nearDupThreshold = 0.6)),
      None),

    // Oracle twin of the full cleaning composite: portable hashing end
    // to end, so quality gate + exact dedup + recursive-CTE clusters
    // all verify in DuckDB.
    // Not benched: md5 oracle twin of the benched q_llm_corpus_clean.
    Q("q_llm_corpus_clean_md5",
      (s, dir) => graft.ops.Corpus.clean(t(s, dir, "documents"), "doc_id", "text",
        graft.ops.Corpus.CleanConfig(minQuality = 0.2, nearDupThreshold = 0.5,
          portableHashing = true)),
      Some(LlmOracles.corpusCleanMd5), benched = false),

    // Benchmark decontamination: flag corpus docs sharing word 3-grams
    // with a deterministic "eval set" slice (doc_id % 97 == 0). The
    // engine joins on xxhash64 gram keys; the oracle intersects the raw
    // gram strings — counts agree (hashing only affects equality).
    Q("q_llm_decontaminate",
      (s, dir) => {
        val d = t(s, dir, "documents")
        graft.ops.Decontaminate.flags(
          d.filter(col("doc_id") % 97 =!= 0),
          d.filter(col("doc_id") % 97 === 0),
          "doc_id", "text", n = 3, minOverlap = 2)
      },
      Some(LlmOracles.decontaminate)),

    // Contamination fraction per doc (audit face of decontaminate):
    // integral micro ratio of benchmark-overlapping distinct grams.
    Q("q_llm_contamination_score",
      (s, dir) => {
        val d = t(s, dir, "documents")
        graft.ops.Decontaminate.score(
          d.filter(col("doc_id") % 97 =!= 0),
          d.filter(col("doc_id") % 97 === 0),
          "doc_id", "text", n = 3)
      },
      Some("""WITH tk AS (SELECT doc_id, string_split_regex(lower(trim(text)), '\s+') AS toks
          FROM documents),
        g AS (SELECT doc_id, list_distinct(list_transform(
            generate_series(1, greatest(1, len(toks) - 2)),
            i -> array_to_string(list_slice(toks, i, i + 2), ' '))) AS grams FROM tk),
        bg AS (SELECT DISTINCT unnest(grams) AS gr FROM g WHERE doc_id % 97 = 0),
        cg AS (SELECT doc_id, unnest(grams) AS gr FROM g WHERE doc_id % 97 <> 0),
        cnt AS (SELECT doc_id, COUNT(*) AS n FROM cg JOIN bg USING (gr) GROUP BY doc_id)
        SELECT d.doc_id, CAST(d.ng AS BIGINT) AS n_grams,
          CAST(COALESCE(cnt.n, 0) AS BIGINT) AS hit_grams,
          CAST(COALESCE(cnt.n, 0) * 1000000 // d.ng AS BIGINT) AS contamination_micro
        FROM (SELECT doc_id, len(grams) AS ng FROM g WHERE doc_id % 97 <> 0) d
        LEFT JOIN cnt USING (doc_id)""")),

    // Sequence packing: concat-and-chunk into 2048-token context
    // windows, 16 shards; window assignment is a pure function of
    // (shard, id order) — oracled via DuckDB window cumsums.
    Q("q_llm_pack_windows",
      (s, dir) => graft.ops.Packing.packWindows(
        t(s, dir, "documents"), "doc_id", "text", capacity = 2048, shards = 16),
      Some(LlmOracles.packWindows)),

    // Top-K corpus vocabulary (tokenizer-training seed table).
    Q("q_llm_vocab",
      (s, dir) => graft.ops.TextAnalysis.vocabulary(
        t(s, dir, "documents"), "text", topK = 1000),
      Some(LlmOracles.vocab)),

    // Dedup-canonical normalization: NFC compose + lower + whitespace
    // collapse + trim. The corpus is ASCII, so decomposed accents and
    // ragged whitespace are APPENDED per doc and must come back
    // composed and collapsed — the oracle builds the same string with
    // chr() combining marks and applies the same chain via DuckDB's
    // nfc_normalize.
    Q("q_llm_normalize",
      (s, dir) => {
        val d = t(s, dir, "documents")
        val injected = concat(col("text"),
          lit("  Café   naïve\tÅngström "))
        d.select(col("doc_id"),
          graft.ops.TextAnalysis.normalizeText(s, col("text")).as("clean_base"),
          graft.ops.TextAnalysis.normalizeText(s, injected).as("clean"))
      },
      Some("""SELECT doc_id,
          trim(regexp_replace(lower(nfc_normalize(text)), '\s+', ' ', 'g')) AS clean_base,
          trim(regexp_replace(lower(nfc_normalize(
            text || '  Cafe' || chr(769) || '   nai' || chr(776) || 've' || chr(9)
              || 'A' || chr(778) || 'ngstro' || chr(776) || 'm ')), '\s+', ' ', 'g')) AS clean
        FROM documents""")),

    // Per-source chi-square distribution drift vs the corpus unigram
    // mix (integral micros; zero cells folded in closed form).
    Q("q_llm_chi2_drift",
      (s, dir) => graft.ops.TextAnalysis.chiSquareDrift(
        t(s, dir, "documents"), "source", "text"),
      Some("""WITH st AS (SELECT source,
            unnest(string_split_regex(lower(trim(text)), '\s+')) AS tok
          FROM documents WHERE text IS NOT NULL),
        c AS (SELECT source, tok, COUNT(*) AS c_st FROM st GROUP BY 1, 2),
        w AS (SELECT source, tok, c_st,
            SUM(c_st) OVER (PARTITION BY source) AS n_s,
            SUM(c_st) OVER (PARTITION BY tok) AS c_t,
            SUM(c_st) OVER () AS n_total
          FROM c),
        e AS (SELECT source, c_st, n_s,
            greatest((CAST(n_s AS HUGEINT) * c_t * 1000000) // n_total, 1) AS e_micro
          FROM w),
        t AS (SELECT source, n_s, e_micro,
            (CAST(c_st AS HUGEINT) * 1000000 - e_micro)
              * (CAST(c_st AS HUGEINT) * 1000000 - e_micro)
              // CAST(e_micro AS HUGEINT) AS term_micro
          FROM e)
        SELECT source, CAST(MAX(n_s) AS BIGINT) AS n_tokens,
          CAST(SUM(term_micro) + (MAX(n_s) * 1000000 - SUM(e_micro)) AS BIGINT) AS chi2_micro
        FROM t GROUP BY 1""")),

    // Exact heavy hitters (tokens over a 1/64 corpus share) via
    // per-partition Misra-Gries candidates + an exact recount of the
    // candidate-filtered stream. The sketch only ever prunes work:
    // the output is the exact threshold set, so it hash-oracles
    // against the full-count SQL despite the approximate first pass.
    Q("q_llm_heavy_hitters",
      (s, dir) => graft.ops.TextAnalysis.heavyHitters(
        t(s, dir, "documents"), "text", kInv = 64),
      Some("""WITH tok AS (SELECT unnest(string_split_regex(lower(trim(text)), '\s+')) AS tok
          FROM documents),
        tot AS (SELECT COUNT(*) AS n_total FROM tok),
        c AS (SELECT tok, COUNT(*) AS n_tok FROM tok GROUP BY 1)
        SELECT tok, n_tok,
          CAST(n_tok * 1000000 // (SELECT n_total FROM tot) AS BIGINT) AS share_micro
        FROM c WHERE n_tok * 64 > (SELECT n_total FROM tot)""")),

    // PII redaction. The corpus is synthetic, so deterministic PII is
    // APPENDED per doc (an email, a dotted phone, an SSN shape) and
    // must come back redacted — the oracle builds the same string and
    // applies the same RE2-safe patterns.
    Q("q_llm_redact_pii",
      (s, dir) => {
        val d = t(s, dir, "documents")
        val injected = concat(col("text"),
          lit(" contact user"), col("doc_id"), lit("@example.com or 555.123.4567 id 123-45-"),
          lpad(pmod(col("doc_id"), lit(10000)).cast("string"), 4, "0"))
        d.select(col("doc_id"),
          graft.ops.TextAnalysis.redactPii(injected).as("clean"))
      },
      Some(LlmOracles.redactPii)),

    // Per-source cap: at most 20 docs per source, kept by md5-hash
    // rank (unbiased, rerun-stable) — the anti-monoculture guard.
    Q("q_llm_source_cap",
      (s, dir) => graft.ops.Sampling.capPerGroup(
        t(s, dir, "documents").select(col("doc_id"), col("source")),
        "source", "doc_id", maxPerGroup = 20),
      Some(LlmOracles.sourceCap)),

    // Gopher-style repetition signals: distinct-token ratio and
    // top-token fraction per doc.
    Q("q_llm_repetition",
      (s, dir) => graft.ops.TextAnalysis.repetitionStats(
        t(s, dir, "documents"), "doc_id", "text"),
      Some(LlmOracles.repetition)),

    // Deterministic hash-bucket train/val/test split (reproducible
    // across engines/cluster sizes — md5-portable, oracled).
    Q("q_llm_split",
      (s, dir) => graft.ops.Sampling.withSplit(
        t(s, dir, "documents").select(col("doc_id"), col("lang")), "doc_id")
        .groupBy(col("split"), col("lang")).agg(count(lit(1)).as("n")),
      Some("""WITH b AS (SELECT doc_id, lang,
          ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT % 100 AS bucket
          FROM documents)
        SELECT CASE WHEN bucket < 90 THEN 'train'
                    WHEN bucket < 95 THEN 'val'
                    ELSE 'test' END AS split, lang, COUNT(*) AS n
        FROM b GROUP BY 1, 2""")),

    // Stratified deterministic downsampling (dominant stratum at 20%).
    Q("q_llm_stratified_sample",
      (s, dir) => graft.ops.Sampling.stratifiedSample(
        t(s, dir, "documents").select(col("doc_id"), col("lang"), col("n_chars")),
        "doc_id", "lang", Map("en" -> 20), defaultPct = 100),
      Some("""SELECT doc_id, lang, n_chars FROM documents
        WHERE ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT % 100
          < (CASE WHEN lang = 'en' THEN 20 ELSE 100 END)""")),

    // Long-document chunking: 20-token windows with 4-token overlap.
    Q("q_llm_chunk",
      (s, dir) => graft.ops.Packing.chunkDocs(
        t(s, dir, "documents").select(col("doc_id"), col("text")),
        "doc_id", "text", chunkTokens = 20, overlap = 4),
      Some("""WITH tk AS (SELECT doc_id,
          string_split_regex(lower(trim(text)), '\s+') AS toks FROM documents),
        n AS (SELECT doc_id, toks,
          greatest(1, CAST(ceil(CAST(len(toks) - 4 AS DOUBLE) / 16) AS INT)) AS nc FROM tk),
        c AS (SELECT doc_id,
          list_transform(generate_series(0, nc - 1),
            i -> array_to_string(list_slice(toks, i * 16 + 1, i * 16 + 20), ' ')) AS chunks
          FROM n)
        SELECT doc_id,
          CAST(unnest(generate_series(0, len(chunks) - 1)) AS INT) AS chunk_idx,
          unnest(chunks) AS chunk_text,
          CAST(len(string_split_regex(unnest(chunks), '\s+')) AS INT) AS chunk_tokens
        FROM c""")),

    // Training-mixture resampling: per-source epoch weights (src0 seen
    // 2.5x, src1 downsampled to 30%, everything else 1x).
    Q("q_llm_mixture",
      (s, dir) => graft.ops.Sampling.mixtureResample(
        t(s, dir, "documents").select(col("doc_id"), col("source"), col("n_chars")),
        "doc_id", "source", Map("src0" -> 2.5, "src1" -> 0.3)),
      Some("""WITH w AS (SELECT doc_id, source, n_chars,
          CASE source WHEN 'src0' THEN 2.5 WHEN 'src1' THEN 0.3 ELSE 1.0 END AS wt,
          ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT % 1000000 AS b
          FROM documents),
        c AS (SELECT doc_id, source, n_chars,
          CAST(floor(wt) AS INT)
            + (CASE WHEN b < CAST(round((wt - floor(wt)) * 1000000) AS BIGINT) THEN 1 ELSE 0 END) AS n
          FROM w)
        SELECT doc_id, source, n_chars, CAST(unnest(generate_series(1, n)) AS INT) AS epoch
        FROM c WHERE n > 0""")),

    // REAL image decode end to end: synthesize a P5 gradient image per
    // doc (pixel = (x+y+doc_id) mod 256), decode it per-partition with
    // the pure-byte netpbm parser, emit exact integer features. The
    // oracle computes the same luma sum in closed form.
    Q("q_multimodal_decode",
      (s, dir) => {
        import s.implicits._
        val pgms = t(s, dir, "documents").select(col("doc_id")).as[Long]
          .mapPartitions(_.map(id => (id, Multimodal.synthPgm(id, 8, 8))))
          .toDF("doc_id", "content")
        Multimodal.imageFeatures(pgms, "doc_id", "content").toDF()
      },
      Some("""SELECT doc_id, 8 AS width, 8 AS height, 1 AS channels,
        true AS decoded,
        CAST((SELECT SUM((x.g + y.g + doc_id) % 256)
              FROM generate_series(0, 7) x(g), generate_series(0, 7) y(g))
          AS BIGINT) AS sum_luma
        FROM documents""")),

    // Integer Sobel edge energy over the REAL P5 decode: the synth
    // gradient pixel (x+y+id) mod 256 makes the convolved energy a
    // closed-form function of doc_id — the oracle restates the same
    // kernel arithmetic (incl. the mod-256 wrap seam) over
    // generate_series, so the decode+convolve path hash-verifies.
    Q("q_multimodal_edges",
      (s, dir) => {
        import s.implicits._
        val pgms = t(s, dir, "documents").select(col("doc_id")).as[Long]
          .mapPartitions(_.map(id => (id, Multimodal.synthPgm(id, 8, 8))))
          .toDF("doc_id", "content")
        Multimodal.imageEdgeEnergy(pgms, "doc_id", "content").toDF()
      },
      Some("""SELECT doc_id, 8 AS width, 8 AS height, true AS decoded,
        CAST((SELECT SUM(
          abs(((x.g+1 + y.g-1 + doc_id) % 256) + 2*((x.g+1 + y.g + doc_id) % 256)
            + ((x.g+1 + y.g+1 + doc_id) % 256)
            - ((x.g-1 + y.g-1 + doc_id) % 256) - 2*((x.g-1 + y.g + doc_id) % 256)
            - ((x.g-1 + y.g+1 + doc_id) % 256))
          + abs(((x.g-1 + y.g+1 + doc_id) % 256) + 2*((x.g + y.g+1 + doc_id) % 256)
            + ((x.g+1 + y.g+1 + doc_id) % 256)
            - ((x.g-1 + y.g-1 + doc_id) % 256) - 2*((x.g + y.g-1 + doc_id) % 256)
            - ((x.g+1 + y.g-1 + doc_id) % 256)))
          FROM generate_series(1, 6) x(g), generate_series(1, 6) y(g))
          AS BIGINT) AS edge_energy
        FROM documents""")),

    // Perceptual-hash image NEAR-DUP, end to end: each doc gets a 9×8
    // P5 image whose dHash bit-string is a closed-form function of
    // doc_id — Fibonacci-mixed group id (doc_id/4) XOR a variant mask
    // flipping (doc_id%4) low bits, so within-group pairs sit at
    // Hamming 1–3 and cross-group pairs are pseudorandomly far. The
    // engine REALLY decodes, resizes, dHashes and band-joins; the
    // oracle computes the same hashes arithmetically (HUGEINT wrap
    // mul) and mirrors the banding + bucket cap.
    Q("q_multimodal_neardup",
      (s, dir) => Multimodal.imageNearDupPairs(
        synthImages(s, dir), "doc_id", "content",
        maxHamming = 3, bands = 4),
      Some(LlmOracles.imageNearDup)),

    // Image DEDUP composite: near-dup pairs → connected components →
    // keep the min-id canonical per cluster (plus singletons). Oracle:
    // the same closed-form pair set feeds DuckDB's recursive-CTE
    // cluster walk.
    Q("q_multimodal_dedup",
      (s, dir) => {
        val pairs = Multimodal.imageNearDupPairs(
          synthImages(s, dir), "doc_id", "content",
          maxHamming = 3, bands = 4)
        graft.ops.Clusters.dedupByPairs(
          t(s, dir, "documents").select(col("doc_id"), col("lang"), col("n_chars")),
          "doc_id", pairs, "id_a", "id_b")
      },
      Some(LlmOracles.imageDedup)),

    // Audio near-dup, end to end: per doc a PCM WAV whose windowed
    // gradient hash realizes the SAME closed-form bit function as the
    // image fixtures, so the image oracle verifies the full
    // decode→window-mean→band-join audio pipeline too.
    Q("q_multimodal_audio_neardup",
      (s, dir) => {
        import s.implicits._
        val wavs = t(s, dir, "documents").select(col("doc_id")).as[Long]
          .mapPartitions(_.map { id =>
            val bits = (id / 4) * 0x9E3779B97F4A7C15L ^ ((1L << (id % 4).toInt) - 1L)
            (id, Multimodal.synthWavBits(bits))
          }).toDF("doc_id", "content")
        Multimodal.audioNearDupPairs(wavs, "doc_id", "content",
          maxHamming = 3, bands = 4)
      },
      Some(LlmOracles.imageNearDup)),

    // REAL audio decode: synthesize a 64-sample PCM WAV per doc
    // (sample i = ((i*7+doc_id) mod 65536) − 32768), decode the RIFF
    // chunks per-partition, emit exact integer energy. Closed-form
    // DuckDB oracle.
    Q("q_multimodal_audio",
      (s, dir) => {
        import s.implicits._
        val wavs = t(s, dir, "documents").select(col("doc_id")).as[Long]
          .mapPartitions(_.map(id => (id, Multimodal.synthWav(id, 64))))
          .toDF("doc_id", "content")
        Multimodal.audioFeatures(wavs, "doc_id", "content").toDF()
      },
      Some("""SELECT doc_id, 1 AS channels, 16000 AS sample_rate,
        64 AS n_samples, true AS decoded,
        CAST((SELECT SUM(((i.g * 7 + doc_id) % 65536 - 32768)
                       * ((i.g * 7 + doc_id) % 65536 - 32768))
              FROM generate_series(0, 63) i(g)) AS BIGINT) AS sum_sq
        FROM documents""")),

    // Mixed-container PCM decode (r9): even docs carry a real AIFF
    // (big-endian IFF chunks, 80-bit extended sample rate), odd docs
    // a RIFF WAV — both with the SAME sample pattern, so one
    // closed-form oracle covers both while the engine proves the
    // container dispatch.
    Q("q_multimodal_aiff",
      (s, dir) => {
        import s.implicits._
        val clips = t(s, dir, "documents").select(col("doc_id")).as[Long]
          .mapPartitions(_.map { id =>
            val bytes =
              if (id % 2 == 0) Multimodal.synthAiff(id, 64)
              else Multimodal.synthWav(id, 64)
            (id, bytes)
          }).toDF("doc_id", "content")
        Multimodal.audioFeatures(clips, "doc_id", "content").toDF()
      },
      Some("""SELECT doc_id, 1 AS channels, 16000 AS sample_rate,
        64 AS n_samples, true AS decoded,
        CAST((SELECT SUM(((i.g * 7 + doc_id) % 65536 - 32768)
                       * ((i.g * 7 + doc_id) % 65536 - 32768))
              FROM generate_series(0, 63) i(g)) AS BIGINT) AS sum_sq
        FROM documents""")),

    // G.711 μ-law decode (r10): even docs carry an 8-bit μ-law WAV
    // (audioFormat=7 — telephony audio, expanded through the CCITT
    // arithmetic, no codec library), odd docs 16-bit linear PCM; one
    // pipeline, both formats, the μ-law expansion restated as pure
    // integer arithmetic in the oracle (parity over all 256 code
    // bytes pinned in the spec).
    Q("q_multimodal_ulaw",
      (s, dir) => {
        import s.implicits._
        val clips = t(s, dir, "documents").select(col("doc_id")).as[Long]
          .mapPartitions(_.map { id =>
            val bytes =
              if (id % 2 == 0) Multimodal.synthUlawWav(id, 64)
              else Multimodal.synthWav(id, 64)
            (id, bytes)
          }).toDF("doc_id", "content")
        Multimodal.audioFeatures(clips, "doc_id", "content").toDF()
      },
      Some("""SELECT doc_id, 1 AS channels, 16000 AS sample_rate,
        64 AS n_samples, true AS decoded,
        CAST(list_sum(list_transform(
          list_transform(generate_series(0, 63), g ->
            CASE WHEN doc_id % 2 = 0 THEN
              CASE WHEN 255 - ((g * 7 + doc_id) % 256) >= 128
                THEN 132 - ((((255 - ((g * 7 + doc_id) % 256)) & 15) * 8 + 132)
                            << (((255 - ((g * 7 + doc_id) % 256)) >> 4) & 7))
                ELSE ((((255 - ((g * 7 + doc_id) % 256)) & 15) * 8 + 132)
                      << (((255 - ((g * 7 + doc_id) % 256)) >> 4) & 7)) - 132 END
            ELSE (g * 7 + doc_id) % 65536 - 32768 END),
          s -> s * s)) AS BIGINT) AS sum_sq
        FROM documents""")),

    // Both G.711 companding laws through one pipeline: even docs carry
    // A-law (audioFormat=6), odd docs mu-law (7); the oracle restates
    // each law's expansion as pure integer SQL (A-law: XOR 0x55,
    // segment shift, +8/+0x108 bias, sign bit SET = positive).
    Q("q_multimodal_alaw",
      (s, dir) => {
        import s.implicits._
        val clips = t(s, dir, "documents").select(col("doc_id")).as[Long]
          .mapPartitions(_.map { id =>
            val bytes =
              if (id % 2 == 0) Multimodal.synthAlawWav(id, 64)
              else Multimodal.synthUlawWav(id, 64)
            (id, bytes)
          }).toDF("doc_id", "content")
        Multimodal.audioFeatures(clips, "doc_id", "content").toDF()
      },
      Some("""SELECT doc_id, 1 AS channels, 16000 AS sample_rate,
        64 AS n_samples, true AS decoded,
        CAST(list_sum(list_transform(
          list_transform(generate_series(0, 63), g ->
            CASE WHEN doc_id % 2 = 0 THEN
              CASE WHEN xor((g * 7 + doc_id) % 256, 85) >= 128 THEN 1 ELSE -1 END *
              CASE WHEN ((xor((g * 7 + doc_id) % 256, 85) >> 4) & 7) = 0
                THEN (xor((g * 7 + doc_id) % 256, 85) & 15) * 16 + 8
                ELSE ((xor((g * 7 + doc_id) % 256, 85) & 15) * 16 + 264)
                     << (((xor((g * 7 + doc_id) % 256, 85) >> 4) & 7) - 1) END
            ELSE
              CASE WHEN 255 - ((g * 7 + doc_id) % 256) >= 128
                THEN 132 - ((((255 - ((g * 7 + doc_id) % 256)) & 15) * 8 + 132)
                            << (((255 - ((g * 7 + doc_id) % 256)) >> 4) & 7))
                ELSE ((((255 - ((g * 7 + doc_id) % 256)) & 15) * 8 + 132)
                      << (((255 - ((g * 7 + doc_id) % 256)) >> 4) & 7)) - 132 END
            END),
          s -> s * s)) AS BIGINT) AS sum_sq
        FROM documents""")),

    // IMA ADPCM decode (WAV format 0x11) — a true adaptive-predictive
    // codec, oracled COMPLETELY: decoding reproduces the encoder's own
    // predictor sequence, so a recursive CTE re-runs the published
    // state machine (89-entry step table, shift-add magnitude, clamped
    // predictor/index) from doc_id alone and sums the squares of every
    // decoded sample.
    Q("q_multimodal_adpcm",
      (s, dir) => {
        import s.implicits._
        val clips = t(s, dir, "documents").select(col("doc_id")).as[Long]
          .mapPartitions(_.map { id =>
            (id, Multimodal.synthImaAdpcmWav(id, nBlocks = 1))
          }).toDF("doc_id", "content")
        Multimodal.audioFeatures(clips, "doc_id", "content").toDF()
      },
      Some(LlmOracles.adpcm)),

    // ASCII netpbm decode (r10): P2 / P3 ASCII-sample rasters next to
    // the binary P5 — all three share one closed-form oracle (the P3
    // writes the same value in all three channels, so its luma sum is
    // exactly 3×).
    Q("q_multimodal_ascii_pnm",
      (s, dir) => {
        import s.implicits._
        val payload = t(s, dir, "documents").select(col("doc_id")).as[Long]
          .mapPartitions(_.map { id =>
            val bytes = (id % 3) match {
              case 0 => Multimodal.synthPgmAscii(id, 5, 4)
              case 1 => Multimodal.synthPpmAscii(id, 5, 4)
              case _ => Multimodal.synthPgm(id, 5, 4)
            }
            (id, bytes)
          }).toDF("doc_id", "content")
        Multimodal.imageFeatures(payload, "doc_id", "content").toDF()
      },
      Some("""SELECT doc_id, 5 AS width, 4 AS height,
        CASE WHEN doc_id % 3 = 1 THEN 3 ELSE 1 END AS channels,
        TRUE AS decoded,
        CAST((CASE WHEN doc_id % 3 = 1 THEN 3 ELSE 1 END) *
          list_sum(list_transform(generate_series(0, 3),
            y -> list_sum(list_transform(generate_series(0, 4),
              x -> (x + y + doc_id) % 256)))) AS BIGINT) AS sum_luma
        FROM documents""")),

    // Dominant-frequency detection: each doc gets a synthesized sine
    // at a probe-bank frequency chosen by doc_id (integer cycle counts
    // at 256 samples/16 kHz, so the Goertzel peak IS the synth bin) —
    // the engine really decodes the WAV and runs the recurrence; the
    // oracle states the closed-form expected peak.
    Q("q_multimodal_dominant_freq",
      (s, dir) => {
        import s.implicits._
        val probes = Multimodal.defaultProbeHz
        val wavs = t(s, dir, "documents").select(col("doc_id")).as[Long]
          .mapPartitions(_.map(id =>
            (id, Multimodal.synthSineWav(probes((id % 5).toInt), 256))))
          .toDF("doc_id", "content")
        Multimodal.dominantFrequency(wavs, "doc_id", "content")
          .toDF().select(col("doc_id"), col("decoded"), col("dominant_hz"))
      },
      Some("""SELECT doc_id, true AS decoded,
        CAST(CASE doc_id % 5 WHEN 0 THEN 250 WHEN 1 THEN 500 WHEN 2 THEN 1000
             WHEN 3 THEN 2000 ELSE 4000 END AS INT) AS dominant_hz
        FROM documents""")),

    // Multimodal plumbing: binary content + per-partition extraction.
    // Mixed-format raster decode (r9): even docs carry a real 24-bit
    // BMP (padding, bottom-up rows, BGR), odd docs a P5 netpbm — one
    // pipeline decodes both through decodeRaster; the oracle computes
    // each format's closed-form sample sum from doc_id.
    Q("q_multimodal_bmp",
      (s, dir) => {
        import s.implicits._
        val payload = t(s, dir, "documents").select(col("doc_id")).as[Long]
          .mapPartitions(_.map { id =>
            val bytes =
              if (id % 2 == 0) Multimodal.synthBmp(id, 5, 4)
              else Multimodal.synthPgm(id, 5, 4)
            (id, bytes)
          }).toDF("doc_id", "content")
        Multimodal.imageFeatures(payload, "doc_id", "content").toDF()
      },
      Some("""SELECT doc_id, 5 AS width, 4 AS height,
        CASE WHEN doc_id % 2 = 0 THEN 3 ELSE 1 END AS channels,
        TRUE AS decoded,
        CASE WHEN doc_id % 2 = 0 THEN
          CAST(15 * list_sum(list_transform(generate_series(0, 3),
            y -> (doc_id + y) % 256)) AS BIGINT)
        ELSE
          CAST(list_sum(list_transform(generate_series(0, 3),
            y -> list_sum(list_transform(generate_series(0, 4),
              x -> (x + y + doc_id) % 256)))) AS BIGINT)
        END AS sum_luma
        FROM documents""")),

    // Real PNG decode (JDK Inflater — DEFLATE + the five row filters,
    // CRC-verified chunks): doc_id%3 picks PNG-RGBA (alpha dropped),
    // PNG-gray, or 24-bit BMP; one pipeline decodes all three through
    // decodeRaster and the oracle computes each family's closed-form
    // sample sum from doc_id (row y holds (doc_id+y)%256 everywhere).
    Q("q_multimodal_png",
      (s, dir) => {
        import s.implicits._
        val payload = t(s, dir, "documents").select(col("doc_id")).as[Long]
          .mapPartitions(_.map { id =>
            val bytes = (id % 3) match {
              case 0 => Multimodal.synthPng(id, 5, 4, colorType = 6)
              case 1 => Multimodal.synthPng(id, 5, 4, colorType = 0)
              case _ => Multimodal.synthBmp(id, 5, 4)
            }
            (id, bytes)
          }).toDF("doc_id", "content")
        Multimodal.imageFeatures(payload, "doc_id", "content").toDF()
      },
      Some("""SELECT doc_id, 5 AS width, 4 AS height,
        CASE WHEN doc_id % 3 = 1 THEN 1 ELSE 3 END AS channels,
        TRUE AS decoded,
        CAST((CASE WHEN doc_id % 3 = 1 THEN 5 ELSE 15 END)
          * list_sum(list_transform(generate_series(0, 3),
            y -> (doc_id + y) % 256)) AS BIGINT) AS sum_luma
        FROM documents""")),

    // Real GIF decode (LZW integer arithmetic, ImageIO-interop-pinned):
    // doc_id%4 picks GIF, interlaced GIF, PNG-gray, or BMP; one
    // pipeline decodes all four through decodeRaster. GIF expands
    // through its 256-gray palette to 3 channels, so its closed form
    // is the BMP one; interlacing reorders rows, which a row-keyed
    // sum is invariant to — the oracle is one CASE on doc_id%4.
    Q("q_multimodal_gif",
      (s, dir) => {
        import s.implicits._
        val payload = t(s, dir, "documents").select(col("doc_id")).as[Long]
          .mapPartitions(_.map { id =>
            val bytes = (id % 4) match {
              case 0 => Multimodal.synthGif(id, 5, 4)
              case 1 => Multimodal.synthGif(id, 5, 4, interlaced = true)
              case 2 => Multimodal.synthPng(id, 5, 4, colorType = 0)
              case _ => Multimodal.synthBmp(id, 5, 4)
            }
            (id, bytes)
          }).toDF("doc_id", "content")
        Multimodal.imageFeatures(payload, "doc_id", "content").toDF()
      },
      Some("""SELECT doc_id, 5 AS width, 4 AS height,
        CASE WHEN doc_id % 4 = 2 THEN 1 ELSE 3 END AS channels,
        TRUE AS decoded,
        CAST((CASE WHEN doc_id % 4 = 2 THEN 5 ELSE 15 END)
          * list_sum(list_transform(generate_series(0, 3),
            y -> (doc_id + y) % 256)) AS BIGINT) AS sum_luma
        FROM documents""")),

    // Real TIFF decode (IFD tag walk + PackBits RLE, ImageIO-interop-
    // pinned, lossless): even docs carry a PackBits grayscale TIFF,
    // odd docs a 24-bit BMP — both row-constant (doc_id+y)%256, so the
    // closed form is exact.
    Q("q_multimodal_tiff",
      (s, dir) => {
        import s.implicits._
        val payload = t(s, dir, "documents").select(col("doc_id")).as[Long]
          .mapPartitions(_.map { id =>
            val bytes =
              if (id % 2 == 0) graft.ops.Tiff.synth(id, 5, 4)
              else Multimodal.synthBmp(id, 5, 4)
            (id, bytes)
          }).toDF("doc_id", "content")
        Multimodal.imageFeatures(payload, "doc_id", "content").toDF()
      },
      Some("""SELECT doc_id, 5 AS width, 4 AS height,
        CASE WHEN doc_id % 2 = 0 THEN 1 ELSE 3 END AS channels,
        TRUE AS decoded,
        CAST((CASE WHEN doc_id % 2 = 0 THEN 5 ELSE 15 END)
          * list_sum(list_transform(generate_series(0, 3),
            y -> (doc_id + y) % 256)) AS BIGINT) AS sum_luma
        FROM documents""")),

    // Real JPEG decode (Huffman + double IDCT, ImageIO-interop-
    // pinned): each doc is a uniform 16x16 grayscale JPEG (value
    // doc_id%256) encoded through the JDK's own writer inside the
    // pipeline — SEQUENTIAL for even ids, PROGRESSIVE (SOF2
    // multi-scan) for odd, so both entropy structures decode through
    // one oracled pipeline. JPEG is lossy, so the oracle pins
    // structure exactly and the pixel content as a CLAIM — a uniform
    // image is DC-only, its decode error is bounded by the DC quant
    // step (<=1 at quality 0.95), and the claimed |mean - v| <= 2
    // holds with slack while any real decode defect (wrong predictor,
    // dequant, IDCT scale, scan bookkeeping) blows it by orders of
    // magnitude.
    Q("q_multimodal_jpeg",
      (s, dir) => {
        import s.implicits._
        val payload = t(s, dir, "documents").select(col("doc_id")).as[Long]
          .mapPartitions { it =>
            val writer = javax.imageio.ImageIO.getImageWritersByFormatName("jpg").next()
            val out = it.map { id =>
              val v = (id % 256).toInt
              val img = new java.awt.image.BufferedImage(16, 16,
                java.awt.image.BufferedImage.TYPE_BYTE_GRAY)
              val g = img.getRaster
              for (y <- 0 until 16; x <- 0 until 16) g.setSample(x, y, 0, v)
              val buf = new java.io.ByteArrayOutputStream()
              val param = writer.getDefaultWriteParam
              param.setCompressionMode(javax.imageio.ImageWriteParam.MODE_EXPLICIT)
              param.setCompressionQuality(0.95f)
              if (id % 2 == 1)
                param.setProgressiveMode(javax.imageio.ImageWriteParam.MODE_DEFAULT)
              val ios = javax.imageio.ImageIO.createImageOutputStream(buf)
              writer.setOutput(ios)
              writer.write(null, new javax.imageio.IIOImage(img, null, null), param)
              ios.close()
              (id, buf.toByteArray)
            }.toArray
            writer.dispose()
            out.iterator
          }.toDF("doc_id", "content")
        Multimodal.imageFeatures(payload, "doc_id", "content").toDF()
          .select(col("doc_id"), col("width"), col("height"), col("channels"),
            col("decoded"),
            (abs(col("sum_luma").cast("double") / 256.0
              - pmod(col("doc_id"), lit(256)).cast("double")) <= 2.0)
              .as("mean_err_le2"))
      },
      Some("""SELECT doc_id, 16 AS width, 16 AS height, 1 AS channels,
        TRUE AS decoded, TRUE AS mean_err_le2 FROM documents""")),

    Q("q_multimodal_features",
      (s, dir) => {
        val df = t(s, dir, "documents").withColumn("content", col("text").cast(BinaryType))
        Multimodal.extractFeatures(df, "doc_id", "content").toDF()
      },
      Some("""SELECT doc_id, strlen(text) AS n_bytes,
        CASE WHEN length(text) > 0 THEN ascii(substr(text, 1, 1)) ELSE -1 END AS head_byte,
        md5(text) AS content_md5
        FROM documents""")),

    // C4-style duplicate-span removal: 3-token spans, first corpus
    // occurrence survives, docs rebuilt from surviving spans.
    Q("q_llm_span_dedup",
      (s, dir) => Dedup.spanDedup(t(s, dir, "documents"), "doc_id", "text",
        spanTokens = 3),
      Some("""WITH tk AS (SELECT doc_id,
          string_split_regex(lower(trim(text)), '\s+') AS toks FROM documents),
        n AS (SELECT doc_id, toks,
          greatest(CAST(ceil(CAST(len(toks) AS DOUBLE) / 3) AS INT), 1) AS total_spans
          FROM tk),
        s AS (SELECT doc_id, toks, total_spans,
          CAST(unnest(generate_series(0, total_spans - 1)) AS INT) AS span_idx FROM n),
        sp AS (SELECT doc_id, total_spans, span_idx,
          array_to_string(list_slice(toks, span_idx * 3 + 1, span_idx * 3 + 3), ' ')
            AS span_text FROM s),
        k AS (SELECT *, row_number()
            OVER (PARTITION BY span_text ORDER BY doc_id, span_idx) AS occ FROM sp)
        SELECT doc_id, string_agg(span_text, ' ' ORDER BY span_idx) AS clean_text,
          CAST(COUNT(*) AS INT) AS kept_spans, any_value(total_spans) AS total_spans
        FROM k WHERE occ = 1 GROUP BY doc_id""")),

    // The 100 TB twin: first-occurrence rank over xxhash64(span) — the
    // dedup exchange moves 24-byte keys, span text never shuffles, and
    // the rebuild re-derives spans row-locally. Same oracle: the result
    // is identical absent 64-bit collisions (none at these scales), so
    // the scale path itself is hash-verified, not rows-only.
    Q("q_llm_span_dedup_x64",
      (s, dir) => Dedup.spanDedupHashed(t(s, dir, "documents"), "doc_id", "text",
        spanTokens = 3),
      Some("""WITH tk AS (SELECT doc_id,
          string_split_regex(lower(trim(text)), '\s+') AS toks FROM documents),
        n AS (SELECT doc_id, toks,
          greatest(CAST(ceil(CAST(len(toks) AS DOUBLE) / 3) AS INT), 1) AS total_spans
          FROM tk),
        s AS (SELECT doc_id, toks, total_spans,
          CAST(unnest(generate_series(0, total_spans - 1)) AS INT) AS span_idx FROM n),
        sp AS (SELECT doc_id, total_spans, span_idx,
          array_to_string(list_slice(toks, span_idx * 3 + 1, span_idx * 3 + 3), ' ')
            AS span_text FROM s),
        k AS (SELECT *, row_number()
            OVER (PARTITION BY span_text ORDER BY doc_id, span_idx) AS occ FROM sp)
        SELECT doc_id, string_agg(span_text, ' ' ORDER BY span_idx) AS clean_text,
          CAST(COUNT(*) AS INT) AS kept_spans, any_value(total_spans) AS total_spans
        FROM k WHERE occ = 1 GROUP BY doc_id""")),

    // BM25 keyword extraction: top-3 scored terms per doc; scores in
    // integer micro-units (ln is not bit-reproducible across engines).
    Q("q_llm_bm25",
      (s, dir) => graft.ops.Ranking.bm25TopTerms(
        t(s, dir, "documents"), "doc_id", "text", topK = 3),
      Some("""WITH tk AS (SELECT doc_id,
          unnest(string_split_regex(lower(trim(text)), '\s+')) AS term FROM documents),
        tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM tk GROUP BY 1, 2),
        dl AS (SELECT doc_id, term, tf,
          SUM(tf) OVER (PARTITION BY doc_id) AS dl FROM tf),
        fr AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY 1),
        st AS (SELECT COUNT(DISTINCT doc_id) AS n_docs,
          CAST(SUM(tf) AS DOUBLE) / COUNT(DISTINCT doc_id) AS avgdl FROM tf),
        sc AS (SELECT t.doc_id, t.term,
            ln(1.0 + (st.n_docs - f.df + 0.5) / (f.df + 0.5))
              * (t.tf * (1.2 + 1) /
                 (t.tf + 1.2 * ((1 - 0.75) + 0.75 * (t.dl / st.avgdl)))) AS score
          FROM dl t JOIN fr f USING (term) CROSS JOIN st),
        r AS (SELECT doc_id, term,
            CAST(floor(score * 1000000 + 0.5) AS BIGINT) AS bm25_micro FROM sc),
        rk AS (SELECT doc_id, term, bm25_micro,
            CAST(row_number() OVER (PARTITION BY doc_id
              ORDER BY bm25_micro DESC, term ASC) AS INT) AS rank FROM r)
        SELECT doc_id, term, rank, bm25_micro FROM rk WHERE rank <= 3""")),

    // BM25 retrieval face: the first 10 docs as a query batch against
    // the whole corpus, top-5 each — inverted-index probe with the
    // integral stop-term cap (df·2 > n_docs drops the list that would
    // otherwise be corpus-sized); per-pair scores are exact integer
    // sums of micro-quantized partials.
    Q("q_llm_bm25_retrieve",
      (s, dir) => {
        val docs = t(s, dir, "documents")
        graft.ops.Ranking.bm25Retrieve(
          docs.filter(col("doc_id") < 10), "doc_id", "text",
          docs, "doc_id", "text", topK = 5)
      },
      Some(LlmOracles.bm25Retrieve)),

    // NDCG@5 of the BM25 retrieval against graded truth (self = 2,
    // same source = 1): exact integers end to end — the discount
    // table is 5 quantized literals shared verbatim with the oracle.
    Q("q_llm_ndcg",
      (s, dir) => {
        val docs = t(s, dir, "documents")
        val results = graft.ops.Ranking.bm25Retrieve(
          docs.filter(col("doc_id") < 10), "doc_id", "text",
          docs, "doc_id", "text", topK = 5)
        val q = docs.filter(col("doc_id") < 10)
          .select(col("doc_id").as("qid"), col("source").as("qsrc"))
        val truth = q.join(
            docs.select(col("doc_id").as("doc"), col("source")),
            col("qid") === col("doc") || col("qsrc") === col("source"))
          .select(col("qid"), col("doc"),
            when(col("qid") === col("doc"), 2L).otherwise(1L).as("rel"))
        graft.ops.Ranking.ndcg(
          results.withColumnRenamed("doc_id", "doc"), truth,
          "qid", "doc", "rank", "rel", k = 5)
      },
      Some(LlmOracles.ndcg)),

    // Per-label centroids of L2-normalized embeddings, long format
    // (nano-unit-quantized mean: order-independent, exact cross-engine).
    Q("q_llm_embed_centroids",
      (s, dir) => Similarity.labelCentroids(t(s, dir, "embeddings"), "label", "embedding"),
      Some("""WITH e AS (SELECT label, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        n AS (SELECT label, v, sqrt(list_dot_product(v, v)) AS nrm FROM e),
        d AS (SELECT label,
            CAST(unnest(generate_series(1, len(v))) AS INT) - 1 AS dim,
            CAST(floor(unnest(v) / nrm * 1e9 + 0.5) AS BIGINT) AS nano
          FROM n WHERE nrm > 0)
        SELECT label, dim,
          (CAST(SUM(nano) AS DOUBLE) / COUNT(*)) / 1e9 AS centroid,
          COUNT(*) AS n_vectors
        FROM d GROUP BY 1, 2""")),

    // Nearest-centroid classification: centroids (10 labels x 64 dims)
    // inline as literals -> classification is a pure map (no join, no
    // shuffle). Products quantize to integer nanos before the sum, so
    // the score doubles are bit-identical cross-engine.
    Q("q_llm_classify",
      (s, dir) => {
        val e = t(s, dir, "embeddings")
        Similarity.classifyByCentroid(e, "vec_id", "embedding",
          Similarity.labelCentroids(e, "label", "embedding"))
      },
      Some("""WITH e AS (SELECT label, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        n AS (SELECT label, v, sqrt(list_dot_product(v, v)) AS nrm FROM e),
        d AS (SELECT label,
            CAST(unnest(generate_series(1, len(v))) AS INT) - 1 AS dim,
            CAST(floor(unnest(v) / nrm * 1e9 + 0.5) AS BIGINT) AS nano
          FROM n WHERE nrm > 0),
        c AS (SELECT label, dim,
            (CAST(SUM(nano) AS DOUBLE) / COUNT(*)) / 1e9 AS centroid
          FROM d GROUP BY 1, 2),
        cn AS (SELECT label,
            SUM(CAST(floor(centroid * centroid * 1e9 + 0.5) AS BIGINT)) AS n2
          FROM c GROUP BY 1 HAVING n2 > 0),
        q AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        p AS (SELECT q.vec_id, c.label,
            SUM(CAST(floor(v[c.dim + 1] * c.centroid * 1e9 + 0.5) AS BIGINT)) AS sn
          FROM q CROSS JOIN c GROUP BY 1, 2),
        sc AS (SELECT vec_id, p.label,
            CAST(sn AS DOUBLE) / sqrt(CAST(n2 AS DOUBLE)) AS score
          FROM p JOIN cn USING (label))
        SELECT vec_id, label AS pred_label,
          CAST(floor(score * 1e6 + 0.5) AS BIGINT) AS score_micro
        FROM sc
        QUALIFY row_number() OVER (PARTITION BY vec_id
          ORDER BY score DESC, label) = 1""")),

    // Multiclass report over the centroid classifier vs true labels:
    // confusion cells + per-class recall/precision + accuracy, all
    // integral micros over exact counts (the oracle re-derives the
    // same predictions, then the same window algebra).
    Q("q_llm_multiclass_report",
      (s, dir) => {
        val e = t(s, dir, "embeddings")
        val pred = Similarity.classifyByCentroid(e, "vec_id", "embedding",
          Similarity.labelCentroids(e, "label", "embedding"))
        graft.ops.Stats.multiclassReport(pred, "vec_id", "pred_label",
          e.select(col("vec_id"), col("label")), "vec_id", "label")
      },
      Some("""WITH e AS (SELECT label, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        n AS (SELECT label, v, sqrt(list_dot_product(v, v)) AS nrm FROM e),
        d AS (SELECT label,
            CAST(unnest(generate_series(1, len(v))) AS INT) - 1 AS dim,
            CAST(floor(unnest(v) / nrm * 1e9 + 0.5) AS BIGINT) AS nano
          FROM n WHERE nrm > 0),
        c AS (SELECT label, dim,
            (CAST(SUM(nano) AS DOUBLE) / COUNT(*)) / 1e9 AS centroid
          FROM d GROUP BY 1, 2),
        cn AS (SELECT label,
            SUM(CAST(floor(centroid * centroid * 1e9 + 0.5) AS BIGINT)) AS n2
          FROM c GROUP BY 1 HAVING n2 > 0),
        q AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        p AS (SELECT q.vec_id, c.label,
            SUM(CAST(floor(v[c.dim + 1] * c.centroid * 1e9 + 0.5) AS BIGINT)) AS sn
          FROM q CROSS JOIN c GROUP BY 1, 2),
        sc AS (SELECT vec_id, p.label,
            CAST(sn AS DOUBLE) / sqrt(CAST(n2 AS DOUBLE)) AS score
          FROM p JOIN cn USING (label)),
        pr AS (SELECT vec_id, label AS predicted FROM sc
          QUALIFY row_number() OVER (PARTITION BY vec_id
            ORDER BY score DESC, label) = 1),
        jj AS (SELECT t.label AS actual, pr.predicted
          FROM embeddings t JOIN pr ON t.vec_id = pr.vec_id),
        cells AS (SELECT actual, predicted, COUNT(*) AS n FROM jj GROUP BY 1, 2),
        w AS (SELECT actual, predicted, n,
            SUM(n) OVER (PARTITION BY actual) AS rt,
            SUM(n) OVER (PARTITION BY predicted) AS ct,
            SUM(n) OVER () AS tot,
            SUM(CASE WHEN actual = predicted THEN n ELSE 0 END)
              OVER (PARTITION BY actual) AS da,
            SUM(CASE WHEN actual = predicted THEN n ELSE 0 END)
              OVER (PARTITION BY predicted) AS dp,
            SUM(CASE WHEN actual = predicted THEN n ELSE 0 END) OVER () AS dall
          FROM cells)
        SELECT actual, predicted, n,
          CAST((da * 1000000) // rt AS BIGINT) AS recall_micro,
          CAST(CASE WHEN ct > 0 THEN (dp * 1000000) // ct END AS BIGINT) AS precision_micro,
          CAST((dall * 1000000) // tot AS BIGINT) AS accuracy_micro
        FROM w""")),

    // Corpus-wide bigram vocabulary, deterministic top-100.
    Q("q_llm_ngram_vocab",
      (s, dir) => TextAnalysis.ngramVocabulary(t(s, dir, "documents"),
        "text", n = 2, topK = 100),
      Some("""WITH tk AS (SELECT string_split_regex(lower(trim(text)), '\s+') AS toks
          FROM documents),
        ix AS (SELECT toks, unnest(generate_series(1, len(toks) - 1)) AS i FROM tk),
        g AS (SELECT toks[i] || ' ' || toks[i + 1] AS gram FROM ix),
        f AS (SELECT gram, COUNT(*) AS freq FROM g GROUP BY 1
          ORDER BY freq DESC, gram LIMIT 100)
        SELECT gram, freq,
          CAST(row_number() OVER (ORDER BY freq DESC, gram) AS INT) AS rank
        FROM f""")),

    // Word co-occurrence lift (collocation mining): ordered pairs at
    // distance <= 2 via row-local word_grams windows; lift over
    // independence in integer basis points (DECIMAL(38,0) integral
    // division — no FP).
    Q("q_llm_cooccur",
      (s, dir) => TextAnalysis.cooccurrenceLift(t(s, dir, "documents"),
        "text", maxDist = 2, minCount = 2),
      Some("""WITH tk AS (SELECT string_split_regex(lower(trim(text)), '\s+') AS toks
          FROM documents WHERE text IS NOT NULL),
        up AS (SELECT unnest(toks) AS w FROM tk),
        uni AS (SELECT w, COUNT(*) AS n_w FROM up GROUP BY 1),
        i1 AS (SELECT toks, unnest(generate_series(1, len(toks) - 1)) AS i FROM tk),
        i2 AS (SELECT toks, unnest(generate_series(1, len(toks) - 2)) AS i FROM tk),
        pr AS (SELECT toks[i] AS w_a, toks[i + 1] AS w_b FROM i1
          UNION ALL SELECT toks[i] AS w_a, toks[i + 2] AS w_b FROM i2),
        pc AS (SELECT w_a, w_b, COUNT(*) AS n_ab FROM pr GROUP BY 1, 2),
        tot AS (SELECT CAST(SUM(n_w) AS BIGINT) AS t FROM uni),
        pt AS (SELECT CAST(SUM(n_ab) AS BIGINT) AS p FROM pc)
        SELECT w_a, w_b, n_ab, a.n_w AS n_a, b.n_w AS n_b,
          CAST(CAST(n_ab AS HUGEINT) * (SELECT t FROM tot) * (SELECT t FROM tot) * 10000
            // (CAST((SELECT p FROM pt) AS HUGEINT) * a.n_w * b.n_w) AS BIGINT) AS lift_bp
        FROM pc JOIN uni a ON pc.w_a = a.w JOIN uni b ON pc.w_b = b.w
        WHERE n_ab >= 2""")),

    // PageRank centrality over the exact cosine near-dup graph
    // (cluster-hub triage): fixed 3 iterations, parts-per-billion
    // integer ranks, integral division throughout — bit-identical to
    // the oracle's macro-expanded CTE iterations.
    Q("q_llm_pagerank_dups",
      (s, dir) => graft.ops.Graphs.pageRank(
        Dedup.embeddingNearDupPairs(t(s, dir, "embeddings"), "vec_id", "embedding",
          threshold = 0.4).select(col("id_a"), col("id_b")),
        "id_a", "id_b", iters = 3),
      Some("""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        pr0 AS (SELECT a.vec_id AS id_a, b.vec_id AS id_b
          FROM e a CROSS JOIN e b WHERE a.vec_id < b.vec_id
            AND list_dot_product(a.v, b.v)
              / (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v))) >= 0.4),
        sym AS (SELECT id_a AS src, id_b AS dst FROM pr0
          UNION SELECT id_b, id_a FROM pr0),
        deg AS (SELECT src AS node, COUNT(*) AS deg FROM sym GROUP BY 1),
        params AS (SELECT 1000000000 // COUNT(*) AS base FROM deg),
        p0 AS (SELECT node, deg, (SELECT base FROM params) AS pr FROM deg),
        s1 AS (SELECT sym.dst AS node, CAST(SUM(p0.pr // p0.deg) AS BIGINT) AS sc
          FROM sym JOIN p0 ON sym.src = p0.node GROUP BY 1),
        p1 AS (SELECT d.node, d.deg,
            (1500 * (SELECT base FROM params)) // 10000
              + (8500 * COALESCE(s1.sc, 0)) // 10000 AS pr
          FROM deg d LEFT JOIN s1 ON d.node = s1.node),
        s2 AS (SELECT sym.dst AS node, CAST(SUM(p1.pr // p1.deg) AS BIGINT) AS sc
          FROM sym JOIN p1 ON sym.src = p1.node GROUP BY 1),
        p2 AS (SELECT d.node, d.deg,
            (1500 * (SELECT base FROM params)) // 10000
              + (8500 * COALESCE(s2.sc, 0)) // 10000 AS pr
          FROM deg d LEFT JOIN s2 ON d.node = s2.node),
        s3 AS (SELECT sym.dst AS node, CAST(SUM(p2.pr // p2.deg) AS BIGINT) AS sc
          FROM sym JOIN p2 ON sym.src = p2.node GROUP BY 1),
        p3 AS (SELECT d.node, d.deg,
            (1500 * (SELECT base FROM params)) // 10000
              + (8500 * COALESCE(s3.sc, 0)) // 10000 AS pr
          FROM deg d LEFT JOIN s3 ON d.node = s3.node)
        SELECT node, deg, pr AS pr_ppb FROM p3""")),

    // Deterministic synchronous label-propagation communities over
    // the same near-dup graph: 2 fixed rounds, most-frequent neighbor
    // label with smallest-label tie-break — macro-expanded in SQL
    // exactly like the PageRank iterations.
    Q("q_llm_communities",
      (s, dir) => graft.ops.Graphs.labelPropagation(
        Dedup.embeddingNearDupPairs(t(s, dir, "embeddings"), "vec_id", "embedding",
          threshold = 0.4).select(col("id_a"), col("id_b")),
        "id_a", "id_b", iters = 2),
      Some("""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        pr0 AS (SELECT a.vec_id AS id_a, b.vec_id AS id_b
          FROM e a CROSS JOIN e b WHERE a.vec_id < b.vec_id
            AND list_dot_product(a.v, b.v)
              / (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v))) >= 0.4),
        sym AS (SELECT id_a AS src, id_b AS dst FROM pr0
          UNION SELECT id_b, id_a FROM pr0),
        l0 AS (SELECT DISTINCT src AS node, src AS label FROM sym),
        n1 AS (SELECT sym.dst AS node, l.label, COUNT(*) AS c
          FROM sym JOIN l0 l ON sym.src = l.node GROUP BY 1, 2),
        l1 AS (SELECT node, label FROM (SELECT node, label,
            row_number() OVER (PARTITION BY node ORDER BY c DESC, label) AS rn
          FROM n1) WHERE rn = 1),
        n2 AS (SELECT sym.dst AS node, l.label, COUNT(*) AS c
          FROM sym JOIN l1 l ON sym.src = l.node GROUP BY 1, 2),
        l2 AS (SELECT node, label FROM (SELECT node, label,
            row_number() OVER (PARTITION BY node ORDER BY c DESC, label) AS rn
          FROM n2) WHERE rn = 1)
        SELECT node, label AS community FROM l2""")),

    // Near-dup cluster size histogram (where the dedup budget sits:
    // many pairs in few mega-clusters vs a long tail of doubles):
    // connected components over the exact cosine pairs, then clusters
    // per size. Recursive-CTE min-label walk in the oracle.
    Q("q_llm_cluster_sizes",
      (s, dir) => {
        val pairs = Dedup.embeddingNearDupPairs(t(s, dir, "embeddings"),
          "vec_id", "embedding", threshold = 0.3).select(col("id_a"), col("id_b"))
        graft.ops.Clusters.connectedComponents(pairs, "id_a", "id_b")
          .groupBy(col("component")).agg(count(lit(1)).as("cluster_size"))
          .groupBy(col("cluster_size")).agg(count(lit(1)).as("n_clusters"))
      },
      Some("""WITH RECURSIVE e0 AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        cand AS (SELECT a.vec_id AS id_a, b.vec_id AS id_b
          FROM e0 a CROSS JOIN e0 b WHERE a.vec_id < b.vec_id
            AND list_dot_product(a.v, b.v)
              / (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v))) >= 0.3),
        edges AS (SELECT id_a AS a, id_b AS b FROM cand
                  UNION SELECT id_b, id_a FROM cand),
        walk(id, comp) AS (SELECT DISTINCT a, a FROM edges
          UNION
          SELECT e.b, w.comp FROM walk w JOIN edges e ON e.a = w.id),
        comp AS (SELECT id, MIN(comp) AS component FROM walk GROUP BY id),
        sz AS (SELECT component, COUNT(*) AS cluster_size FROM comp GROUP BY 1)
        SELECT cluster_size, COUNT(*) AS n_clusters FROM sz GROUP BY 1""")),

    // Per-node triangle counts over the exact cosine near-dup graph
    // (dense-cluster triage: triangles separate genuine duplicate
    // cliques from chains of borderline pairs). Production path is
    // degree-ordered wedge enumeration; the triangle SET is
    // orientation-independent, so the oracle's simple a<b self-join
    // form compares exactly.
    Q("q_llm_triangles",
      (s, dir) => graft.ops.Graphs.triangleCounts(
        Dedup.embeddingNearDupPairs(t(s, dir, "embeddings"), "vec_id", "embedding",
          threshold = 0.3).select(col("id_a"), col("id_b")),
        "id_a", "id_b"),
      Some("""WITH e0 AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        e AS (SELECT a.vec_id AS id_a, b.vec_id AS id_b
          FROM e0 a CROSS JOIN e0 b WHERE a.vec_id < b.vec_id
            AND list_dot_product(a.v, b.v)
              / (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v))) >= 0.3),
        t AS (SELECT e1.id_a AS x, e1.id_b AS y, e2.id_b AS z
          FROM e e1 JOIN e e2 ON e2.id_a = e1.id_a AND e2.id_b > e1.id_b
          JOIN e e3 ON e3.id_a = e1.id_b AND e3.id_b = e2.id_b),
        n AS (SELECT x AS node FROM t
          UNION ALL SELECT y FROM t UNION ALL SELECT z FROM t)
        SELECT node, COUNT(*) AS n_triangles FROM n GROUP BY 1""")),

    // Gopher-style heuristic quality rules (row-local; ratios are
    // single IEEE divides of integer counts -> identical verdicts in
    // any engine).
    Q("q_llm_gopher_rules",
      (s, dir) => TextAnalysis.gopherRules(t(s, dir, "documents"),
        "doc_id", "text"),
      Some(s"""WITH x AS (SELECT doc_id,
          string_split_regex(lower(trim(text)), '\\s+') AS toks FROM documents),
        y AS (SELECT doc_id, len(toks) AS nw,
          CAST(list_sum(list_transform(toks, t -> length(t))) AS DOUBLE)
            / greatest(len(toks), 1) AS mean_len,
          CAST(len(list_filter(toks, t -> contains(t, '#') OR contains(t, '…'))) AS DOUBLE)
            / greatest(len(toks), 1) AS symbol_ratio,
          CAST(len(list_filter(toks, t -> regexp_matches(t, '[a-zA-Z]'))) AS DOUBLE)
            / greatest(len(toks), 1) AS alpha_frac,
          len(list_filter(toks, t -> list_contains(${LlmOracles.gopherStopList}, t))) AS stop_hits
          FROM x),
        z AS (SELECT doc_id, nw, mean_len, alpha_frac, stop_hits,
          nw >= 10 AND nw <= 100000 AS r_words,
          mean_len >= 2.0 AND mean_len <= 12.0 AS r_mean_len,
          symbol_ratio <= 0.1 AS r_symbol,
          alpha_frac >= 0.8 AS r_alpha,
          stop_hits >= 2 AS r_stop
          FROM y)
        SELECT doc_id, CAST(nw AS BIGINT) AS n_words,
          CAST(floor(mean_len * 1e6 + 0.5) AS BIGINT) AS mean_len_micro,
          CAST(floor(alpha_frac * 1e6 + 0.5) AS BIGINT) AS alpha_micro,
          CAST(stop_hits AS BIGINT) AS stop_hits,
          r_words, r_mean_len, r_symbol, r_alpha, r_stop,
          r_words AND r_mean_len AND r_symbol AND r_alpha AND r_stop AS pass
        FROM z""")),

    // Containment pairs over winnowing fingerprints (MOSS-style
    // asymmetric overlap: shared minima / smaller set). Inverted-index
    // join, postings bounded at 64 — this corpus's 40-word vocabulary
    // makes some shingles near-ubiquitous (3379/5000 docs at sf0.1);
    // such stop-hashes carry no containment signal and their posting
    // lists pair quadratically (95M pairs unbounded vs ~1M at 64; the 26-pair sf0.01 answer is 25 at 64 — the signal lives in RARE shared minima).
    // md5-portable hashes so DuckDB derives identical minima.
    // Not benched: md5 oracle twin of the benched q_llm_containment_x64.
    Q("q_llm_containment",
      (s, dir) => TextAnalysis.fingerprintContainmentPairs(
        t(s, dir, "documents"), "doc_id", "text", maxPostings = 64),
      Some("""WITH base AS (SELECT doc_id, lower(text) AS lt FROM documents),
        p AS (SELECT doc_id, unnest(generate_series(1, greatest(1, length(lt) - 7))) AS pos, lt
          FROM base),
        h AS (SELECT doc_id, pos,
            ('0x' || substr(md5(substr(lt, pos, 8)), 1, 15))::BIGINT AS h FROM p),
        wm AS (SELECT doc_id,
            min(h) OVER (PARTITION BY doc_id ORDER BY pos
              ROWS BETWEEN 3 PRECEDING AND CURRENT ROW) AS wmin,
            row_number() OVER (PARTITION BY doc_id ORDER BY pos) AS rn FROM h),
        st AS (SELECT DISTINCT doc_id, wmin FROM wm WHERE rn >= 4),
        sz AS (SELECT doc_id, COUNT(*) AS n FROM st GROUP BY 1),
        idx AS (SELECT wmin FROM st GROUP BY wmin
          HAVING COUNT(*) BETWEEN 2 AND 64),
        pr AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS shared
          FROM st a JOIN st b USING (wmin) JOIN idx ON a.wmin = idx.wmin
          WHERE a.doc_id < b.doc_id GROUP BY 1, 2),
        c AS (SELECT id_a, id_b, shared,
            CAST(shared AS DOUBLE) / least(sa.n, sb.n) AS containment
          FROM pr JOIN sz sa ON sa.doc_id = pr.id_a
          JOIN sz sb ON sb.doc_id = pr.id_b)
        SELECT id_a, id_b, CAST(shared AS BIGINT) AS shared, containment
        FROM c WHERE containment >= 0.5"""), benched = false),

    // Production containment twin: identical algorithm over native
    // xxhash64 winnow minima (no md5-per-shingle) — the benched scale
    // path; rows-only by nature (xxhash64 absent from DuckDB).
    Q("q_llm_containment_x64",
      (s, dir) => TextAnalysis.fingerprintContainmentPairs(
        t(s, dir, "documents"), "doc_id", "text", maxPostings = 64,
        portableHash = false),
      None),

    // Symmetric int8 scalar quantization, long format — the 4x
    // embedding-store compression op; row-local, IEEE-exact steps.
    Q("q_llm_quantize_int8",
      (s, dir) => Similarity.quantizeInt8(t(s, dir, "embeddings"),
        "vec_id", "embedding"),
      Some("""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        sc AS (SELECT vec_id, v,
            list_max(list_transform(v, x -> abs(x))) / 127 AS scale FROM e),
        d AS (SELECT vec_id, scale,
            CAST(unnest(generate_series(1, len(v))) AS INT) - 1 AS dim,
            unnest(v) AS x
          FROM sc WHERE scale > 0)
        SELECT vec_id, dim, CAST(floor(x / scale + 0.5) AS INT) AS code,
          CAST(floor(scale * 1e6 + 0.5) AS BIGINT) AS scale_micro
        FROM d""")),

    // Lexical near-dup by TF-IDF cosine (idf-downweighted complement
    // of the unweighted ngram-Jaccard path). Threshold 0.95 probes as
    // 11 pairs at sf0.01 (pair cosine median 0.62, max 0.983 on this
    // small-vocabulary corpus).
    Q("q_llm_tfidf_pairs",
      (s, dir) => Dedup.tfidfCosinePairs(t(s, dir, "documents"),
        "doc_id", "text", threshold = 0.95),
      Some("""WITH tk AS (SELECT doc_id AS id,
          unnest(string_split_regex(lower(trim(text)), '\s+')) AS term FROM documents),
        tf AS (SELECT id, term, COUNT(*) AS tf FROM tk GROUP BY 1, 2),
        df AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY 1),
        nd AS (SELECT COUNT(DISTINCT doc_id) AS n_docs FROM documents),
        w AS (SELECT id, term,
            CAST(floor(tf * ln(1.0 + CAST(n_docs AS DOUBLE) / df) * 1e6 + 0.5) AS BIGINT) AS wn
          FROM tf JOIN df USING (term) CROSS JOIN nd
          WHERE floor(tf * ln(1.0 + CAST(n_docs AS DOUBLE) / df) * 1e6 + 0.5) > 0),
        n2 AS (SELECT id, SUM(wn * wn) AS n2 FROM w GROUP BY 1),
        idx AS (SELECT term FROM w GROUP BY term
          HAVING COUNT(*) BETWEEN 2 AND 1000),
        pr AS (SELECT a.id AS id_a, b.id AS id_b, SUM(a.wn * b.wn) AS dotn
          FROM w a JOIN w b USING (term) JOIN idx USING (term)
          WHERE a.id < b.id GROUP BY 1, 2),
        c AS (SELECT id_a, id_b,
            CAST(dotn AS DOUBLE) /
              (sqrt(CAST(na.n2 AS DOUBLE)) * sqrt(CAST(nb.n2 AS DOUBLE))) AS cos
          FROM pr JOIN n2 na ON na.id = pr.id_a JOIN n2 nb ON nb.id = pr.id_b)
        SELECT id_a, id_b, cos FROM c WHERE cos >= 0.95""")),

    // Per-source token budget report (integral-division shares).
    Q("q_llm_source_budget",
      (s, dir) => graft.ops.Sampling.sourceBudget(
        t(s, dir, "documents"), "source", "text"),
      Some("""WITH s AS (SELECT source, COUNT(*) AS n_docs,
          SUM(len(string_split_regex(lower(trim(text)), '\s+'))) AS n_tokens
          FROM documents GROUP BY 1)
        SELECT source, n_docs, CAST(n_tokens AS BIGINT) AS n_tokens,
          CAST(n_tokens * 1000000 // SUM(n_tokens) OVER () AS BIGINT) AS share_micro
        FROM s""")),

    // Per-doc writing-system profile (script routing below langId).
    Q("q_llm_script_profile",
      (s, dir) => TextAnalysis.scriptProfile(t(s, dir, "documents"), "doc_id", "text"),
      Some(LlmOracles.scriptProfile)),

    // Exact-substring dedup (ExactSubstr, 8-token sliding windows):
    // the xxhash64 production path is directly oracled — output is
    // rebuilt text; hashes only group windows (boilerplate precedent).
    Q("q_llm_exact_substr",
      (s, dir) => Dedup.exactSubstrDedup(t(s, dir, "documents"), "doc_id", "text",
        windowTokens = 8),
      Some(LlmOracles.exactSubstr)),

    // ExactSubstr at a LONG window (r9): the Rabin–Karp rolling
    // per-position fingerprints make window length free — O(T) per doc,
    // window text never materializes. Oracled by the same rebuilt-text
    // SQL at L = 30 (hashes are internal grouping either way).
    Q("q_llm_exact_substr_long",
      (s, dir) => Dedup.exactSubstrDedup(t(s, dir, "documents"), "doc_id", "text",
        windowTokens = 30, rollingFp = true),
      Some(LlmOracles.exactSubstrOracle(30))),

    // Corpus-version dedup-state carry-forward (r9): the new batch
    // (doc_id % 3 == 0) classified against the FROZEN signature state
    // of the reference corpus (the other two thirds) — dup_of_ref /
    // dup_of_new / kept verdicts; kept rows' signatures are the next
    // version's state delta. md5-portable face, fully oracled
    // including the recursive-CTE new-new components.
    // Not benched: md5 oracle twin of the benched q_llm_incr_neardup_x64.
    Q("q_llm_incr_neardup",
      (s, dir) => {
        val docs = t(s, dir, "documents")
        val ref = Dedup.minhashPortableValues(
          docs.filter(col("doc_id") % 3 =!= 0), "doc_id", "text",
          shingleSize = 4, numHashes = 8)
        val nw = Dedup.minhashPortableValues(
          docs.filter(col("doc_id") % 3 === 0), "doc_id", "text",
          shingleSize = 4, numHashes = 8)
        Dedup.incrementalNearDupVerdicts(nw, ref, numHashes = 8, bands = 4,
          threshold = 0.5, portableBuckets = true)
          .withColumnRenamed("id", "doc_id")
      },
      Some(LlmOracles.incrNearDup), benched = false),

    // Production twin: xxhash64 signatures and band buckets, the same
    // two-phase verdict pipeline (rows-only; the algorithm is pinned
    // by the md5 twin above).
    Q("q_llm_incr_neardup_x64",
      (s, dir) => {
        val docs = t(s, dir, "documents")
        val ref = Dedup.minhashSignatures(
          docs.filter(col("doc_id") % 3 =!= 0), "doc_id", "text",
          shingleSize = 5, numHashes = 16)
        val nw = Dedup.minhashSignatures(
          docs.filter(col("doc_id") % 3 === 0), "doc_id", "text",
          shingleSize = 5, numHashes = 16)
        Dedup.incrementalNearDupVerdicts(nw, ref, numHashes = 16, bands = 4,
          threshold = 0.5, portableBuckets = false)
          .withColumnRenamed("id", "doc_id")
      },
      None),

    // N-version state chain (r10): three corpus versions ingested in
    // sequence against a compacted versioned signature state — the
    // full incremental-dedup lifecycle (screen → verdicts → append →
    // compact → next batch, Dedup.nearDupSteps) as ONE query. Output =
    // every batch's verdicts tagged with its version. Rows-only: the
    // chain contract (incl. id re-registration supersession) is pinned
    // by IncrementalNearDupSpec; the per-batch verdict algorithm by the
    // oracled md5 twin above. Every multi-consumer intermediate (batch
    // signatures, verdicts, state) sits at a parquet stage boundary —
    // the production shape, where the state is a table on disk between
    // versions.
    Q("q_llm_incr_neardup_chain_x64",
      (s, dir) => {
        val docs = t(s, dir, "documents")
        Dedup.nearDupChain(Dedup.nearDupSteps(
            Seq(0, 1, 2).map(m => Dedup.minhashSignatures(
              docs.filter(col("doc_id") % 3 === m), "doc_id", "text",
              shingleSize = 5, numHashes = 16)),
            numHashes = 16, bands = 4, threshold = 0.5))
          .withColumnRenamed("id", "doc_id")
      },
      None),

    // md5-portable oracle twin of the chain above (r11): the SAME
    // screen → verdicts → append → compact lifecycle over the three
    // id-disjoint corpus versions, with portable md5 signatures and
    // band buckets — so the WHOLE chain (every version's reference
    // screen against the accumulated kept state, plus each batch's
    // new-new components) is pinned end-to-end by a DuckDB oracle,
    // not just the single-batch step. Oracle-only fixture; the x64
    // chain above is the benched production path.
    Q("q_llm_incr_neardup_chain",
      (s, dir) => {
        val docs = t(s, dir, "documents")
        Dedup.nearDupChain(Dedup.nearDupSteps(
            Seq(0, 1, 2).map(m => Dedup.minhashPortableValues(
              docs.filter(col("doc_id") % 3 === m), "doc_id", "text",
              shingleSize = 4, numHashes = 8)),
            numHashes = 8, bands = 4, threshold = 0.5, portableBuckets = true))
          .withColumnRenamed("id", "doc_id")
      },
      Some(LlmOracles.incrNearDupChain), benched = false),

    // Temperature-resampled source mixing weights (α=0.5 via sqrt —
    // correctly-rounded, hence oracled exactly).
    Q("q_llm_temperature_mix",
      (s, dir) => graft.ops.Sampling.temperatureWeights(
        t(s, dir, "documents"), "source", "text"),
      Some("""WITH s AS (SELECT source, COUNT(*) AS n_docs,
          CAST(SUM(len(string_split_regex(lower(trim(text)), '\s+'))) AS BIGINT) AS n_tokens
          FROM documents GROUP BY 1),
        w AS (SELECT source, n_docs, n_tokens,
          CAST(floor(sqrt(CAST(n_tokens AS DOUBLE)) * 1000000 + 0.5) AS BIGINT) AS w_micro
          FROM s)
        SELECT source, n_docs, n_tokens, w_micro,
          CAST(w_micro * 1000000 // SUM(w_micro) OVER () AS BIGINT) AS share_micro
        FROM w""")),

    // Interpolated bigram LM NLL per doc (CCNet perplexity filter one
    // order up from unigram; portable by construction — oracled).
    Q("q_llm_bigram_nll",
      (s, dir) => TextAnalysis.bigramLogProb(
        t(s, dir, "documents"), "doc_id", "text", lambdaBp = 8000),
      Some(LlmOracles.bigramNll)),

    // C4-style markup strip: documents are deterministically wrapped
    // in tags/script/entities IN THE QUERY (both engines build the
    // same dirty string), so the operator demonstrably strips real
    // markup while staying exactly oracle-able.
    Q("q_llm_strip_markup",
      (s, dir) => t(s, dir, "documents")
        .filter(col("text").isNotNull)
        .select(col("doc_id"), TextAnalysis.stripMarkup(
          concat(lit("<div class=\"doc\"><script type=\"text/javascript\">track();</script>"),
            lit("<!-- crawler note --><p>"), col("text"),
            lit("</p><style>p{color:red}</style>&amp;amp; &lt;tail&gt;&nbsp;end</div>")))
          .as("clean")),
      Some("""SELECT doc_id, trim(regexp_replace(
          replace(replace(replace(replace(replace(replace(
            regexp_replace(
              regexp_replace(
                regexp_replace(
                  regexp_replace(
                    '<div class="doc"><script type="text/javascript">track();</script><!-- crawler note --><p>'
                      || text ||
                    '</p><style>p{color:red}</style>&amp;amp; &lt;tail&gt;&nbsp;end</div>',
                    '(?is)<script\b[^>]*>.*?</script\s*>', ' ', 'g'),
                  '(?is)<style\b[^>]*>.*?</style\s*>', ' ', 'g'),
                '(?s)<!--.*?-->', ' ', 'g'),
              '<[^>]+>', ' ', 'g'),
            '&nbsp;', ' '), '&lt;', '<'), '&gt;', '>'),
            '&quot;', '"'), '&#39;', ''''), '&amp;', '&'),
          '\s+', ' ', 'g')) AS clean
        FROM documents WHERE text IS NOT NULL""")),

    // Sentence-level heuristics (the sentence half of Gopher/C4):
    // sentence count, mean/max tokens per sentence (integral micros),
    // terminal-punctuation flag — row-local, shared regex subset.
    Q("q_llm_sentences",
      (s, dir) => TextAnalysis.sentenceStats(t(s, dir, "documents"), "doc_id", "text"),
      Some(LlmOracles.sentenceStats)),

    // The C4 cleaner (Raffel 2020 §2.2) as one operator: line rules
    // (terminal punctuation, >=3 words, no "javascript") + page rules
    // (lorem ipsum, curly brace, >= minSentences retained sentences).
    // The synthetic corpus has no punctuation at all (every rule would
    // fire vacuously), so docs are deterministically SALTED with
    // C4-shaped lines built identically in both engines
    // (q_llm_dup_lines precedent): every line rule and every page rule
    // demonstrably fires — %3 docs fall to minSentences, %5 to lorem
    // ipsum, %7 to the curly brace, and three line classes drop.
    Q("q_llm_c4_rules",
      (s, dir) => {
        val salted = t(s, dir, "documents")
          .select(col("doc_id"), expr(synthC4Sql).as("text"))
        TextAnalysis.c4LineRules(salted, "doc_id", "text",
          minWordsPerLine = 3, minSentences = 3)
      },
      Some(raw"""WITH base AS (SELECT doc_id, $synthC4DuckSql AS text
          FROM documents),
        d AS (SELECT doc_id, text FROM base
          WHERE text IS NOT NULL
            AND NOT contains(lower(text), 'lorem ipsum')
            AND NOT contains(text, '{')),
        l AS (SELECT doc_id,
            list_filter(list_transform(string_split(text, chr(10)),
              x -> trim(x)), x -> x <> '') AS alllines
          FROM d),
        k AS (SELECT doc_id, alllines,
            list_filter(alllines, x -> regexp_matches(x, '[.!?"]$$')
              AND len(string_split_regex(x, '\s+')) >= 3
              AND NOT contains(lower(x), 'javascript')) AS kept
          FROM l),
        c AS (SELECT doc_id,
            array_to_string(kept, chr(10)) AS clean_text,
            CAST(len(kept) AS BIGINT) AS kept_lines,
            CAST(len(alllines) AS BIGINT) AS total_lines
          FROM k),
        s AS (SELECT *, CAST(len(list_filter(list_transform(
              regexp_split_to_array(clean_text, '[.!?]+'), x -> trim(x)),
              x -> x <> '')) AS BIGINT) AS n_sentences
          FROM c)
        SELECT doc_id, clean_text, kept_lines, total_lines, n_sentences
        FROM s WHERE kept_lines > 0 AND n_sentences >= 3""")),

    // Gopher duplicate-line stats: docs are deterministically salted
    // with a repeated boiler line (both engines build the same text),
    // so the duplicate detection demonstrably fires; case-sensitive
    // line equality, integral micro ratios.
    Q("q_llm_dup_lines",
      (s, dir) => TextAnalysis.dupLineStats(
        t(s, dir, "documents").filter(col("text").isNotNull)
          .withColumn("text", concat(col("text"),
            lit("\nboiler line\nBOILER line\nboiler line\nunique tail"))),
        "doc_id", "text"),
      Some(LlmOracles.dupLines)),

    // Gopher duplicated-5-gram character coverage (portable gram
    // strings; the xxhash64 twin below is the production path). A
    // duplicated 6-token run is salted in so coverage provably fires
    // on top of any natural repeats.
    Q("q_llm_dup_ngrams",
      (s, dir) => TextAnalysis.dupNgramCoverage(
        t(s, dir, "documents")
          .withColumn("text", concat(col("text"), lit(" q w e r t y q w e r t y"))),
        "doc_id", "text", n = 5, portableHash = true),
      Some(LlmOracles.dupNgrams)),

    Q("q_llm_dup_ngrams_x64",
      (s, dir) => TextAnalysis.dupNgramCoverage(
        t(s, dir, "documents")
          .withColumn("text", concat(col("text"), lit(" q w e r t y q w e r t y"))),
        "doc_id", "text", n = 5, portableHash = false),
      None),

    // Feature-hashing document embedding (the hashing trick), long
    // format: md5-portable buckets, exact integer counts, one
    // correctly-rounded sqrt+divide into micro weights — oracled.
    Q("q_llm_hash_embed",
      (s, dir) => TextAnalysis.hashEmbedLong(t(s, dir, "documents"),
        "doc_id", "text", dims = 64, portableHash = true),
      Some("""WITH tok AS (SELECT doc_id,
            unnest(string_split_regex(lower(trim(text)), '\s+')) AS tok
          FROM documents WHERE text IS NOT NULL),
        b AS (SELECT doc_id,
            (('0x' || substr(md5(tok), 1, 15))::BIGINT) % 64 AS bucket FROM tok),
        c AS (SELECT doc_id, bucket, COUNT(*) AS cnt FROM b GROUP BY 1, 2),
        s AS (SELECT doc_id, bucket, cnt,
            CAST(SUM(cnt * cnt) OVER (PARTITION BY doc_id) AS BIGINT) AS ss FROM c)
        SELECT doc_id, bucket, cnt,
          CAST(floor(cnt * 1000000 / sqrt(CAST(ss AS DOUBLE)) + 0.5) AS BIGINT)
            AS weight_micro
        FROM s""")),

    // The text -> embedding -> kNN bridge end-to-end: hash-embed the
    // documents (xxhash64 production path) and kNN-classify each
    // query doc's LANGUAGE from its 5 nearest neighbors in hash-
    // embedding space — no pretrained model anywhere. Rows-only
    // (vector assembly is engine-local); the vote rule and the
    // embedding arithmetic are each oracled on their own.
    Q("q_llm_text_knn",
      (s, dir) => {
        val docs = t(s, dir, "documents")
        val vecs = TextAnalysis.hashEmbedVectors(docs, "doc_id", "text", dims = 64)
        Similarity.knnClassifyFrom(
          Similarity.bruteForceTopK(vecs.filter(col("doc_id") < 20), vecs,
            "doc_id", "embedding", k = 5),
          docs.select(col("doc_id"), col("lang")), "doc_id", "lang")
      },
      None),

    // md5-portable oracle twin of the chain above: the same
    // hash-embed → brute-force cosine → vote pipeline with the
    // md5-prefix bucket hash and exact-double vectors, so the WHOLE
    // text→embedding→kNN bridge (not just its two halves) is pinned
    // by the DuckDB oracle end to end.
    Q("q_llm_text_knn_md5",
      (s, dir) => {
        val docs = t(s, dir, "documents")
        val vecs = TextAnalysis.hashEmbedVectors(docs, "doc_id", "text", dims = 64,
          portableHash = true, floatVecs = false)
        Similarity.knnClassifyFrom(
          Similarity.bruteForceTopK(vecs.filter(col("doc_id") < 20), vecs,
            "doc_id", "embedding", k = 5),
          docs.select(col("doc_id"), col("lang")), "doc_id", "lang")
      },
      Some(LlmOracles.textKnnMd5)),

    // Interpolated Kneser-Ney bigram NLL (the canonical n-gram
    // smoothing): continuation-probability backoff, D=0.75, add-one
    // continuation floor; self-trained on the corpus. The oracle
    // restates the exact IEEE probability tree over the same integer
    // count tables.
    Q("q_llm_kn_ppl",
      (s, dir) => TextAnalysis.kneserNeyLogProb(
        t(s, dir, "documents"), "doc_id", "text"),
      Some(LlmOracles.knPpl)),

    // Stupid Backoff trigram NLL (Brants 2007) — the smoothing built
    // FOR distributed scale. Trained on the original corpus, scoring a
    // deterministically mutated stream (every 5th token gets a 'zzqq'
    // prefix): runs of 4 clean tokens keep the top trigram branch
    // firing while each mutation boundary forces unseen-trigram→bigram,
    // unseen-bigram→floor, and full-OOV-floor rungs — ALL backoff
    // branches pinned at volume, not just in the closed-form spec.
    Q("q_llm_sb_ppl",
      (s, dir) => {
        val docs = t(s, dir, "documents")
        val mutated = docs.filter(col("text").isNotNull)
          .select(col("doc_id"), array_join(
            transform(TextAnalysis.tokens(col("text")),
              (tok, i) => when(i % 5 === 4, concat(lit("zzqq"), tok)).otherwise(tok)),
            " ").as("text"))
        TextAnalysis.stupidBackoffLogProb(mutated, "doc_id", "text", train = docs)
      },
      Some(LlmOracles.sbPpl)),

    // Modified Kneser-Ney trigram NLL (Chen & Goodman 1999 — the
    // SRILM/CCNet production smoother): count-of-counts discounts
    // D1/D2/D3+ per order, continuation-count lower orders, add-one
    // continuation floor; self-trained. The oracle restates the exact
    // IEEE probability tree over the same integer count tables.
    Q("q_llm_mkn_ppl",
      (s, dir) => TextAnalysis.modifiedKneserNeyLogProb(
        t(s, dir, "documents"), "doc_id", "text"),
      Some(LlmOracles.mknPpl)),

    // Reference-trained modified-KN trigram — the actual CCNet shape
    // (LM fitted on the clean half, the whole corpus scored): model
    // from even doc_ids only, every doc scored, so the odd half
    // drives the unseen-trigram / unseen-context / unseen-word
    // backoff rungs at volume.
    Q("q_llm_mkn_ppl_ref",
      (s, dir) => {
        val docs = t(s, dir, "documents")
        TextAnalysis.modifiedKneserNeyLogProb(docs, "doc_id", "text",
          train = docs.filter(col("doc_id") % 2 === 0))
      },
      Some(LlmOracles.mknPplRef)),

    // Persisted-LM production face (the KenLM lifecycle): fit the
    // mkn3 model ONCE as a stamped artifact, score through the loaded
    // tables with zero corpus-volume work on the reference. Rows-only
    // like q_llm_ann_persist; q_llm_mkn_index_check pins loaded ≡
    // in-session exactly and LmIndexSpec pins the stale/heal
    // lifecycle. ENSURE-not-rebuild (r13 verdict ask 8): this is the
    // production call pattern — verify the stamp and fit only when the
    // artifact is absent, stale, or wrong; a coherent artifact scores
    // directly. The bench's min-over-passes therefore records the
    // steady-state SCORE leg (the convention BASELINE.md documents);
    // the one-time fit shows up in the first-pass detail and its plan
    // is benched anyway via the in-session q_llm_mkn_ppl.
    Q("q_llm_mkn_ppl_idx",
      (s, dir) => {
        val docs = t(s, dir, "documents")
        val tbl = s"$dir/documents.parquet"
        val idx = s"/tmp/graft_lm_idx_mkn_${math.abs(dir.hashCode)}"
        try graft.ops.LmIndex.verify(s, tbl, idx, "mkn3", "text")
        catch { case _: IllegalStateException =>
          graft.ops.LmIndex.writeMknIndex(s, tbl, idx, "doc_id", "text") }
        graft.ops.LmIndex.scoreMknIndexed(s, docs, "doc_id", "text", tbl, idx)
      },
      None),

    // Engine-internal equivalence oracle for the persisted LM: a
    // loaded-model score must produce EXACTLY the rows of the
    // in-session fit (type counts are longs; the disc row's doubles
    // round-trip parquet bit-exactly) — full-outer join on doc_id,
    // zero tolerance on all three integer columns.
    // Not benched: scores twice only to compare (q_llm_mkn_ppl_idx, q_llm_mkn_ppl are).
    Q("q_llm_mkn_index_check",
      (s, dir) => {
        val docs = t(s, dir, "documents")
        val tbl = s"$dir/documents.parquet"
        val idx = s"${graft.ops.CachedRelations.tempDir("mkn_idx_")}/idx"
        graft.ops.LmIndex.writeMknIndex(s, tbl, idx, "doc_id", "text")
        val loaded = graft.ops.LmIndex.scoreMknIndexed(s, docs, "doc_id", "text", tbl, idx)
          .select(col("doc_id"), col("n_tokens").as("l_nt"),
            col("sum_nll_micro").as("l_s"), col("avg_nll_micro").as("l_a"))
        val fit = TextAnalysis.modifiedKneserNeyLogProb(docs, "doc_id", "text")
          .select(col("doc_id"), col("n_tokens").as("f_nt"),
            col("sum_nll_micro").as("f_s"), col("avg_nll_micro").as("f_a"))
        loaded.join(fit, Seq("doc_id"), "full_outer")
          .agg(count(lit(1)).as("n_docs"),
            sum(when(col("l_nt").isNull || col("f_nt").isNull ||
                col("l_nt") =!= col("f_nt") || col("l_s") =!= col("f_s") ||
                col("l_a") =!= col("f_a"), 1L)
              .otherwise(0L)).as("n_mismatch"))
      },
      Some("""SELECT (SELECT COUNT(*) FROM documents WHERE text IS NOT NULL) AS n_docs,
        CAST(0 AS BIGINT) AS n_mismatch"""), benched = false),

    // Append-lifecycle equivalence oracle for the persisted LM (r14
    // verdict ask 4): a model fitted on two thirds of the corpus and
    // APPENDED with the rest (count-merge + discount re-derivation
    // from the merged tables — n-gram counts are additive) must score
    // EXACTLY like a full refit on the union corpus: counts are
    // integers, the disc doubles derive from identical integers
    // through the identical expression tree, so equality is exact —
    // zero tolerance on all three integer columns.
    // Not benched: three models only to compare (q_llm_mkn_ppl_idx benches the probe).
    Q("q_llm_mkn_append_check",
      (s, dir) => {
        val docs = t(s, dir, "documents")
        val tmp = graft.ops.CachedRelations.tempDir("lm_append_")
        val baseTbl = s"$tmp/base"
        val deltaTbl = s"$tmp/delta"
        val fullTbl = s"$tmp/full"
        docs.filter(col("doc_id") % 3 =!= 0).write.mode("overwrite").parquet(baseTbl)
        docs.filter(col("doc_id") % 3 === 0).write.mode("overwrite").parquet(deltaTbl)
        docs.write.mode("overwrite").parquet(fullTbl)
        val idxA = s"$tmp/idx_appended"
        val idxR = s"$tmp/idx_refit"
        graft.ops.LmIndex.writeMknIndex(s, baseTbl, idxA, "doc_id", "text")
        graft.ops.LmIndex.appendMknIndex(s, deltaTbl, idxA, baseTbl, "doc_id", "text")
        graft.ops.LmIndex.writeMknIndex(s, fullTbl, idxR, "doc_id", "text")
        val appended = graft.ops.LmIndex.scoreMknIndexed(s, docs, "doc_id", "text",
            baseTbl, idxA)
          .select(col("doc_id"), col("n_tokens").as("a_nt"),
            col("sum_nll_micro").as("a_s"), col("avg_nll_micro").as("a_a"))
        val refit = graft.ops.LmIndex.scoreMknIndexed(s, docs, "doc_id", "text",
            fullTbl, idxR)
          .select(col("doc_id"), col("n_tokens").as("r_nt"),
            col("sum_nll_micro").as("r_s"), col("avg_nll_micro").as("r_a"))
        appended.join(refit, Seq("doc_id"), "full_outer")
          .agg(count(lit(1)).as("n_docs"),
            sum(when(col("a_nt").isNull || col("r_nt").isNull ||
                col("a_nt") =!= col("r_nt") || col("a_s") =!= col("r_s") ||
                col("a_a") =!= col("r_a"), 1L)
              .otherwise(0L)).as("n_mismatch"))
      },
      Some("""SELECT (SELECT COUNT(*) FROM documents WHERE text IS NOT NULL) AS n_docs,
        CAST(0 AS BIGINT) AS n_mismatch"""), benched = false),

    // Reference-trained bigram LM perplexity (the CCNet production
    // shape q_llm_bigram_nll's self-fit model can't express): model
    // trained on the EVEN-doc_id half only, EVERY doc scored — unseen
    // words and unseen contexts in the odd half exercise the
    // add-one/interpolation floors, and single-token docs get a
    // first-token unigram score instead of vanishing.
    Q("q_llm_bigram_ppl",
      (s, dir) => {
        val docs = t(s, dir, "documents")
        TextAnalysis.bigramLogProbRef(docs, "doc_id", "text",
          train = docs.filter(col("doc_id") % 2 === 0))
      },
      Some(LlmOracles.bigramPpl)),

    // OOV-tail instantiation of the reference-trained bigram LM (r10):
    // the synthetic corpus shares ~100% of its vocabulary across docs,
    // so no train/test split can produce unseen mass — instead the
    // SCORED stream is deterministically mutated (2 of every 3 tokens
    // get a 'zzqq' prefix absent from the corpus) while training stays
    // unmutated. >60% of scored words AND contexts are then unseen,
    // pinning the add-one unigram floor and the zero-bigram fallback
    // AT VOLUME against the oracle, not just in the closed-form spec.
    Q("q_llm_bigram_ppl_oov",
      (s, dir) => {
        val docs = t(s, dir, "documents")
        val mutated = docs.filter(col("text").isNotNull)
          .select(col("doc_id"), array_join(
            transform(TextAnalysis.tokens(col("text")),
              (tok, i) => when(i % 3 =!= 0, concat(lit("zzqq"), tok)).otherwise(tok)),
            " ").as("text"))
        TextAnalysis.bigramLogProbRef(mutated, "doc_id", "text", train = docs)
      },
      Some(LlmOracles.bigramPplOov)),

    // Corpus datasheet (r9): the per-(source, lang) data card —
    // volumes, corpus-wide exact-dup rate attributed per cell, mean
    // composite quality in exact integral micros.
    Q("q_llm_datasheet",
      (s, dir) => TextAnalysis.corpusDatasheet(
        t(s, dir, "documents"), "source", "lang", "text"),
      Some(LlmOracles.datasheet)),

    // URL canonicalization (r9): the crawl-curation front door — a
    // deterministic messy-URL synthesis (case, www, default ports,
    // tracking params, fragments, trailing slashes, a non-http scheme
    // whose port must SURVIVE, and a not-a-URL row that must go null)
    // pushed through the full normalizeUrl contract + the blocklist
    // predicate, every branch oracled.
    Q("q_llm_url_normalize",
      (s, dir) => {
        val url = LlmQueries.synthUrl
        t(s, dir, "documents")
          .select(col("doc_id"), url.as("url"),
            graft.ops.Urls.normalizeUrl(url).as("canonical_url"),
            graft.ops.Urls.urlHost(url).as("host"),
            graft.ops.Urls.hostBlocked(url,
              Seq("site2.example.com", "example.org")).as("blocked"))
      },
      Some(LlmOracles.urlNormalize)),

    // Canonical-URL dedup verdicts over the same synthesis: one
    // canonical-key shuffle, text never moves — the cheapest dedup in
    // the pipeline, run before any content pass.
    Q("q_llm_url_dedup",
      (s, dir) => graft.ops.Urls.urlDedupVerdicts(
        t(s, dir, "documents").withColumn("url", LlmQueries.synthUrl),
        "doc_id", "url"),
      Some(LlmOracles.urlDedup)),

    // Printable-ASCII character entropy in micro-nats: the cheap
    // junk/padding/random-key detector; surprisal micro-quantized
    // row-wise, entropy an exact integral division.
    Q("q_llm_char_entropy",
      (s, dir) => TextAnalysis.charEntropy(t(s, dir, "documents"), "doc_id", "text"),
      Some(LlmOracles.charEntropy)),

    // ftfy-style mojibake repair: documents are deterministically
    // salted with every double-encoded sequence in the repair table
    // (both engines build the same broken string), so the fix
    // demonstrably repairs real mojibake while staying exactly
    // oracle-able — the repair table is data, stated verbatim in SQL.
    Q("q_llm_fix_mojibake",
      (s, dir) => {
        val salted = concat(col("text"), lit(LlmOracles.mojibakeSalt))
        t(s, dir, "documents").filter(col("text").isNotNull)
          .select(col("doc_id"),
            TextAnalysis.fixMojibake(salted).as("fixed"),
            (TextAnalysis.fixMojibake(salted) =!= salted).as("was_broken"))
      },
      Some(LlmOracles.fixMojibake)),

    // CCNet head/middle/tail perplexity partition: per-source ntile
    // over the bigram NLL — the "cut within the source" selection
    // CCNet applies before training-data export.
    Q("q_llm_ppl_partition",
      (s, dir) => TextAnalysis.perplexityPartition(
        t(s, dir, "documents"), "doc_id", "text", "source"),
      Some(LlmOracles.pplPartition)),

    // Cross-source duplication report over the md5-portable minhash
    // pair set — the oracle instantiation of the report; the xxhash64
    // pair generator below is the production/bench path.
    Q("q_llm_cross_source_dups",
      (s, dir) => {
        val docs = t(s, dir, "documents")
        Dedup.crossSourceDupReport(
          Dedup.minhashPortablePairs(docs, "doc_id", "text"),
          docs, "doc_id", "source")
      },
      Some(LlmOracles.crossSourceDups), benched = false),

    Q("q_llm_cross_source_dups_x64",
      (s, dir) => {
        val docs = t(s, dir, "documents")
        Dedup.crossSourceDupReport(
          Dedup.minhashNearDupPairs(docs, "doc_id", "text",
            shingleSize = 5, numHashes = 16, bands = 4, threshold = 0.5),
          docs, "doc_id", "source")
      },
      None),

    // Leakage-safe group-aware split: near-dup clusters land whole in
    // one split. md5-portable pair set for the oracle (recursive-CTE
    // cluster walk); xxhash64 variant is the production/bench path.
    Q("q_llm_group_split",
      (s, dir) => {
        val docs = t(s, dir, "documents")
        graft.ops.Sampling.groupAwareSplit(
            docs.select(col("doc_id"), col("lang")), "doc_id",
            Dedup.minhashPortablePairs(docs, "doc_id", "text"))
          .select(col("doc_id"), col("group_id"), col("split"))
      },
      Some(LlmOracles.groupSplit), benched = false),

    Q("q_llm_group_split_x64",
      (s, dir) => {
        val docs = t(s, dir, "documents")
        graft.ops.Sampling.groupAwareSplit(
            docs.select(col("doc_id"), col("lang")), "doc_id",
            Dedup.minhashNearDupPairs(docs, "doc_id", "text",
              shingleSize = 5, numHashes = 16, bands = 4, threshold = 0.5))
          .select(col("doc_id"), col("group_id"), col("split"))
      },
      None),

    // Signed-random-projection dim reduction over int8 codes (pure
    // map, literal-inlined sign matrix, exact integer sums — oracled).
    Q("q_llm_random_projection",
      (s, dir) => Similarity.randomProjectInt8(
        t(s, dir, "embeddings"), "vec_id", "embedding",
        outDims = 8, dims = 64, seed = "rp"),
      Some(LlmOracles.randomProjection)),

    // DSIR importance weights (Xie 2023): raw = every non-src0 doc
    // scored against the src0 "target" distribution — xxhash64
    // production path (rows-only; the md5 twin below carries the
    // DuckDB signal for the identical pipeline).
    Q("q_llm_dsir",
      (s, dir) => {
        val d = t(s, dir, "documents")
        graft.ops.Dsir.importanceWeights(
          d.filter(col("source") =!= "src0"),
          d.filter(col("source") === "src0"), "doc_id", "text")
      },
      None),

    // fastText-style linear quality filter: logistic regression fit on
    // src0-vs-rest hashed ngram features (bounded sample), scored
    // RELATIONALLY via a broadcast coefficient table — rows-only
    // (model weights are engine-local, the k-means precedent; the
    // shared feature relation is oracled through q_llm_dsir_md5).
    Q("q_llm_quality_classifier",
      (s, dir) => {
        val d = t(s, dir, "documents")
        graft.ops.QualityClassifier.trainScore(
          d.filter(col("source") =!= "src0"),
          d.filter(col("source") === "src0"), "doc_id", "text")
      },
      None),

    // Gate-visible check for the engine-local classifier: score the
    // WHOLE corpus (scoreOn), then pin separation — the positive
    // class (src0, the training target) must score strictly higher on
    // average than the rest, with every probability a valid sigmoid
    // output. Exact doc count anchors the row.
    // Not benched: re-runs the benched q_llm_quality_classifier only to pin its properties.
    Q("q_llm_quality_check",
      (s, dir) => {
        val d = t(s, dir, "documents")
        val scored = graft.ops.QualityClassifier.trainScore(
          d.filter(col("source") =!= "src0"),
          d.filter(col("source") === "src0"), "doc_id", "text",
          scoreOn = Some(d))
        val verdict = scored
          .join(d.select(col("doc_id").as("id"), col("source")), "id")
          .agg(
            (avg(when(col("source") === "src0", col("p_target"))) >
              avg(when(col("source") =!= "src0", col("p_target"))))
              .as("target_scores_higher"),
            (min(col("p_target")) >= 0.0 && max(col("p_target")) <= 1.0)
              .as("probs_bounded"))
        d.agg(count(lit(1)).as("n_docs")).crossJoin(verdict)
      },
      Some("""SELECT (SELECT COUNT(*) FROM documents) AS n_docs,
        TRUE AS target_scores_higher, TRUE AS probs_bounded"""), benched = false),

    // Heaps'-law exponent (vocabulary growth V = K·N^beta): per-doc
    // (ln tokens, ln types) points in integral micros fed through the
    // exact OLS machinery (scale 0: the inputs are already integers);
    // slope ~ beta. The corpus-health companion to the Zipf fit.
    Q("q_llm_heaps",
      (s, dir) => {
        val pts = t(s, dir, "documents").filter(col("text").isNotNull)
          .select(size(Dedup.tokens(col("text"))).cast("long").as("_n"),
            size(array_distinct(Dedup.tokens(col("text")))).cast("long").as("_v"))
          .filter(col("_n") > 0 && col("_v") > 0)
          .select(floor(log(col("_n").cast("double")) * lit(1e6) + lit(0.5)).as("x"),
            floor(log(col("_v").cast("double")) * lit(1e6) + lit(0.5)).as("y"))
          .withColumn("g", lit("all"))
        graft.ops.Stats.olsFit(pts, "x", "y", Seq("g"), scale = 0)
      },
      Some("""WITH tk AS (SELECT
          string_split_regex(lower(trim(text)), '\s+') AS toks
          FROM documents WHERE text IS NOT NULL),
        nv AS (SELECT CAST(len(toks) AS BIGINT) AS n,
            CAST(len(list_distinct(toks)) AS BIGINT) AS v FROM tk),
        pts AS (SELECT
            CAST(floor(ln(CAST(n AS DOUBLE)) * 1e6 + 0.5) AS HUGEINT) AS x,
            CAST(floor(ln(CAST(v AS DOUBLE)) * 1e6 + 0.5) AS HUGEINT) AS y
          FROM nv WHERE n > 0 AND v > 0),
        s AS (SELECT COUNT(*) AS n, SUM(x) AS sx, SUM(y) AS sy,
          SUM(x*x) AS sxx, SUM(x*y) AS sxy FROM pts)
        SELECT 'all' AS g, n,
          CASE WHEN CAST(n AS DOUBLE)*CAST(sxx AS DOUBLE)-CAST(sx AS DOUBLE)*CAST(sx AS DOUBLE) > 0
               THEN (CAST(n AS DOUBLE)*CAST(sxy AS DOUBLE)-CAST(sx AS DOUBLE)*CAST(sy AS DOUBLE))
                  / (CAST(n AS DOUBLE)*CAST(sxx AS DOUBLE)-CAST(sx AS DOUBLE)*CAST(sx AS DOUBLE)) END AS slope,
          (CAST(sy AS DOUBLE) - slope*CAST(sx AS DOUBLE))
            / (CAST(n AS DOUBLE) * CAST(1 AS DOUBLE)) AS intercept
        FROM s""")),

    // Per-source Zipf exponent (power-law MLE over token frequencies)
    // — corpus-health probe; exact via per-term integer-micro ln.
    Q("q_llm_zipf",
      (s, dir) => graft.ops.TextAnalysis.zipfFit(
        t(s, dir, "documents").filter(col("text").isNotNull), "text", "source"),
      Some(LlmOracles.zipf)),

    // Not benched: md5 oracle twin of the benched q_llm_dsir.
    Q("q_llm_dsir_md5",
      (s, dir) => {
        val d = t(s, dir, "documents")
        graft.ops.Dsir.importanceWeights(
          d.filter(col("source") =!= "src0"),
          d.filter(col("source") === "src0"), "doc_id", "text",
          portableHashing = true)
      },
      Some(LlmOracles.dsir), benched = false),

    // Per-doc TF-IDF keyword extraction: top-3 distinctive terms, the
    // same integer-micro tf·ln(1+N/df) weight as the near-dup operator,
    // deterministic (weight desc, term asc) rank; doc-keyed window,
    // never a corpus sort.
    Q("q_llm_keywords",
      (s, dir) => graft.ops.TextAnalysis.keywords(
        t(s, dir, "documents"), "doc_id", "text", k = 3),
      Some("""WITH tk AS (SELECT doc_id AS id,
          unnest(string_split_regex(lower(trim(text)), '\s+')) AS term FROM documents),
        tf AS (SELECT id, term, COUNT(*) AS tf FROM tk GROUP BY 1, 2),
        df AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY 1),
        nd AS (SELECT COUNT(DISTINCT doc_id) AS n_docs FROM documents),
        w AS (SELECT id, term,
            CAST(floor(tf * ln(1.0 + CAST(n_docs AS DOUBLE) / df) * 1e6 + 0.5) AS BIGINT) AS wn
          FROM tf JOIN df USING (term) CROSS JOIN nd
          WHERE floor(tf * ln(1.0 + CAST(n_docs AS DOUBLE) / df) * 1e6 + 0.5) > 0),
        r AS (SELECT id, term, wn,
            row_number() OVER (PARTITION BY id ORDER BY wn DESC, term) AS rank FROM w)
        SELECT id AS doc_id, term, wn, rank FROM r WHERE rank <= 3""")),

    // One-permutation-hashing MinHash pairs (Li 2012 + rotation
    // densification): ONE hash per shingle instead of numHashes mixes
    // — the signature stage stops scaling with signature length. md5
    // twin oracled end-to-end; the xxhash64 path below is the benched
    // production twin with identical downstream algebra.
    Q("q_llm_oph_pairs",
      (s, dir) => Dedup.ophPairs(t(s, dir, "documents"), "doc_id", "text",
        portableHashing = true),
      Some(LlmOracles.ophPairs), benched = false),

    // Production OPH geometry: 24 bins, 4 bands of 6 (bucket key as
    // selective as the classic 16-hash banding), est >= 0.7 — same
    // wall-clock as the classic pairs at sf0.1 with ONE hash per
    // shingle instead of 16 mixes (native oph_sig_x64 expression).
    Q("q_llm_oph_pairs_x64",
      (s, dir) => Dedup.ophPairs(t(s, dir, "documents"), "doc_id", "text",
        k = 24, bands = 4, threshold = 0.7),
      None),

    // Relational Count-Min sketch over document tokens: d=3 rows x
    // w=256 buckets, estimate = min of the key's bucket counts. The
    // seeded hashes make the WHOLE sketch exactly oracle-able (md5
    // twin); the xxhash64 twin below is the benched production path.
    Q("q_llm_cms",
      (s, dir) => graft.ops.Sketches.countMinEstimates(
        t(s, dir, "documents").filter(col("text").isNotNull)
          .select(explode(Dedup.tokens(col("text"))).as("tok")),
        "tok", d = 3, w = 256, portableHashing = true),
      Some("""WITH tk AS (SELECT unnest(string_split_regex(lower(trim(text)), '\s+')) AS tok
          FROM documents WHERE text IS NOT NULL),
        js AS (SELECT unnest(generate_series(0, 2)) AS j),
        b AS (SELECT j AS rw,
            ('0x' || substr(md5(j || '|' || tok), 1, 15))::BIGINT % 256 AS bucket,
            COUNT(*) AS cnt
          FROM tk CROSS JOIN js GROUP BY 1, 2),
        k AS (SELECT DISTINCT tok FROM tk),
        kb AS (SELECT tok AS key, j AS rw,
            ('0x' || substr(md5(j || '|' || tok), 1, 15))::BIGINT % 256 AS bucket
          FROM k CROSS JOIN js)
        SELECT key, min(cnt) AS est
        FROM kb JOIN b USING (rw, bucket) GROUP BY key"""), benched = false),

    Q("q_llm_cms_x64",
      (s, dir) => graft.ops.Sketches.countMinEstimates(
        t(s, dir, "documents").filter(col("text").isNotNull)
          .select(explode(Dedup.tokens(col("text"))).as("tok")),
        "tok", d = 3, w = 256),
      None),

    // Top referenced domains over deterministically salted URLs (the
    // corpus has none of its own): doc + mention counts per extracted
    // host, deterministic top-20.
    Q("q_llm_top_domains",
      (s, dir) => graft.ops.TextAnalysis.topDomains(
        t(s, dir, "documents").withColumn("text", concat(col("text"),
          lit(" see https://site"), pmod(col("doc_id"), lit(7)),
          lit(".example.com/page and HTTP://Mirror.example.org"))),
        "doc_id", "text", topK = 20),
      Some("""WITH s AS (SELECT doc_id,
          text || ' see https://site' || CAST(doc_id % 7 AS VARCHAR)
            || '.example.com/page and HTTP://Mirror.example.org' AS text
          FROM documents WHERE text IS NOT NULL),
        u AS (SELECT doc_id,
          unnest(regexp_extract_all(lower(text), 'https?://([a-z0-9.-]+)', 1)) AS domain
          FROM s),
        c AS (SELECT domain, COUNT(*) AS n_mentions,
          COUNT(DISTINCT doc_id) AS n_docs FROM u GROUP BY domain),
        rk AS (SELECT domain, n_mentions, n_docs,
          CAST(row_number() OVER (ORDER BY n_mentions DESC, domain) AS INTEGER) AS rank
          FROM c)
        SELECT domain, n_mentions, n_docs, rank FROM rk WHERE rank <= 20""")),

    // c-TF-IDF cluster labels (BERTopic-style "what IS this duplicate
    // cluster"): each md5-minhash component is one mega-document,
    // top-3 distinctive terms per cluster by the keywords micro
    // weight at cluster granularity; singletons are their own cluster.
    // Not benched: md5 oracle twin of the benched q_llm_cluster_terms_x64.
    Q("q_llm_cluster_terms",
      (s, dir) => {
        val docs = t(s, dir, "documents")
        val pairs = Dedup.minhashPortablePairs(docs, "doc_id", "text",
          shingleSize = 4, numHashes = 8, bands = 4, threshold = 0.5)
        graft.ops.Clusters.clusterTerms(docs, "doc_id", "text",
          pairs, "id_a", "id_b", k = 3)
      },
      Some(LlmOracles.clusterTermsMd5), benched = false),

    // Sketch-then-verify: OPH candidates re-scored with the EXACT
    // shingle Jaccard (integral micros) — banding noise never reaches
    // downstream dedup. md5 twin oracled; x64 twin benched.
    Q("q_llm_oph_verified",
      (s, dir) => Dedup.ophVerifiedPairs(t(s, dir, "documents"), "doc_id", "text",
        portableHashing = true),
      Some(LlmOracles.ophVerified), benched = false),

    Q("q_llm_oph_verified_x64",
      (s, dir) => Dedup.ophVerifiedPairs(t(s, dir, "documents"), "doc_id", "text",
        k = 24, bands = 4, estThreshold = 0.7),
      None),

    // Quality-aware dedup: keep the LONGEST member of each md5-minhash
    // near-dup cluster (curation default) instead of the min-id.
    // Not benched: md5-portable oracle fixture, like every md5 twin.
    Q("q_llm_dedup_best",
      (s, dir) => {
        val docs = t(s, dir, "documents")
        val pairs = Dedup.minhashPortablePairs(docs, "doc_id", "text",
          shingleSize = 4, numHashes = 8, bands = 4, threshold = 0.5)
        graft.ops.Clusters.dedupByPairsBest(
          docs.select(col("doc_id"), col("lang"), col("n_chars")),
          "doc_id", "n_chars", pairs, "id_a", "id_b")
      },
      Some(LlmOracles.dedupBestMd5), benched = false),

    // Production twin: same c-TF-IDF labeling over the xxhash64
    // MinHash pair generator (benched; the md5 twin above is the
    // oracle fixture, excluded from bench like every md5 twin).
    Q("q_llm_cluster_terms_x64",
      (s, dir) => {
        val docs = t(s, dir, "documents")
        val pairs = Dedup.minhashNearDupPairs(docs, "doc_id", "text",
          shingleSize = 5, numHashes = 16, bands = 4, threshold = 0.7)
        graft.ops.Clusters.clusterTerms(docs, "doc_id", "text",
          pairs, "id_a", "id_b", k = 3)
      },
      None),

    // PCA top-2 projection: driver power iteration on a bounded
    // deterministic sample's covariance, literal-inlined component
    // vectors, pure-map projection (rows-only: eigenvectors have no
    // SQL restatement; the fit and projection algebra are spec-pinned
    // on synthetic dominant-direction fixtures, and the _check row
    // below pins the definitional PCA properties on the REAL data in
    // the DuckDB gate).
    Q("q_llm_pca",
      (s, dir) => graft.ops.Similarity.pcaProject(
        t(s, dir, "embeddings"), "vec_id", "embedding", k = 2),
      None),

    // Gate-visible check for the engine-local PCA: every vector
    // projected, variance along pc1 dominates pc2 (top-eigen
    // ordering), and the two projections are (near-)uncorrelated —
    // the definitional properties of principal components, computed
    // over the REAL embeddings and pinned by the oracle.
    // Not benched: re-runs the benched q_llm_pca only to pin its properties.
    Q("q_llm_pca_check",
      (s, dir) => graft.ops.Similarity.pcaProject(
          t(s, dir, "embeddings"), "vec_id", "embedding", k = 2)
        .agg(count(lit(1)).as("n_vecs"),
          (var_pop(col("pc1")) >= var_pop(col("pc2"))).as("pc1_dominates"),
          (abs(corr(col("pc1"), col("pc2"))) < 0.05).as("pcs_uncorrelated")),
      Some("""SELECT (SELECT COUNT(*) FROM embeddings WHERE embedding IS NOT NULL)
          AS n_vecs, TRUE AS pc1_dominates, TRUE AS pcs_uncorrelated"""), benched = false),

    // Deflate compression-ratio quality signal (rows-only: zlib is
    // engine-local; ordering/bounds spec-pinned, and the _check row
    // below pins the bounds + the repetition-compresses property on
    // the REAL corpus in the DuckDB gate). Templated text scores low,
    // random keys near 1e6.
    Q("q_llm_compress_ratio",
      (s, dir) => graft.ops.TextAnalysis.compressionRatio(
        t(s, dir, "documents"), "doc_id", "text"),
      None),

    // Gate-visible check for the engine-local deflate signal: exact
    // doc coverage, every compressed size inside zlib's worst-case
    // envelope (stored-block framing: ≤ 11 bytes header/adler plus
    // 5 bytes per block — a FIXED ratio bound is wrong for short
    // docs, where the framing dominates), and doubling every text
    // never hurts the mean per-byte ratio (self-similar input
    // compresses better — the property that makes the signal a
    // boilerplate detector).
    // Not benched: re-runs the benched q_llm_compress_ratio only to pin its properties.
    Q("q_llm_compress_check",
      (s, dir) => {
        val docs = t(s, dir, "documents")
        val single = graft.ops.TextAnalysis.compressionRatio(docs, "doc_id", "text")
          .select(col("doc_id"), col("n_bytes"), col("n_compressed"),
            col("ratio_micro").as("r1"))
        val doubled = graft.ops.TextAnalysis.compressionRatio(
            docs.withColumn("text", concat(col("text"), col("text"))), "doc_id", "text")
          .select(col("doc_id"), col("ratio_micro").as("r2"))
        single.join(doubled, "doc_id")
          .agg(count(lit(1)).as("n_docs"),
            (min(col("r1")) > 0L &&
              max(col("n_compressed") - col("n_bytes") - lit(16L)
                - (col("n_bytes") / lit(16384L)) * lit(5L)) <= 0L)
              .as("ratios_bounded"),
            (avg(col("r2")) < avg(col("r1"))).as("doubling_compresses"))
      },
      Some("""SELECT (SELECT COUNT(*) FROM documents WHERE text IS NOT NULL)
          AS n_docs, TRUE AS ratios_bounded, TRUE AS doubling_compresses"""), benched = false),

    // Exact-count stratified sample: largest-remainder apportionment
    // across sources at p=0.25, md5-hash-rank row selection — exactly
    // floor(N/4) rows, exactly apportioned, rerun-deterministic.
    Q("q_llm_exact_sample",
      (s, dir) => graft.ops.Sampling.exactProportionSample(
        t(s, dir, "documents").select(col("doc_id"), col("source")),
        "doc_id", "source", pMicro = 250000L),
      Some("""WITH c AS (SELECT source, COUNT(*) AS n_s FROM documents GROUP BY source),
        t AS (SELECT SUM(n_s) AS n FROM c),
        a AS (SELECT source, n_s, (n_s * 250000) // 1000000 AS base,
          (n_s * 250000) % 1000000 AS rem FROM c),
        r AS (SELECT a.*, row_number() OVER (ORDER BY rem DESC, source) AS rr,
          (SELECT (n * 250000) // 1000000 FROM t) - SUM(base) OVER () AS leftover FROM a),
        q AS (SELECT source, base + CASE WHEN rr <= leftover THEN 1 ELSE 0 END AS quota FROM r),
        h AS (SELECT doc_id, source,
          ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT AS hv FROM documents),
        rk AS (SELECT doc_id, source,
          row_number() OVER (PARTITION BY source ORDER BY hv, doc_id) AS rnk FROM h)
        SELECT rk.doc_id, rk.source FROM rk JOIN q USING (source)
        WHERE rnk <= quota""")),

    // Flesch reading-ease in integral micros: vowel-group syllable
    // heuristic (floor 1/word), words-per-sentence and syllables-per-
    // word as exact micro ratios — row-local, zero shuffle.
    Q("q_llm_readability",
      (s, dir) => TextAnalysis.readability(t(s, dir, "documents"), "doc_id", "text"),
      Some("""WITH s AS (SELECT doc_id,
          len(list_filter(list_transform(
            regexp_split_to_array(text, '[.!?]+'), x -> trim(x)), x -> x <> '')) AS n_sents_raw,
          list_filter(string_split_regex(lower(trim(text)), '\s+'), t -> t <> '') AS toks
        FROM documents WHERE text IS NOT NULL),
      v AS (SELECT doc_id,
          CAST(len(toks) AS BIGINT) AS n_words,
          CAST(greatest(n_sents_raw, 1) AS BIGINT) AS n_sentences,
          CAST(coalesce(list_sum(list_transform(toks,
            t -> greatest(len(regexp_extract_all(t, '[aeiouy]+')), 1))), 0) AS BIGINT) AS n_syllables
        FROM s)
      SELECT doc_id, n_words, n_sentences, n_syllables,
        (n_words * 1000000) // n_sentences AS wps_micro,
        (n_syllables * 1000000) // n_words AS spw_micro,
        206835000 - (1015 * ((n_words * 1000000) // n_sentences)) // 1000
                  - (84600 * ((n_syllables * 1000000) // n_words)) // 1000 AS flesch_micro
      FROM v WHERE n_words > 0""")),

    // Link prediction over the near-dup graph: non-adjacent pairs
    // sharing neighbors, scored by common-neighbor count + integral
    // Jaccard — the "same cluster, but the direct edge fell under the
    // threshold" triage list. Brute-force cosine input is a labeled
    // oracle baseline (like q_llm_triangles), not a perf claim.
    Q("q_llm_link_pred",
      (s, dir) => graft.ops.Graphs.linkPrediction(
        Dedup.embeddingNearDupPairs(t(s, dir, "embeddings"), "vec_id", "embedding",
          threshold = 0.3).select(col("id_a"), col("id_b")),
        "id_a", "id_b"),
      Some("""WITH e0 AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        e AS (SELECT a.vec_id AS id_a, b.vec_id AS id_b
          FROM e0 a CROSS JOIN e0 b WHERE a.vec_id < b.vec_id
            AND list_dot_product(a.v, b.v)
              / (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v))) >= 0.3),
        sym AS (SELECT id_a AS node, id_b AS nbr FROM e
          UNION SELECT id_b, id_a FROM e),
        deg AS (SELECT node, COUNT(*) AS deg FROM sym GROUP BY node),
        cn AS (SELECT x.nbr AS id_a, y.nbr AS id_b, COUNT(*) AS cn
          FROM sym x JOIN sym y ON x.node = y.node AND x.nbr < y.nbr
          GROUP BY 1, 2),
        cand AS (SELECT c.id_a, c.id_b, c.cn FROM cn c
          LEFT JOIN e ON e.id_a = c.id_a AND e.id_b = c.id_b
          WHERE e.id_a IS NULL)
        SELECT c.id_a, c.id_b, c.cn,
          (c.cn * 1000000) // (da.deg + db.deg - c.cn) AS jaccard_micro
        FROM cand c JOIN deg da ON da.node = c.id_a
        JOIN deg db ON db.node = c.id_b""")),
  )
}

/** Long-form DuckDB oracle SQL for the LLM queries. */
object LlmOracles {

  private val stopLists = TextAnalysis.stopwords.map { case (l, ws) =>
    l -> ws.map(w => s"'$w'").mkString("[", ", ", "]")
  }.toMap

  /** SQL list literal of the Gopher required-word set. */
  val gopherStopList: String =
    TextAnalysis.gopherStops.map(w => s"'$w'").mkString("[", ", ", "]")
  private val allStops = TextAnalysis.stopwords.flatMap(_._2).distinct
    .map(w => s"'$w'").mkString("[", ", ", "]")

  val calibration: String = s"""
    WITH x AS (SELECT doc_id, source,
      string_split_regex(lower(trim(text)), '\\s+') AS toks,
      CAST(length(text) - length(regexp_replace(text, '[.!?,;:]', '', 'g')) AS DOUBLE)
        / greatest(length(text), 1) AS punct_ratio
      FROM documents WHERE text IS NOT NULL),
    y AS (SELECT doc_id, source, punct_ratio,
      CAST(len(list_filter(toks, t -> list_contains($allStops, t))) AS DOUBLE)
        / greatest(len(toks), 1) AS stop_ratio,
      len(toks) AS n_toks FROM x),
    q AS (SELECT doc_id, source,
      least(CAST(n_toks AS DOUBLE) / 100.0, 1.0) * 0.4
        + (1.0 - punct_ratio) * 0.3
        + least(stop_ratio * 5.0, 1.0) * 0.3 AS quality
      FROM y)
    SELECT doc_id, source, quality,
      CAST((rank() OVER (PARTITION BY source ORDER BY quality) - 1) * 1000000
        // greatest(COUNT(*) OVER (PARTITION BY source) - 1, 1) AS BIGINT) AS pct_micro
    FROM q"""

  val quality: String = s"""
    WITH x AS (SELECT doc_id,
      string_split_regex(lower(trim(text)), '\\s+') AS toks,
      CAST(length(text) - length(regexp_replace(text, '[.!?,;:]', '', 'g')) AS DOUBLE)
        / greatest(length(text), 1) AS punct_ratio
      FROM documents),
    y AS (SELECT doc_id, punct_ratio,
      CAST(len(list_filter(toks, t -> list_contains($allStops, t))) AS DOUBLE)
        / greatest(len(toks), 1) AS stop_ratio,
      len(toks) AS n_toks FROM x)
    SELECT doc_id, punct_ratio, stop_ratio,
      least(CAST(n_toks AS DOUBLE) / 100.0, 1.0) * 0.4
        + (1.0 - punct_ratio) * 0.3
        + least(stop_ratio * 5.0, 1.0) * 0.3 AS quality
    FROM y"""

  val sourceQuality: String = s"""
    WITH x AS (SELECT doc_id, source,
      string_split_regex(lower(trim(text)), '\\s+') AS toks,
      CAST(length(text) - length(regexp_replace(text, '[.!?,;:]', '', 'g')) AS DOUBLE)
        / greatest(length(text), 1) AS punct_ratio
      FROM documents),
    y AS (SELECT doc_id, source, punct_ratio,
      CAST(len(list_filter(toks, t -> list_contains($allStops, t))) AS DOUBLE)
        / greatest(len(toks), 1) AS stop_ratio,
      len(toks) AS n_toks FROM x),
    q AS (SELECT source,
      least(CAST(n_toks AS DOUBLE) / 100.0, 1.0) * 0.4
        + (1.0 - punct_ratio) * 0.3
        + least(stop_ratio * 5.0, 1.0) * 0.3 AS quality
      FROM y)
    SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
      CAST(SUM(CAST(floor(quality * 1e6 + 0.5) AS BIGINT)) // COUNT(*) AS BIGINT)
        AS q_mean_micro,
      CAST(SUM(CASE WHEN quality >= 0.5 THEN 1 ELSE 0 END) * 10000 // COUNT(*) AS BIGINT)
        AS high_rate_bp
    FROM q GROUP BY source"""

  val langId: String = {
    val counts = TextAnalysis.stopwords.map { case (l, _) =>
      s"len(list_intersect(dtoks, ${stopLists(l)})) AS c_$l"
    }.mkString(", ")
    val langs = TextAnalysis.stopwords.map(_._1)
    val maxExpr = s"greatest(${langs.map("c_" + _).mkString(", ")})"
    val caseArms = langs.map(l => s"WHEN c_$l = maxc THEN '$l'").mkString(" ")
    s"""WITH x AS (SELECT doc_id, lang,
        list_distinct(string_split_regex(lower(trim(text)), '\\s+')) AS dtoks
        FROM documents),
      y AS (SELECT doc_id, lang, $counts FROM x),
      z AS (SELECT *, $maxExpr AS maxc FROM y)
      SELECT doc_id, lang,
        CASE WHEN maxc = 0 THEN 'und' $caseArms ELSE 'und' END AS lang_pred
      FROM z"""
  }

  val minhashSig: String = {
    val terms = (0 until 8).map(j =>
      s"list_min(list_transform(sh, x -> md5('$j|' || x)))").mkString(", ")
    s"""WITH x AS (SELECT doc_id,
        list_distinct(list_transform(
          generate_series(1, greatest(1, length(lower(text)) - 3)),
          i -> substr(lower(text), i, 4))) AS sh
        FROM documents)
      SELECT doc_id, concat_ws('|', $terms) AS sig FROM x"""
  }

  /** 30-bit md5-portable SimHash as a CTE fragment: (doc_id, simhash),
    * sourced from `src`. Twin of [[graft.ops.Dedup.simhashPortable]]. */
  private def simhashSigCtes(src: String): String = s"""
    toks AS (SELECT DISTINCT doc_id,
        unnest(string_split_regex(lower(trim(text)), '\\s+')) AS tok FROM $src),
    h AS (SELECT doc_id, ('0x' || substr(md5(tok), 1, 15))::BIGINT AS h FROM toks),
    bits AS (SELECT doc_id, j,
        SUM(CASE WHEN (h >> j) & 1 = 1 THEN 1 ELSE -1 END) AS s
      FROM h CROSS JOIN (SELECT unnest(generate_series(0, 29)) AS j) js
      GROUP BY doc_id, j),
    ssig AS (SELECT doc_id,
        CAST(SUM(CASE WHEN s > 0 THEN (1::BIGINT << j) ELSE 0 END) AS BIGINT) AS simhash
      FROM bits GROUP BY doc_id)"""

  val simhash: String =
    s"WITH ${simhashSigCtes("documents")} SELECT doc_id, simhash FROM ssig"

  /** Banded pigeonhole SimHash pairs (5 bands × 6 bits, hamming ≤ 3) —
    * twin of [[graft.ops.Dedup.simhashPortablePairs]]. */
  val simhashPairsMd5: String = s"""
    WITH ${simhashSigCtes("documents")},
    sbanded AS (SELECT doc_id, simhash, band, (simhash >> (band * 6)) & 63 AS slice
      FROM ssig, (SELECT unnest(generate_series(0, 4)) AS band) bs),
    ssizes AS (SELECT band, slice, COUNT(*) AS n FROM sbanded GROUP BY band, slice)
    SELECT id_a, id_b, hamming FROM (
      SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b,
        CAST(bit_count(xor(a.simhash, b.simhash)) AS INTEGER) AS hamming
      FROM sbanded a
      JOIN sbanded b ON a.band = b.band AND a.slice = b.slice
      JOIN ssizes s ON s.band = a.band AND s.slice = a.slice
      WHERE s.n BETWEEN 2 AND 10000 AND a.doc_id < b.doc_id)
    WHERE hamming <= 3"""

  /**
   * md5-portable MinHash near-dup pair CTE fragment, sourced from
   * `src`: 4-char shingles, 8 seeds, 4 bands of 2 — produces
   * cand(id_a, id_b, est_jaccard ≥ 0.5). Twin of
   * [[graft.ops.Dedup.minhashPortablePairs]].
   */
  private def minhashPairCtes(src: String): String = {
    val terms = (0 until 8).map(j =>
      s"list_min(list_transform(sh, s -> ('0x' || substr(md5('$j|' || s), 1, 15))::BIGINT))")
      .mkString(", ")
    s"""mx AS (SELECT doc_id AS id,
        list_distinct(list_transform(
          generate_series(1, greatest(1, length(lower(text)) - 3)),
          i -> substr(lower(text), i, 4))) AS sh
      FROM $src),
    msig AS (SELECT id, [$terms] AS sig FROM mx),
    mbanded AS (SELECT id, sig, band,
        array_to_string(list_slice(sig, band * 2 + 1, band * 2 + 2), ',') AS bucket
      FROM msig, (SELECT unnest(generate_series(0, 3)) AS band) bs),
    msizes AS (SELECT band, bucket, COUNT(*) AS n FROM mbanded GROUP BY band, bucket),
    cand AS (SELECT id_a, id_b, est_jaccard FROM (
        SELECT DISTINCT a.id AS id_a, b.id AS id_b,
          CAST(list_sum(list_transform(generate_series(1, 8),
            i -> CASE WHEN a.sig[i] = b.sig[i] THEN 1 ELSE 0 END)) AS DOUBLE) / 8 AS est_jaccard
        FROM mbanded a
        JOIN mbanded b ON a.band = b.band AND a.bucket = b.bucket
        JOIN msizes s ON s.band = a.band AND s.bucket = a.bucket
        WHERE s.n BETWEEN 2 AND 1000 AND a.id < b.id)
      WHERE est_jaccard >= 0.5)"""
  }

  val minhashPairsMd5: String =
    s"WITH ${minhashPairCtes("documents")} SELECT id_a, id_b, est_jaccard FROM cand"

  /** BM25 retrieval CTE chain (ends at `rk`), shared by the retrieve
    * query and the NDCG evaluation built on it. */
  val bm25RetrieveCtes: String = """tk AS (SELECT doc_id,
        unnest(string_split_regex(lower(trim(text)), '\s+')) AS term FROM documents),
      tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM tk GROUP BY 1, 2),
      dl AS (SELECT doc_id, term, tf,
        SUM(tf) OVER (PARTITION BY doc_id) AS dl FROM tf),
      fr AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY 1),
      st AS (SELECT COUNT(DISTINCT doc_id) AS n_docs,
        CAST(SUM(tf) AS DOUBLE) / COUNT(DISTINCT doc_id) AS avgdl FROM tf),
      po AS (SELECT t.doc_id, t.term,
          CAST(floor(ln(1.0 + (st.n_docs - f.df + 0.5) / (f.df + 0.5))
            * (t.tf * (1.2 + 1) /
               (t.tf + 1.2 * ((1 - 0.75) + 0.75 * (t.dl / st.avgdl))))
            * 1000000 + 0.5) AS BIGINT) AS s_micro
        FROM dl t JOIN fr f USING (term) CROSS JOIN st
        WHERE f.df * 2 <= st.n_docs),
      qt AS (SELECT doc_id AS qid,
          unnest(list_distinct(string_split_regex(lower(trim(text)), '\s+'))) AS term
        FROM documents WHERE doc_id < 10),
      pair AS (SELECT qt.qid, po.doc_id, COUNT(*) AS n_matched,
          CAST(SUM(po.s_micro) AS BIGINT) AS bm25_micro
        FROM qt JOIN po USING (term) GROUP BY 1, 2),
      rk AS (SELECT qid, doc_id, n_matched, bm25_micro,
          CAST(row_number() OVER (PARTITION BY qid
            ORDER BY bm25_micro DESC, doc_id ASC) AS INT) AS rank FROM pair)"""

  val bm25Retrieve: String =
    s"WITH $bm25RetrieveCtes SELECT qid, doc_id, rank, n_matched, bm25_micro FROM rk WHERE rank <= 5"

  /** NDCG@5 over the BM25 results — discount literals macro-built from
    * the SAME table the engine inlines (Ranking.discountTable). */
  val ndcg: String = {
    val discCase = (rc: String) => "CASE " +
      graft.ops.Ranking.discountTable(5)
        .map { case (r, d) => s"WHEN $rc = $r THEN $d" }.mkString(" ") + " ELSE 0 END"
    s"""WITH $bm25RetrieveCtes,
      res AS (SELECT qid, doc_id AS doc, rank FROM rk WHERE rank <= 5),
      tru AS (SELECT q.doc_id AS qid, d.doc_id AS doc,
          CASE WHEN q.doc_id = d.doc_id THEN 2 ELSE 1 END AS rel
        FROM documents q JOIN documents d
          ON q.doc_id = d.doc_id OR q.source = d.source
        WHERE q.doc_id < 10),
      dcg AS (SELECT res.qid,
          CAST(SUM(coalesce(tru.rel, 0) * ${discCase("res.rank")}) AS BIGINT) AS dcg_micro
        FROM res LEFT JOIN tru ON res.qid = tru.qid AND res.doc = tru.doc
        GROUP BY res.qid),
      ir AS (SELECT qid, doc, rel, row_number() OVER
          (PARTITION BY qid ORDER BY rel DESC, doc ASC) AS irk FROM tru),
      idcg AS (SELECT qid, CAST(SUM(rel * ${discCase("irk")}) AS BIGINT) AS idcg_micro
        FROM ir WHERE irk <= 5 GROUP BY qid)
      SELECT coalesce(d.qid, i.qid) AS qid, coalesce(dcg_micro, 0) AS dcg_micro,
        idcg_micro,
        CASE WHEN idcg_micro > 0
             THEN (coalesce(dcg_micro, 0) * 1000000) // idcg_micro END AS ndcg_micro
      FROM dcg d FULL JOIN idcg i ON d.qid = i.qid"""
  }

  /** md5-portable one-permutation-hashing MinHash pairs — twin of
    * [[graft.ops.Dedup.ophPairs]] (portableHashing=true): one hash per
    * shingle, bin = h mod k, value = h div k, empty bins densified by
    * cyclic borrow + t·C. The bin/densify/band algebra is macro-built
    * from the SAME k and C the engine uses. */
  /** OPH pair CTE chain ending at `ocand(id_a, id_b, est_jaccard)` —
    * shared by the pair query and the verified-pairs composition. */
  val ophPairCtes: String = {
    val k = 8
    val c = graft.ops.Dedup.OphBorrowOffset
    val bins = (0 until k).map(j =>
      s"list_min(list_transform(list_filter(hv, h -> h % $k = $j), h -> h // $k))")
      .mkString(", ")
    val sigs = (0 until k).map { j =>
      val chain = (0 until k).map { t =>
        val src = s"b[${((j + t) % k) + 1}]"
        if (t == 0) src else s"$src + ${t.toLong * c}"
      }.mkString(", ")
      s"coalesce($chain)"
    }.mkString(", ")
    s"""mx AS (SELECT doc_id AS id,
        list_distinct(list_transform(
          generate_series(1, greatest(1, length(lower(text)) - 3)),
          i -> substr(lower(text), i, 4))) AS sh
      FROM documents WHERE text IS NOT NULL),
    hs AS (SELECT id, list_transform(sh, s -> ('0x' || substr(md5(s), 1, 15))::BIGINT) AS hv FROM mx),
    bb AS (SELECT id, [$bins] AS b FROM hs),
    sg AS (SELECT id, [$sigs] AS sig FROM bb),
    obanded AS (SELECT id, sig, band,
        array_to_string(list_slice(sig, band * 2 + 1, band * 2 + 2), ',') AS bucket
      FROM sg, (SELECT unnest(generate_series(0, 3)) AS band) bs),
    osizes AS (SELECT band, bucket, COUNT(*) AS n FROM obanded GROUP BY band, bucket),
    ocand AS (SELECT id_a, id_b, est_jaccard FROM (
        SELECT DISTINCT a.id AS id_a, b.id AS id_b,
          CAST(list_sum(list_transform(generate_series(1, $k),
            i -> CASE WHEN a.sig[i] = b.sig[i] THEN 1 ELSE 0 END)) AS DOUBLE) / $k AS est_jaccard
        FROM obanded a
        JOIN obanded b ON a.band = b.band AND a.bucket = b.bucket
        JOIN osizes s ON s.band = a.band AND s.bucket = a.bucket
        WHERE s.n BETWEEN 2 AND 1000 AND a.id < b.id)
      WHERE est_jaccard >= 0.5)"""
  }

  val ophPairs: String =
    s"WITH $ophPairCtes SELECT id_a, id_b, est_jaccard FROM ocand"

  /** Exact-Jaccard verification of the OPH candidates — twin of
    * [[graft.ops.Dedup.ophVerifiedPairs]] (portable mode). */
  val ophVerified: String = s"""
    WITH $ophPairCtes
    SELECT c.id_a, c.id_b, c.est_jaccard,
      CAST((CAST(len(list_intersect(a.sh, b.sh)) AS BIGINT) * 1000000)
        // (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh))) AS BIGINT)
        AS jaccard_micro
    FROM ocand c JOIN mx a ON a.id = c.id_a JOIN mx b ON b.id = c.id_b
    WHERE (CAST(len(list_intersect(a.sh, b.sh)) AS BIGINT) * 1000000)
      // (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh))) >= 500000"""

  /** Recursive min-label walk over symmetric edges: comp(id, component),
    * losers(id) = every node that is not its cluster's min id. */
  /** Oracle of [[graft.ops.Dedup.incrementalNearDupVerdicts]] over the
    * doc_id % 3 corpus-version split (ref = two thirds, new batch =
    * one third): the md5 minhash signatures of BOTH sides, the
    * reference band screen (min matching ref id), then recursive-CTE
    * connected components among the surviving batch — the exact
    * two-phase contract the engine states. */
  val incrNearDup: String = {
    val terms = (0 until 8).map(j =>
      s"list_min(list_transform(sh, s -> ('0x' || substr(md5('$j|' || s), 1, 15))::BIGINT))")
      .mkString(", ")
    def agree(a: String, b: String): String =
      s"CAST(list_sum(list_transform(generate_series(1, 8), " +
        s"i -> CASE WHEN $a.sig[i] = $b.sig[i] THEN 1 ELSE 0 END)) AS DOUBLE) / 8"
    s"""
    WITH RECURSIVE mx AS (SELECT doc_id AS id,
        list_distinct(list_transform(
          generate_series(1, greatest(1, length(lower(text)) - 3)),
          i -> substr(lower(text), i, 4))) AS sh
      FROM documents WHERE text IS NOT NULL),
    msig AS (SELECT id, [$terms] AS sig FROM mx),
    mb AS (SELECT id, sig, band,
        array_to_string(list_slice(sig, band * 2 + 1, band * 2 + 2), ',') AS bucket
      FROM msig, (SELECT unnest(generate_series(0, 3)) AS band) bs),
    rb AS (SELECT * FROM mb WHERE id % 3 <> 0),
    nb AS (SELECT * FROM mb WHERE id % 3 = 0),
    rsz AS (SELECT band, bucket FROM rb GROUP BY band, bucket
      HAVING COUNT(*) <= 1000),
    dupref AS (SELECT n.id, MIN(r.id) AS ref_match
      FROM nb n
      JOIN rsz s ON s.band = n.band AND s.bucket = n.bucket
      JOIN rb r ON r.band = n.band AND r.bucket = n.bucket
      WHERE ${agree("n", "r")} >= 0.5
      GROUP BY n.id),
    sv AS (SELECT * FROM nb WHERE id NOT IN (SELECT id FROM dupref)),
    ssz AS (SELECT band, bucket, COUNT(*) AS n FROM sv GROUP BY 1, 2),
    cand AS (SELECT DISTINCT a.id AS id_a, b.id AS id_b
      FROM sv a
      JOIN sv b ON a.band = b.band AND a.bucket = b.bucket
      JOIN ssz s ON s.band = a.band AND s.bucket = a.bucket
      WHERE s.n BETWEEN 2 AND 1000 AND a.id < b.id
        AND ${agree("a", "b")} >= 0.5),
    edges AS (SELECT id_a AS a, id_b AS b FROM cand
              UNION SELECT id_b, id_a FROM cand),
    walk(id, comp) AS (SELECT DISTINCT a, a FROM edges
      UNION
      SELECT e.b, w.comp FROM walk w JOIN edges e ON e.a = w.id),
    comp AS (SELECT id, MIN(comp) AS component FROM walk GROUP BY id),
    allnew AS (SELECT DISTINCT id FROM nb)
    SELECT a.id AS doc_id,
      CASE WHEN d.ref_match IS NOT NULL THEN 'dup_of_ref'
           WHEN c.component IS NOT NULL AND c.component <> a.id THEN 'dup_of_new'
           ELSE 'kept' END AS status,
      CASE WHEN d.ref_match IS NOT NULL THEN d.ref_match
           WHEN c.component IS NOT NULL AND c.component <> a.id THEN c.component
      END AS match_id
    FROM allnew a
    LEFT JOIN dupref d ON d.id = a.id
    LEFT JOIN comp c ON c.id = a.id"""
  }

  /** Oracle of the FULL N-version incremental near-dup lifecycle
    * ([[graft.ops.Dedup.incrementalNearDupVerdicts]] +
    * [[graft.ops.Dedup.nearDupStateAppend]] /
    * [[graft.ops.Dedup.nearDupStateCompact]]) over the doc_id % 3
    * three-way corpus-version split: batch k screens against the
    * accumulated KEPT state of batches < k (append ∪ compact — the
    * batches are id-disjoint, so compact's latest-version-wins is the
    * identity and the state is exactly the union of kept signatures),
    * then resolves new-new duplicates among its own survivors with a
    * recursive-CTE min-label walk. Three chained instantiations of the
    * single-batch contract [[incrNearDup]] pins, sharing one banded
    * signature relation. */
  val incrNearDupChain: String = {
    val terms = (0 until 8).map(j =>
      s"list_min(list_transform(sh, s -> ('0x' || substr(md5('$j|' || s), 1, 15))::BIGINT))")
      .mkString(", ")
    def agree(a: String, b: String): String =
      s"CAST(list_sum(list_transform(generate_series(1, 8), " +
        s"i -> CASE WHEN $a.sig[i] = $b.sig[i] THEN 1 ELSE 0 END)) AS DOUBLE) / 8"
    // one full verdict pipeline per batch; refPred selects the banded
    // rows of the state the batch screens against. The multiply-
    // referenced CTEs are MATERIALIZED: left inline, DuckDB re-opens
    // the documents parquet once per reference per recursive-walk
    // iteration — three walks deep that exhausts the fd limit.
    def batch(k: Int, refPred: String): String = s"""
    nb$k AS MATERIALIZED (SELECT * FROM mb WHERE id % 3 = $k),
    rb$k AS MATERIALIZED (SELECT mb.* FROM mb WHERE $refPred),
    rsz$k AS (SELECT band, bucket FROM rb$k GROUP BY band, bucket
      HAVING COUNT(*) <= 1000),
    dupref$k AS MATERIALIZED (SELECT n.id, MIN(r.id) AS ref_match
      FROM nb$k n
      JOIN rsz$k s ON s.band = n.band AND s.bucket = n.bucket
      JOIN rb$k r ON r.band = n.band AND r.bucket = n.bucket
      WHERE ${agree("n", "r")} >= 0.5
      GROUP BY n.id),
    sv$k AS MATERIALIZED (SELECT * FROM nb$k WHERE id NOT IN (SELECT id FROM dupref$k)),
    ssz$k AS (SELECT band, bucket, COUNT(*) AS n FROM sv$k GROUP BY 1, 2),
    cand$k AS MATERIALIZED (SELECT DISTINCT a.id AS id_a, b.id AS id_b
      FROM sv$k a
      JOIN sv$k b ON a.band = b.band AND a.bucket = b.bucket
      JOIN ssz$k s ON s.band = a.band AND s.bucket = a.bucket
      WHERE s.n BETWEEN 2 AND 1000 AND a.id < b.id
        AND ${agree("a", "b")} >= 0.5),
    edges$k AS MATERIALIZED (SELECT id_a AS a, id_b AS b FROM cand$k
                UNION SELECT id_b, id_a FROM cand$k),
    walk$k(id, comp) AS (SELECT DISTINCT a, a FROM edges$k
      UNION
      SELECT e.b, w.comp FROM walk$k w JOIN edges$k e ON e.a = w.id),
    comp$k AS (SELECT id, MIN(comp) AS component FROM walk$k GROUP BY id),
    v$k AS (SELECT a.id,
        CASE WHEN d.ref_match IS NOT NULL THEN 'dup_of_ref'
             WHEN c.component IS NOT NULL AND c.component <> a.id THEN 'dup_of_new'
             ELSE 'kept' END AS status,
        CASE WHEN d.ref_match IS NOT NULL THEN d.ref_match
             WHEN c.component IS NOT NULL AND c.component <> a.id THEN c.component
        END AS match_id
      FROM (SELECT DISTINCT id FROM nb$k) a
      LEFT JOIN dupref$k d ON d.id = a.id
      LEFT JOIN comp$k c ON c.id = a.id),
    kept$k AS MATERIALIZED (SELECT id FROM v$k WHERE status = 'kept')"""
    s"""
    WITH RECURSIVE mx AS (SELECT doc_id AS id,
        list_distinct(list_transform(
          generate_series(1, greatest(1, length(lower(text)) - 3)),
          i -> substr(lower(text), i, 4))) AS sh
      FROM documents WHERE text IS NOT NULL),
    msig AS MATERIALIZED (SELECT id, [$terms] AS sig FROM mx),
    mb AS MATERIALIZED (SELECT id, sig, band,
        array_to_string(list_slice(sig, band * 2 + 1, band * 2 + 2), ',') AS bucket
      FROM msig, (SELECT unnest(generate_series(0, 3)) AS band) bs),
    ${batch(0, "FALSE")},
    ${batch(1, "mb.id IN (SELECT id FROM kept0)")},
    ${batch(2, "mb.id IN (SELECT id FROM kept0 UNION ALL SELECT id FROM kept1)")}
    SELECT id AS doc_id, status, match_id, 0 AS batch FROM v0
    UNION ALL SELECT id, status, match_id, 1 FROM v1
    UNION ALL SELECT id, status, match_id, 2 FROM v2"""
  }

  private val clusterCtes: String = """
    edges AS (SELECT id_a AS a, id_b AS b FROM cand
              UNION SELECT id_b, id_a FROM cand),
    walk(id, comp) AS (SELECT DISTINCT a, a FROM edges
      UNION
      SELECT e.b, w.comp FROM walk w JOIN edges e ON e.a = w.id),
    comp AS (SELECT id, MIN(comp) AS component FROM walk GROUP BY id),
    keepers AS (SELECT component, MIN(id) AS keep_id FROM comp GROUP BY component),
    losers AS (SELECT c.id FROM comp c
      JOIN keepers k ON c.component = k.component WHERE c.id <> k.keep_id)"""

  val dedupClustersMd5: String = s"""
    WITH RECURSIVE ${minhashPairCtes("documents")},
    $clusterCtes
    SELECT doc_id, lang, n_chars FROM documents
    WHERE doc_id NOT IN (SELECT id FROM losers)"""

  /** (id, component = min reachable) of the md5 minhash pair graph —
    * engine-independent truth that oracles
    * [[graft.ops.Clusters.connectedComponentsStar]]. */
  val ccStarMd5: String = s"""
    WITH RECURSIVE ${minhashPairCtes("documents")},
    $clusterCtes
    SELECT id, component FROM comp"""

  /** IMA ADPCM re-derivation: one recursion per doc over the 64
    * encoded nibbles of the single-block fixture (source sample k =
    * ((k·327+doc_id) mod 65536) − 32768; header predictor = sample 0,
    * index 0). Each recursive step runs the published encoder state
    * machine — quantize the residual against the step table, then the
    * shift-add reconstruction with clamped predictor/index — whose
    * predictor sequence IS the decoded output. */
  val adpcm: String = {
    val stepList = graft.ops.Multimodal.imaStep.mkString("[", ", ", "]")
    s"""WITH RECURSIVE enc(doc_id, k, pred, idx, ssq) AS (
      SELECT doc_id, 0, (doc_id % 65536) - 32768, 0,
        CAST(((doc_id % 65536) - 32768) * ((doc_id % 65536) - 32768) AS BIGINT)
      FROM documents
      UNION ALL
      SELECT doc_id, k + 1,
        greatest(-32768, least(32767,
          CASE WHEN neg THEN pred - delta ELSE pred + delta END)),
        greatest(0, least(88, idx + ia)),
        ssq + CAST(greatest(-32768, least(32767,
            CASE WHEN neg THEN pred - delta ELSE pred + delta END)) AS BIGINT)
          * greatest(-32768, least(32767,
            CASE WHEN neg THEN pred - delta ELSE pred + delta END))
      FROM (
        SELECT doc_id, k, pred, idx, ssq, neg,
          stp // 8 + CASE WHEN b4 THEN stp ELSE 0 END
            + CASE WHEN b2 THEN stp // 2 ELSE 0 END
            + CASE WHEN b1 THEN stp // 4 ELSE 0 END AS delta,
          CASE (CASE WHEN b4 THEN 4 ELSE 0 END + CASE WHEN b2 THEN 2 ELSE 0 END
                + CASE WHEN b1 THEN 1 ELSE 0 END)
            WHEN 4 THEN 2 WHEN 5 THEN 4 WHEN 6 THEN 6 WHEN 7 THEN 8
            ELSE -1 END AS ia
        FROM (
          SELECT *, r2 >= stp // 4 AS b1 FROM (
            SELECT *, r4 >= stp // 2 AS b2,
              r4 - CASE WHEN r4 >= stp // 2 THEN stp // 2 ELSE 0 END AS r2
            FROM (
              SELECT *, ad >= stp AS b4,
                ad - CASE WHEN ad >= stp THEN stp ELSE 0 END AS r4
              FROM (
                SELECT doc_id, k, pred, idx, ssq,
                  x - pred < 0 AS neg, abs(x - pred) AS ad,
                  $stepList[idx + 1] AS stp
                FROM (SELECT *,
                    (((k + 1) * 327 + doc_id) % 65536) - 32768 AS x
                  FROM enc WHERE k < 64)))))))
    SELECT doc_id, 1 AS channels, 16000 AS sample_rate, 65 AS n_samples,
      true AS decoded, ssq AS sum_sq
    FROM enc WHERE k = 64"""
  }

  /** Quality-keeper dedup over the md5 minhash components — twin of
    * [[graft.ops.Clusters.dedupByPairsBest]] (score = n_chars). */
  val dedupBestMd5: String = s"""
    WITH RECURSIVE ${minhashPairCtes("documents")},
    $clusterCtes,
    asg AS (SELECT d.doc_id, d.lang, d.n_chars,
        coalesce(c.component, d.doc_id) AS cl
      FROM documents d LEFT JOIN comp c ON c.id = d.doc_id),
    kb AS (SELECT *, row_number() OVER (PARTITION BY cl
        ORDER BY n_chars DESC, doc_id ASC) AS rn FROM asg)
    SELECT doc_id, lang, n_chars FROM kb WHERE rn = 1"""

  /** c-TF-IDF cluster labels over the md5 minhash components — twin of
    * [[graft.ops.Clusters.clusterTerms]]. */
  val clusterTermsMd5: String = s"""
    WITH RECURSIVE ${minhashPairCtes("documents")},
    $clusterCtes,
    asg AS (SELECT d.doc_id, coalesce(c.component, d.doc_id) AS cluster, d.text
      FROM documents d LEFT JOIN comp c ON c.id = d.doc_id),
    ctk AS (SELECT cluster,
        unnest(string_split_regex(lower(trim(text)), '\\s+')) AS term FROM asg),
    ctf AS (SELECT cluster, term, COUNT(*) AS tf FROM ctk GROUP BY 1, 2),
    ccf AS (SELECT term, COUNT(*) AS cf FROM ctf GROUP BY 1),
    cnc AS (SELECT COUNT(DISTINCT cluster) AS n_clusters FROM asg),
    cwt AS (SELECT cluster, term,
        CAST(floor(tf * ln(1.0 + CAST(n_clusters AS DOUBLE) / cf) * 1e6 + 0.5)
          AS BIGINT) AS wn
      FROM ctf JOIN ccf USING (term) CROSS JOIN cnc
      WHERE floor(tf * ln(1.0 + CAST(n_clusters AS DOUBLE) / cf) * 1e6 + 0.5) > 0),
    crk AS (SELECT cluster, term, wn,
        row_number() OVER (PARTITION BY cluster ORDER BY wn DESC, term) AS rank
      FROM cwt)
    SELECT cluster, term, wn, rank FROM crk WHERE rank <= 3"""

  /** Closed-form dHash of [[LlmQueries.synthImages]] + the same
    * 4-band/16-bit pigeonhole blocking and bucket cap the engine's
    * [[graft.ops.Dedup.hammingBandPairs]] applies: `cand` is the exact
    * near-dup pair set (HUGEINT wrap-multiply reproduces the JVM's
    * overflowing long multiply). */
  private val imageHashCtes: String = """
    h AS (
      SELECT doc_id,
        xor(
          CAST(CASE WHEN m < 9223372036854775808 THEN m
                    ELSE m - 18446744073709551616 END AS BIGINT),
          CASE doc_id % 4 WHEN 1 THEN 1 WHEN 2 THEN 3 WHEN 3 THEN 7 ELSE 0 END
        ) AS dh
      FROM (SELECT doc_id,
          (CAST(doc_id // 4 AS HUGEINT) * 11400714819323198485)
            % 18446744073709551616 AS m
        FROM documents) t),
    hu AS (SELECT doc_id, dh,
        CASE WHEN dh < 0 THEN CAST(dh AS HUGEINT) + 18446744073709551616
             ELSE CAST(dh AS HUGEINT) END AS u FROM h),
    banded AS (SELECT doc_id, dh, band,
        CAST((u // (CASE band WHEN 0 THEN 1 WHEN 1 THEN 65536
                    WHEN 2 THEN 4294967296 ELSE 281474976710656 END))
          % 65536 AS BIGINT) AS slice
      FROM hu, (SELECT unnest(generate_series(0, 3)) AS band) bs),
    sizes AS (SELECT band, slice, COUNT(*) AS n FROM banded GROUP BY band, slice),
    cand AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b,
        CAST(bit_count(xor(a.dh, b.dh)) AS INTEGER) AS hamming
      FROM banded a
      JOIN banded b ON a.band = b.band AND a.slice = b.slice
      JOIN sizes s ON s.band = a.band AND s.slice = a.slice
      WHERE s.n BETWEEN 2 AND 10000 AND a.doc_id < b.doc_id
        AND bit_count(xor(a.dh, b.dh)) <= 3)"""

  val imageNearDup: String = s"""
    WITH $imageHashCtes
    SELECT id_a, id_b, hamming FROM cand"""

  val imageDedup: String = s"""
    WITH RECURSIVE $imageHashCtes,
    $clusterCtes
    SELECT doc_id, lang, n_chars FROM documents
    WHERE doc_id NOT IN (SELECT id FROM losers)"""

  /** Semantic dedup twin: brute-force cosine pairs ≥ 0.4 feed the same
    * recursive min-label cluster walk; survivors = min id per cluster
    * plus singletons. Twin of [[graft.ops.Dedup.semanticDedup]] with
    * exactPairs=true. */
  val semanticDedup: String = s"""
    WITH RECURSIVE ev AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
    cand AS (SELECT a.vec_id AS id_a, b.vec_id AS id_b
      FROM ev a CROSS JOIN ev b
      WHERE a.vec_id < b.vec_id
        AND list_dot_product(a.v, b.v)
          / (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v))) >= 0.4),
    $clusterCtes
    SELECT vec_id, label FROM embeddings
    WHERE vec_id NOT IN (SELECT id FROM losers)"""

  /** Twin of [[graft.ops.Dedup.crossSourceDupReport]] over the
    * md5-portable minhash pair set: pairs -> source pair -> counts and
    * integral-micro rates against the max possible pair count. */
  val crossSourceDups: String = s"""
    WITH ${minhashPairCtes("documents")},
    srcmap AS (SELECT doc_id, source FROM documents),
    pj AS (SELECT least(sa.source, sb.source) AS source_lo,
        greatest(sa.source, sb.source) AS source_hi
      FROM cand JOIN srcmap sa ON cand.id_a = sa.doc_id
                JOIN srcmap sb ON cand.id_b = sb.doc_id),
    p AS (SELECT source_lo, source_hi, COUNT(*) AS n_dup_pairs
      FROM pj GROUP BY 1, 2),
    cnt AS (SELECT source, COUNT(*) AS n FROM documents GROUP BY 1)
    SELECT source_lo, source_hi, n_dup_pairs, max_pairs,
      n_dup_pairs * 1000000 // max_pairs AS dup_rate_micro
    FROM (SELECT p.source_lo, p.source_hi, p.n_dup_pairs,
        CASE WHEN p.source_lo = p.source_hi THEN cl.n * (cl.n - 1) // 2
             ELSE cl.n * ch.n END AS max_pairs
      FROM p JOIN cnt cl ON p.source_lo = cl.source
             JOIN cnt ch ON p.source_hi = ch.source)"""

  /** Twin of [[graft.ops.Sampling.groupAwareSplit]]: the recursive-CTE
    * cluster walk resolves group ids, then the same md5 bucket
    * arithmetic as q_llm_split applies on the GROUP id. */
  val groupSplit: String = s"""
    WITH RECURSIVE ${minhashPairCtes("documents")},
    $clusterCtes,
    g AS (SELECT d.doc_id, COALESCE(c.component, d.doc_id) AS group_id
      FROM documents d LEFT JOIN comp c ON d.doc_id = c.id),
    b AS (SELECT doc_id, group_id,
        ('0x' || substr(md5(CAST(group_id AS VARCHAR)), 1, 15))::BIGINT % 100 AS bucket
      FROM g)
    SELECT doc_id, group_id,
      CASE WHEN bucket < 90 THEN 'train'
           WHEN bucket < 95 THEN 'val'
           ELSE 'test' END AS split
    FROM b"""

  /** Twin of [[graft.ops.TextAnalysis.bigramLogProb]] at λ = 0.8:
    * identical FP expression tree on exact integer counts, per-
    * transition NLL quantized to micros before the per-doc sum. */
  val bigramNll: String = """
    WITH d AS (SELECT doc_id, string_split_regex(lower(trim(text)), '\s+') AS toks
      FROM documents WHERE text IS NOT NULL),
    tok AS (SELECT doc_id, unnest(toks) AS term FROM d),
    uni AS (SELECT term, COUNT(*) AS cnt FROM tok GROUP BY 1),
    tot AS (SELECT CAST(SUM(cnt) AS BIGINT) AS total FROM uni),
    bg AS (SELECT doc_id,
        unnest(list_transform(generate_series(1, len(toks) - 1), i -> toks[i])) AS w_prev,
        unnest(list_transform(generate_series(1, len(toks) - 1), i -> toks[i + 1])) AS w_cur
      FROM d WHERE len(toks) >= 2),
    tf AS (SELECT doc_id, w_prev, w_cur, COUNT(*) AS tf FROM bg GROUP BY 1, 2, 3),
    cb AS (SELECT w_prev, w_cur, CAST(SUM(tf) AS BIGINT) AS c_ab FROM tf GROUP BY 1, 2),
    j AS (SELECT t.doc_id, t.tf,
        CAST(floor(-ln((8000.0 * c.c_ab / ua.cnt + 2000.0 * ub.cnt / tot.total)
          / 10000.0) * 1000000 + 0.5) AS BIGINT) AS nll_micro
      FROM tf t JOIN cb c ON t.w_prev = c.w_prev AND t.w_cur = c.w_cur
      JOIN uni ua ON t.w_prev = ua.term
      JOIN uni ub ON t.w_cur = ub.term
      CROSS JOIN tot)
    SELECT doc_id, CAST(SUM(tf) AS BIGINT) AS n_bigrams,
      CAST(SUM(tf * nll_micro) AS BIGINT) AS sum_nll_micro,
      CAST(SUM(tf * nll_micro) // SUM(tf) AS BIGINT) AS avg_nll_micro
    FROM j GROUP BY 1"""

  /** [[bigramNll]] wrapped with the per-source NTILE(3) band — the
    * nested-WITH subquery keeps the NLL arithmetic textually identical
    * to the oracled q_llm_bigram_nll. */
  val pplPartition: String = s"""
    WITH nll AS ($bigramNll)
    SELECT n.doc_id, s.source, n.avg_nll_micro,
      ntile(3) OVER (PARTITION BY s.source ORDER BY n.avg_nll_micro, n.doc_id) AS bucket,
      CASE ntile(3) OVER (PARTITION BY s.source ORDER BY n.avg_nll_micro, n.doc_id)
        WHEN 1 THEN 'head' WHEN 3 THEN 'tail' ELSE 'middle' END AS ppl_band
    FROM nll n JOIN documents s ON n.doc_id = s.doc_id"""

  /** Twin of [[graft.ops.TextAnalysis.scriptProfile]] — generated from
    * the same [[TextAnalysis.scriptClasses]] table (RE2 and Java both
    * accept the `\x{...}` class escapes), integral basis points. */
  val scriptProfile: String = {
    val cls = TextAnalysis.scriptClasses
    val cnts = (cls :+ ("replacement", "[\\x{FFFD}]")).map { case (n, c) =>
      s"CAST(length(text) - length(regexp_replace(text, '$c', '', 'g')) AS BIGINT) AS n_$n"
    }.mkString(",\n        ")
    val bps = cls.map { case (n, _) =>
      s"n_$n * 10000 // greatest(n_chars, 1) AS ${n}_bp"
    }.mkString(",\n        ")
    val letters = cls.map(_._1).filterNot(_ == "digit")
    val maxc = s"greatest(${letters.map("n_" + _).mkString(", ")})"
    val arms = letters.map(n => s"WHEN n_$n = $maxc THEN '$n'").mkString(" ")
    s"""WITH c AS (SELECT doc_id, CAST(length(text) AS BIGINT) AS n_chars,
        $cnts
      FROM documents WHERE text IS NOT NULL)
    SELECT doc_id, n_chars, n_latin, n_cyrillic, n_cjk, n_arabic, n_digit,
      n_replacement,
        $bps,
      CASE WHEN $maxc = 0 THEN 'other' $arms ELSE 'other' END AS script
    FROM c"""
  }

  /** Oracle of [[graft.ops.Dedup.exactSubstrDedup]] at window length
    * `l` — the production path itself (output is rebuilt text; the
    * engine's window hash — xxhash64 of the string OR the r9 rolling
    * polynomial — is internal grouping only): windows grouped by
    * their STRING, first occurrence by the same doc_id·10^9 + pos
    * key, covered positions unioned, tokens rebuilt in position
    * order. */
  def exactSubstrOracle(l: Int): String = {
    val lm1 = l - 1
    s"""
    WITH d AS (SELECT doc_id, string_split_regex(lower(trim(text)), '\\s+') AS toks
      FROM documents WHERE text IS NOT NULL),
    tk AS (SELECT doc_id, unnest(generate_series(1, len(toks))) AS pos,
        unnest(toks) AS tok FROM d),
    w AS (SELECT doc_id,
        unnest(generate_series(1, len(toks) - $lm1)) AS pos,
        unnest(list_transform(generate_series(1, len(toks) - $lm1),
          i -> array_to_string(toks[i:i+$lm1], ' '))) AS win
      FROM d WHERE len(toks) >= $l),
    f AS (SELECT win, MIN(doc_id * 1000000000 + pos) AS first_key FROM w GROUP BY 1),
    cov AS (SELECT DISTINCT doc_id, pos FROM (
        SELECT w.doc_id, unnest(generate_series(w.pos, w.pos + $lm1)) AS pos
        FROM w JOIN f ON w.win = f.win
        WHERE w.doc_id * 1000000000 + w.pos <> f.first_key)),
    kept AS (SELECT t.doc_id, t.pos, t.tok FROM tk t
      LEFT JOIN cov c ON t.doc_id = c.doc_id AND t.pos = c.pos
      WHERE c.pos IS NULL),
    g AS (SELECT doc_id,
        array_to_string(array_agg(tok ORDER BY pos), ' ') AS clean_text,
        COUNT(*) AS n_kept FROM kept GROUP BY 1),
    tot AS (SELECT doc_id, COUNT(*) AS n_total FROM tk GROUP BY 1)
    SELECT g.doc_id, g.clean_text, CAST(g.n_kept AS BIGINT) AS n_kept,
      CAST(t.n_total - g.n_kept AS BIGINT) AS n_dropped
    FROM g JOIN tot t ON g.doc_id = t.doc_id"""
  }

  val exactSubstr: String = exactSubstrOracle(8)

  /** Twin of [[graft.ops.Similarity.randomProjectInt8]]: the SAME
    * driver-computed ±1 sign literals inlined into the SQL, int8
    * quantization reproduced bit-for-bit, exact integer sums. */
  val randomProjection: String = {
    val signs = Similarity.projectionSigns("rp", 8, 64)
    val cols = signs.zipWithIndex.map { case (row, j) =>
      val sl = row.mkString("[", ", ", "]")
      s"CAST(list_sum(list_transform(generate_series(1, ${row.length}), " +
        s"i -> codes[i] * list_extract($sl, i))) AS BIGINT) AS rp_$j"
    }.mkString(",\n      ")
    s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
    sc AS (SELECT vec_id, v, list_max(list_transform(v, x -> abs(x))) / 127 AS scale FROM e),
    c AS (SELECT vec_id,
        list_transform(v, x -> CAST(floor(x / scale + 0.5) AS INT)) AS codes
      FROM sc WHERE scale > 0)
    SELECT vec_id, $cols FROM c"""
  }

  /** End-to-end corpus-clean twin: quality gate → exact dedup →
    * portable minhash pairs → recursive-CTE cluster resolution.
    * Twin of [[graft.ops.Corpus.clean]] with portableHashing=true. */
  val corpusCleanMd5: String = {
    val counts = TextAnalysis.stopwords.map { case (l, _) =>
      s"len(list_intersect(dtoks, ${stopLists(l)})) AS c_$l"
    }.mkString(", ")
    val langs = TextAnalysis.stopwords.map(_._1)
    val maxExpr = s"greatest(${langs.map("c_" + _).mkString(", ")})"
    val caseArms = langs.map(l => s"WHEN c_$l = maxc THEN '$l'").mkString(" ")
    s"""
    WITH RECURSIVE
    qx AS (SELECT doc_id, text, lang, source, n_chars,
        string_split_regex(lower(trim(text)), '\\s+') AS toks,
        CAST(length(text) - length(regexp_replace(text, '[.!?,;:]', '', 'g')) AS DOUBLE)
          / greatest(length(text), 1) AS punct_ratio
      FROM documents),
    qy AS (SELECT *, list_distinct(toks) AS dtoks, len(toks) AS n_toks,
        CAST(len(list_filter(toks, t -> list_contains($allStops, t))) AS DOUBLE)
          / greatest(len(toks), 1) AS stop_ratio
      FROM qx),
    qz AS (SELECT *,
        least(CAST(n_toks AS DOUBLE) / 100.0, 1.0) * 0.4
          + (1.0 - punct_ratio) * 0.3
          + least(stop_ratio * 5.0, 1.0) * 0.3 AS quality,
        $counts
      FROM qy),
    ql AS (SELECT doc_id, text, lang, source, n_chars, quality,
        CASE WHEN maxc = 0 THEN 'und' $caseArms ELSE 'und' END AS lang_pred
      FROM (SELECT *, $maxExpr AS maxc FROM qz)
      WHERE quality >= 0.2),
    exact AS (SELECT * FROM ql
      QUALIFY row_number() OVER (PARTITION BY text ORDER BY doc_id) = 1),
    ${minhashPairCtes("exact")},
    $clusterCtes
    SELECT doc_id, text, lang, source, n_chars, quality, lang_pred FROM exact
    WHERE doc_id NOT IN (SELECT id FROM losers)"""
  }

  val decontaminate: String = """
    WITH tk AS (SELECT doc_id, string_split_regex(lower(trim(text)), '\s+') AS toks
        FROM documents),
    g AS (SELECT doc_id, list_distinct(list_transform(
        generate_series(1, greatest(1, len(toks) - 2)),
        i -> array_to_string(list_slice(toks, i, i + 2), ' '))) AS grams FROM tk),
    bg AS (SELECT DISTINCT unnest(grams) AS gr FROM g WHERE doc_id % 97 = 0),
    cg AS (SELECT doc_id, unnest(grams) AS gr FROM g WHERE doc_id % 97 <> 0),
    cnt AS (SELECT doc_id, COUNT(*) AS n FROM cg JOIN bg USING (gr) GROUP BY doc_id)
    SELECT d.doc_id,
      CAST(COALESCE(cnt.n, 0) AS BIGINT) AS contaminated_grams,
      COALESCE(cnt.n, 0) >= 2 AS contaminated
    FROM (SELECT doc_id FROM documents WHERE doc_id % 97 <> 0) d
    LEFT JOIN cnt USING (doc_id)"""

  val packWindows: String = """
    WITH t AS (SELECT doc_id, doc_id % 16 AS shard,
        CAST(len(string_split_regex(lower(trim(text)), '\s+')) AS BIGINT) AS n_tokens
        FROM documents),
    c AS (SELECT doc_id, shard, n_tokens,
        CAST(SUM(n_tokens) OVER (PARTITION BY shard ORDER BY doc_id) AS BIGINT)
          - n_tokens AS start_off FROM t)
    SELECT doc_id, shard, n_tokens,
      CAST(FLOOR(start_off / 2048.0) AS BIGINT) AS window_id,
      FLOOR((start_off + n_tokens - 1) / 2048.0) > FLOOR(start_off / 2048.0) AS straddles
    FROM c"""

  val vocab: String = """
    WITH f AS (SELECT tok, COUNT(*) AS freq FROM (
        SELECT unnest(string_split_regex(lower(trim(text)), '\s+')) AS tok
        FROM documents) GROUP BY tok)
    SELECT tok, freq, CAST(row_number() OVER (ORDER BY freq DESC, tok) AS INT) AS rank
    FROM f ORDER BY freq DESC, tok LIMIT 1000"""

  val redactPii: String = """
    SELECT doc_id,
      regexp_replace(
        regexp_replace(
          regexp_replace(
            text || ' contact user' || CAST(doc_id AS VARCHAR)
                 || '@example.com or 555.123.4567 id 123-45-'
                 || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0'),
            '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
          '[0-9]{3}-[0-9]{2}-[0-9]{4}', '<SSN>', 'g'),
        '[0-9]{3}[-.][0-9]{3}[-.][0-9]{4}', '<PHONE>', 'g') AS clean
    FROM documents"""

  val sourceCap: String = """
    WITH r AS (SELECT doc_id, source,
        row_number() OVER (PARTITION BY source ORDER BY
          ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT % 1000000,
          doc_id) AS rk
        FROM documents)
    SELECT doc_id, source FROM r WHERE rk <= 20"""

  val repetition: String = """
    WITH tc AS (SELECT doc_id, tok, COUNT(*) AS c FROM (
        SELECT doc_id, unnest(string_split_regex(lower(trim(text)), '\s+')) AS tok
        FROM documents) GROUP BY doc_id, tok)
    SELECT doc_id,
      CAST(SUM(c) AS BIGINT) AS n_tokens,
      COUNT(*) AS n_distinct,
      CAST(COUNT(*) AS DOUBLE) / CAST(SUM(c) AS BIGINT) AS distinct_ratio,
      CAST(MAX(c) AS DOUBLE) / CAST(SUM(c) AS BIGINT) AS top_token_frac
    FROM tc GROUP BY doc_id"""

  val ngramJaccard: String = """
    WITH tk AS (SELECT doc_id AS id,
        string_split_regex(lower(trim(text)), '\s+') AS toks FROM documents),
    g AS (SELECT id, list_distinct(list_transform(
        generate_series(1, greatest(1, len(toks) - 2)),
        i -> array_to_string(list_slice(toks, i, i + 2), ' '))) AS grams FROM tk),
    sizes AS (SELECT id, len(grams) AS n_grams FROM g),
    posting AS (SELECT id, unnest(grams) AS gr FROM g),
    idx AS (SELECT gr, list(id) AS ids FROM posting GROUP BY gr
            HAVING COUNT(*) BETWEEN 2 AND 5000),
    p1 AS (SELECT unnest(ids) AS id_a, ids FROM idx),
    p2 AS (SELECT id_a, unnest(ids) AS id_b FROM p1),
    inter AS (SELECT id_a, id_b, COUNT(*) AS inter FROM p2
              WHERE id_a < id_b GROUP BY id_a, id_b)
    SELECT id_a, id_b,
      CAST(inter AS DOUBLE) / (a.n_grams + b.n_grams - inter) AS jaccard
    FROM inter
    JOIN sizes a ON a.id = id_a
    JOIN sizes b ON b.id = id_b
    WHERE CAST(inter AS DOUBLE) / (a.n_grams + b.n_grams - inter) >= 0.1"""

  /** Zipf MLE: α = 1 + n/Σ ln(f/1.5) over tokens with f ≥ 2 per source;
    * per-term ln in integer micros before the sum (exact cross-engine). */
  val zipf: String = """
    WITH tc AS (SELECT source, tok, CAST(COUNT(*) AS BIGINT) AS f FROM (
        SELECT source, unnest(string_split_regex(lower(trim(text)), '\s+')) AS tok
        FROM documents WHERE text IS NOT NULL) GROUP BY source, tok
      HAVING COUNT(*) >= 2),
    lm AS (SELECT source,
        CAST(floor(ln(CAST(f AS DOUBLE) / 1.5) * 1000000 + 0.5) AS BIGINT) AS ln_micro
      FROM tc)
    SELECT source, CAST(COUNT(*) AS BIGINT) AS n_types,
      CAST(SUM(ln_micro) AS BIGINT) AS sum_ln_micro,
      CASE WHEN SUM(ln_micro) > 0 THEN
        1.0 + CAST(COUNT(*) AS DOUBLE) / (CAST(SUM(ln_micro) AS DOUBLE) / 1000000)
      END AS alpha
    FROM lm GROUP BY source"""

  /** DSIR md5 twin: unigram+bigram grams, md5 buckets mod 8192, Laplace
    * log-ratio per bucket in integer micros, exact BIGINT doc sums —
    * mirrors Dsir.importanceWeights(portableHashing = true) step for step. */
  val dsir: String = """
    WITH rtoks AS (SELECT doc_id,
        string_split_regex(lower(trim(text)), '\s+') AS toks
      FROM documents WHERE source <> 'src0' AND text IS NOT NULL),
    ttoks AS (SELECT string_split_regex(lower(trim(text)), '\s+') AS toks
      FROM documents WHERE source = 'src0' AND text IS NOT NULL),
    rb AS (SELECT doc_id,
        ('0x' || substr(md5(g), 1, 15))::BIGINT % 8192 AS b
      FROM (SELECT doc_id, unnest(list_concat(toks,
          list_transform(generate_series(1, len(toks) - 1),
            i -> toks[i] || ' ' || toks[i + 1]))) AS g FROM rtoks)),
    tb AS (SELECT ('0x' || substr(md5(g), 1, 15))::BIGINT % 8192 AS b
      FROM (SELECT unnest(list_concat(toks,
          list_transform(generate_series(1, len(toks) - 1),
            i -> toks[i] || ' ' || toks[i + 1]))) AS g FROM ttoks)),
    rcnt AS (SELECT b, CAST(COUNT(*) AS BIGINT) AS cr FROM rb GROUP BY b),
    tcnt AS (SELECT b, CAST(COUNT(*) AS BIGINT) AS ct FROM tb GROUP BY b),
    tot AS (SELECT (SELECT CAST(SUM(cr) AS BIGINT) FROM rcnt) AS totr,
                   (SELECT CAST(SUM(ct) AS BIGINT) FROM tcnt) AS tott),
    lr AS (SELECT COALESCE(rcnt.b, tcnt.b) AS b,
        CAST(floor((ln(COALESCE(ct, 0) + 1.0) - ln(tott + 8192.0)
                  - ln(COALESCE(cr, 0) + 1.0) + ln(totr + 8192.0))
          * 1000000 + 0.5) AS BIGINT) AS lr_micro
      FROM rcnt FULL OUTER JOIN tcnt ON rcnt.b = tcnt.b CROSS JOIN tot)
    SELECT rb.doc_id AS id, CAST(COUNT(*) AS BIGINT) AS n_grams,
      CAST(SUM(lr_micro) AS BIGINT) AS logw_micro,
      CAST(SUM(lr_micro) AS DOUBLE) / 1000000 AS logw
    FROM rb JOIN lr ON rb.b = lr.b GROUP BY rb.doc_id"""

  val binaryTopK: String = """
    WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
    ham AS (SELECT q.vec_id AS qid, n.vec_id AS nid,
        CAST(list_sum(list_transform(generate_series(1, 64),
          i -> CASE WHEN (q.v[i] >= 0) <> (n.v[i] >= 0) THEN 1 ELSE 0 END)) AS INT) AS ham
      FROM e q CROSS JOIN e n
      WHERE q.vec_id < 20 AND q.vec_id <> n.vec_id),
    cand AS (SELECT qid, nid, ham,
        row_number() OVER (PARTITION BY qid ORDER BY ham, nid) AS rr,
        COUNT(*) OVER (PARTITION BY qid) AS nc
      FROM ham),
    scored AS (SELECT c.qid, c.nid, c.ham,
        list_dot_product(q.v, n.v)
          / (sqrt(list_dot_product(q.v, q.v)) * sqrt(list_dot_product(n.v, n.v))) AS cos
      FROM cand c JOIN e q ON c.qid = q.vec_id JOIN e n ON c.nid = n.vec_id
      WHERE c.rr <= GREATEST(96, CAST(CEIL(nc * 0.2) AS INT))),
    ranked AS (SELECT qid, nid, ham, cos,
        row_number() OVER (PARTITION BY qid ORDER BY cos DESC, nid) AS rank
      FROM scored)
    SELECT qid, nid, rank, cos, ham FROM ranked WHERE rank <= 3"""

  val cosineTopK: String = """
    WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
    scored AS (SELECT q.vec_id AS qid, n.vec_id AS nid,
        list_dot_product(q.v, n.v)
          / (sqrt(list_dot_product(q.v, q.v)) * sqrt(list_dot_product(n.v, n.v))) AS cos
      FROM e q CROSS JOIN e n
      WHERE q.vec_id < 20 AND q.vec_id <> n.vec_id),
    ranked AS (SELECT qid, nid, cos,
        row_number() OVER (PARTITION BY qid ORDER BY cos DESC, nid) AS rank
      FROM scored)
    SELECT qid, nid, rank, cos FROM ranked WHERE rank <= 3"""

  /** Both sides of the audit restated: binary-ANN top-3 at rerank=24
    * and exact top-3, then per-query hit counting. */
  val recallAudit: String = """
    WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
    pairs AS (SELECT q.vec_id AS qid, n.vec_id AS nid,
        CAST(list_sum(list_transform(generate_series(1, 64),
          i -> CASE WHEN (q.v[i] >= 0) <> (n.v[i] >= 0) THEN 1 ELSE 0 END)) AS INT) AS ham,
        list_dot_product(q.v, n.v)
          / (sqrt(list_dot_product(q.v, q.v)) * sqrt(list_dot_product(n.v, n.v))) AS cos
      FROM e q CROSS JOIN e n
      WHERE q.vec_id < 20 AND q.vec_id <> n.vec_id),
    cand AS (SELECT qid, nid, cos,
        row_number() OVER (PARTITION BY qid ORDER BY ham, nid) AS rr
      FROM pairs),
    ann AS (SELECT qid, nid FROM (SELECT qid, nid,
        row_number() OVER (PARTITION BY qid ORDER BY cos DESC, nid) AS rank
      FROM cand WHERE rr <= 24) WHERE rank <= 3),
    exact AS (SELECT qid, nid FROM (SELECT qid, nid,
        row_number() OVER (PARTITION BY qid ORDER BY cos DESC, nid) AS rank
      FROM pairs) WHERE rank <= 3),
    ex AS (SELECT qid, COUNT(*) AS n_exact FROM exact GROUP BY 1),
    h AS (SELECT a.qid, COUNT(*) AS n_hits FROM ann a
      JOIN exact x ON a.qid = x.qid AND a.nid = x.nid GROUP BY 1)
    SELECT ex.qid, ex.n_exact, COALESCE(h.n_hits, 0) AS n_hits,
      (COALESCE(h.n_hits, 0) * 1000000) // ex.n_exact AS recall_micro
    FROM ex LEFT JOIN h ON ex.qid = h.qid"""

  val knnClassify: String = """
    WITH e AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
    scored AS (SELECT q.vec_id AS qid, n.vec_id AS nid, n.label AS lbl,
        list_dot_product(q.v, n.v)
          / (sqrt(list_dot_product(q.v, q.v)) * sqrt(list_dot_product(n.v, n.v))) AS cos
      FROM e q CROSS JOIN e n
      WHERE q.vec_id < 50 AND q.vec_id <> n.vec_id),
    ranked AS (SELECT qid, nid, lbl,
        row_number() OVER (PARTITION BY qid ORDER BY cos DESC, nid) AS rank
      FROM scored),
    knn AS (SELECT * FROM ranked WHERE rank <= 5),
    votes AS (SELECT qid, lbl AS pred_label, COUNT(*) AS votes, MIN(rank) AS best_rank
      FROM knn GROUP BY 1, 2),
    best AS (SELECT qid, pred_label, votes, best_rank,
        row_number() OVER (PARTITION BY qid ORDER BY votes DESC, best_rank, pred_label) AS rn
      FROM votes)
    SELECT qid, pred_label, votes, best_rank FROM best WHERE rn = 1"""

  /** The full text→hash-embed→cosine-kNN→vote chain with the
    * md5-portable bucket hash and exact-double vectors. The first
    * four CTEs are the q_llm_hash_embed oracle verbatim; the vote
    * tail is the q_llm_knn_classify oracle verbatim — composition is
    * the thing under test. */
  val textKnnMd5: String = """
    WITH tok AS (SELECT doc_id,
        unnest(string_split_regex(lower(trim(text)), '\s+')) AS tok
      FROM documents WHERE text IS NOT NULL),
    b AS (SELECT doc_id,
        (('0x' || substr(md5(tok), 1, 15))::BIGINT) % 64 AS bucket FROM tok),
    c AS (SELECT doc_id, bucket, COUNT(*) AS cnt FROM b GROUP BY 1, 2),
    s AS (SELECT doc_id, bucket, cnt,
        CAST(SUM(cnt * cnt) OVER (PARTITION BY doc_id) AS BIGINT) AS ss FROM c),
    wm AS (SELECT doc_id, bucket,
        CAST(floor(cnt * 1000000 / sqrt(CAST(ss AS DOUBLE)) + 0.5) AS BIGINT) AS w
      FROM s),
    ids AS (SELECT DISTINCT doc_id FROM wm),
    dims AS (SELECT unnest(generate_series(0, 63)) AS bucket),
    cell AS (SELECT ids.doc_id, d.bucket, coalesce(wm.w, 0) / 1000000.0 AS x
      FROM ids CROSS JOIN dims d
      LEFT JOIN wm ON wm.doc_id = ids.doc_id AND wm.bucket = d.bucket),
    vec AS (SELECT doc_id, list(x ORDER BY bucket) AS v FROM cell GROUP BY doc_id),
    scored AS (SELECT q.doc_id AS qid, n.doc_id AS nid,
        list_dot_product(q.v, n.v)
          / (sqrt(list_dot_product(q.v, q.v)) * sqrt(list_dot_product(n.v, n.v))) AS cos
      FROM vec q CROSS JOIN vec n
      WHERE q.doc_id < 20 AND q.doc_id <> n.doc_id),
    ranked AS (SELECT qid, nid,
        row_number() OVER (PARTITION BY qid ORDER BY cos DESC, nid) AS rank
      FROM scored),
    knn AS (SELECT qid, nid, rank FROM ranked WHERE rank <= 5),
    votes AS (SELECT qid, d.lang AS pred_label, COUNT(*) AS votes,
        MIN(rank) AS best_rank
      FROM knn JOIN documents d ON d.doc_id = knn.nid GROUP BY 1, 2),
    best AS (SELECT qid, pred_label, votes, best_rank,
        row_number() OVER (PARTITION BY qid
          ORDER BY votes DESC, best_rank, pred_label) AS rn
      FROM votes)
    SELECT qid, pred_label, votes, best_rank FROM best WHERE rn = 1"""

  val marginPairs: String = """
    WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
      WHERE vec_id < 200),
    scored AS (SELECT q.vec_id AS qid, n.vec_id AS nid,
        list_dot_product(q.v, n.v)
          / (sqrt(list_dot_product(q.v, q.v)) * sqrt(list_dot_product(n.v, n.v))) AS cos
      FROM e q CROSS JOIN e n WHERE q.vec_id <> n.vec_id),
    ranked AS (SELECT qid, nid, cos,
        row_number() OVER (PARTITION BY qid ORDER BY cos DESC, nid) AS rank
      FROM scored),
    knn AS (SELECT qid, nid, rank,
        CAST(floor(cos * 1000000 + 0.5) AS BIGINT) AS cos_micro
      FROM ranked WHERE rank <= 3),
    sums AS (SELECT qid, SUM(cos_micro) AS nbr_sum FROM knn GROUP BY 1)
    SELECT k.qid, k.nid, CAST(k.rank AS INTEGER) AS rank, k.cos_micro,
        CAST((k.cos_micro * 6 * 1000000) // (sq.nbr_sum + sn.nbr_sum) AS BIGINT) AS margin_ppm
    FROM knn k
    JOIN sums sq ON k.qid = sq.qid
    JOIN sums sn ON k.nid = sn.qid
    WHERE sq.nbr_sum + sn.nbr_sum > 0"""

  val sentenceStats: String = """
    WITH s AS (SELECT doc_id, text,
        list_filter(list_transform(
          regexp_split_to_array(text, '[.!?]+'), x -> trim(x)),
          x -> x <> '') AS sents
      FROM documents WHERE text IS NOT NULL),
    tk AS (SELECT doc_id, text, sents,
        list_transform(sents, x -> CAST(len(string_split_regex(x, '\s+')) AS BIGINT)) AS stoks
      FROM s)
    SELECT doc_id,
      CAST(len(sents) AS BIGINT) AS n_sentences,
      CAST(coalesce(list_sum(stoks), 0) AS BIGINT) AS n_sent_tokens,
      CAST(coalesce(list_max(stoks), 0) AS BIGINT) AS max_sent_tokens,
      CAST(CASE WHEN len(sents) > 0
        THEN (coalesce(list_sum(stoks), 0) * 1000000) // len(sents)
        ELSE 0 END AS BIGINT) AS mean_sent_tokens_micro,
      regexp_matches(rtrim(text), '[.!?]$') AS ends_terminal
    FROM tk"""

  /** Oracle of q_llm_kn_ppl: the same integer count tables (bigram
    * types, per-context totals + distinct continuations, continuation
    * counts, (B, V) totals) and the VERBATIM IEEE probability tree of
    * TextAnalysis.kneserNeyLogProb — max(c−D,0)/ca + (D·n1prev/ca) ·
    * (n1cur+1)/(B+V), D = 0.75 — micro-quantized per scored unit. */
  val knPpl: String = """
    WITH d AS (SELECT doc_id, string_split_regex(lower(trim(text)), '\s+') AS toks
      FROM documents WHERE text IS NOT NULL),
    tr AS (SELECT doc_id, toks[i-1] AS prev, toks[i] AS cur FROM
      (SELECT doc_id, toks, unnest(generate_series(2, len(toks))) AS i FROM d) x),
    big AS (SELECT prev, cur, COUNT(*) AS cab FROM tr GROUP BY 1, 2),
    ctx AS (SELECT prev, CAST(SUM(cab) AS BIGINT) AS ca, COUNT(*) AS n1prev
      FROM big GROUP BY 1),
    cont AS (SELECT cur, COUNT(*) AS n1cur FROM big GROUP BY 1),
    bv AS (SELECT (SELECT COUNT(*) FROM big) AS b,
      (SELECT COUNT(DISTINCT tok) FROM (SELECT unnest(toks) AS tok FROM d)) AS v),
    fs AS (SELECT doc_id,
        CAST(floor(-ln((coalesce(n1cur, 0) + 1) / CAST(b + v AS DOUBLE))
          * 1e6 + 0.5) AS BIGINT) AS nll
      FROM (SELECT doc_id, toks[1] AS cur FROM d) ft
      LEFT JOIN cont ON cont.cur = ft.cur CROSS JOIN bv),
    ts AS (SELECT doc_id,
        CAST(floor(-ln(
          greatest(cab - 0.75, 0.0) / CAST(ca AS DOUBLE)
          + ((0.75 * n1prev) / CAST(ca AS DOUBLE))
            * ((n1cur + 1) / CAST(b + v AS DOUBLE))
        ) * 1e6 + 0.5) AS BIGINT) AS nll
      FROM tr
      JOIN big ON big.prev = tr.prev AND big.cur = tr.cur
      JOIN ctx ON ctx.prev = tr.prev
      JOIN cont ON cont.cur = tr.cur CROSS JOIN bv),
    al AS (SELECT * FROM fs UNION ALL SELECT * FROM ts)
    SELECT doc_id, COUNT(*) AS n_tokens,
      CAST(SUM(nll) AS BIGINT) AS sum_nll_micro,
      CAST(SUM(nll) // COUNT(*) AS BIGINT) AS avg_nll_micro
    FROM al GROUP BY doc_id"""

  /** Oracle of q_llm_mkn_ppl: modified Kneser-Ney trigram scoring with
    * the same integer count tables (trigram types + per-context
    * discount buckets, continuation counts + per-middle buckets,
    * bigram-type continuation floor, count-of-counts → D1/D2/D3+ per
    * order) and the VERBATIM IEEE probability tree of
    * TextAnalysis.modifiedKneserNeyLogProb, micro-quantized per scored
    * unit. Column/CTE names avoid the bare `v`/`w` of the engine to
    * dodge DuckDB ambiguity with the vocab-size scalar. */
  val mknPpl: String = """
    WITH d AS (SELECT doc_id, string_split_regex(lower(trim(text)), '\s+') AS toks
      FROM documents WHERE text IS NOT NULL),
    tr3 AS (SELECT doc_id, toks[i-2] AS gu, toks[i-1] AS gv, toks[i] AS gw FROM
      (SELECT doc_id, toks, unnest(generate_series(3, len(toks))) AS i FROM d) x),
    tri AS (SELECT gu, gv, gw, COUNT(*) AS cuvw FROM tr3 GROUP BY 1, 2, 3),
    big AS (SELECT toks[i-1] AS prev, toks[i] AS cur, COUNT(*) AS cab FROM
      (SELECT toks, unnest(generate_series(2, len(toks))) AS i FROM d) y GROUP BY 1, 2),
    ctx3 AS (SELECT gu, gv, CAST(SUM(cuvw) AS BIGINT) AS ca3,
        CAST(SUM(CASE WHEN cuvw = 1 THEN 1 ELSE 0 END) AS BIGINT) AS a1,
        CAST(SUM(CASE WHEN cuvw = 2 THEN 1 ELSE 0 END) AS BIGINT) AS a2,
        CAST(SUM(CASE WHEN cuvw >= 3 THEN 1 ELSE 0 END) AS BIGINT) AS a3
      FROM tri GROUP BY 1, 2),
    cont2 AS (SELECT gv, gw, COUNT(*) AS n2vw FROM tri GROUP BY 1, 2),
    dn2 AS (SELECT gv, CAST(SUM(n2vw) AS BIGINT) AS den2,
        CAST(SUM(CASE WHEN n2vw = 1 THEN 1 ELSE 0 END) AS BIGINT) AS m1,
        CAST(SUM(CASE WHEN n2vw = 2 THEN 1 ELSE 0 END) AS BIGINT) AS m2,
        CAST(SUM(CASE WHEN n2vw >= 3 THEN 1 ELSE 0 END) AS BIGINT) AS m3
      FROM cont2 GROUP BY 1),
    cont1 AS (SELECT cur, COUNT(*) AS n1cur FROM big GROUP BY 1),
    noc3 AS (SELECT
        CAST(SUM(CASE WHEN cuvw = 1 THEN 1 ELSE 0 END) AS BIGINT) AS t1,
        CAST(SUM(CASE WHEN cuvw = 2 THEN 1 ELSE 0 END) AS BIGINT) AS t2,
        CAST(SUM(CASE WHEN cuvw = 3 THEN 1 ELSE 0 END) AS BIGINT) AS t3,
        CAST(SUM(CASE WHEN cuvw = 4 THEN 1 ELSE 0 END) AS BIGINT) AS t4
      FROM tri),
    noc2 AS (SELECT
        CAST(SUM(CASE WHEN n2vw = 1 THEN 1 ELSE 0 END) AS BIGINT) AS p1,
        CAST(SUM(CASE WHEN n2vw = 2 THEN 1 ELSE 0 END) AS BIGINT) AS p2,
        CAST(SUM(CASE WHEN n2vw = 3 THEN 1 ELSE 0 END) AS BIGINT) AS p3,
        CAST(SUM(CASE WHEN n2vw = 4 THEN 1 ELSE 0 END) AS BIGINT) AS p4
      FROM cont2),
    bv AS (SELECT (SELECT COUNT(*) FROM big) AS b,
      (SELECT COUNT(DISTINCT tok) FROM (SELECT unnest(toks) AS tok FROM d)) AS vsz),
    disc0 AS (SELECT *,
        CASE WHEN t1 + 2*t2 > 0 THEN CAST(t1 AS DOUBLE)/CAST(t1 + 2*t2 AS DOUBLE) ELSE 0.0 END AS y3,
        CASE WHEN p1 + 2*p2 > 0 THEN CAST(p1 AS DOUBLE)/CAST(p1 + 2*p2 AS DOUBLE) ELSE 0.0 END AS y2
      FROM noc3, noc2, bv),
    disc AS (SELECT *,
        CASE WHEN t1 > 0 AND 1.0 - 2.0*y3*CAST(t2 AS DOUBLE)/CAST(t1 AS DOUBLE) > 0 THEN 1.0 - 2.0*y3*CAST(t2 AS DOUBLE)/CAST(t1 AS DOUBLE) ELSE 0.5 END AS d31,
        CASE WHEN t2 > 0 AND 2.0 - 3.0*y3*CAST(t3 AS DOUBLE)/CAST(t2 AS DOUBLE) > 0 THEN 2.0 - 3.0*y3*CAST(t3 AS DOUBLE)/CAST(t2 AS DOUBLE) ELSE 1.0 END AS d32,
        CASE WHEN t3 > 0 AND 3.0 - 4.0*y3*CAST(t4 AS DOUBLE)/CAST(t3 AS DOUBLE) > 0 THEN 3.0 - 4.0*y3*CAST(t4 AS DOUBLE)/CAST(t3 AS DOUBLE) ELSE 1.5 END AS d33,
        CASE WHEN p1 > 0 AND 1.0 - 2.0*y2*CAST(p2 AS DOUBLE)/CAST(p1 AS DOUBLE) > 0 THEN 1.0 - 2.0*y2*CAST(p2 AS DOUBLE)/CAST(p1 AS DOUBLE) ELSE 0.5 END AS e1,
        CASE WHEN p2 > 0 AND 2.0 - 3.0*y2*CAST(p3 AS DOUBLE)/CAST(p2 AS DOUBLE) > 0 THEN 2.0 - 3.0*y2*CAST(p3 AS DOUBLE)/CAST(p2 AS DOUBLE) ELSE 1.0 END AS e2,
        CASE WHEN p3 > 0 AND 3.0 - 4.0*y2*CAST(p4 AS DOUBLE)/CAST(p3 AS DOUBLE) > 0 THEN 3.0 - 4.0*y2*CAST(p4 AS DOUBLE)/CAST(p3 AS DOUBLE) ELSE 1.5 END AS e3
      FROM disc0),
    fs AS (SELECT doc_id,
        CAST(floor(-ln((coalesce(n1cur, 0) + 1) / CAST(b + vsz AS DOUBLE))
          * 1e6 + 0.5) AS BIGINT) AS nll
      FROM (SELECT doc_id, toks[1] AS cur FROM d) ft
      LEFT JOIN cont1 ON cont1.cur = ft.cur CROSS JOIN disc),
    ss AS (SELECT doc_id,
        CAST(floor(-ln(
          CASE WHEN den2 IS NULL THEN (coalesce(n1cur, 0) + 1) / CAST(b + vsz AS DOUBLE)
          ELSE greatest(CAST(coalesce(n2vw, 0) AS DOUBLE) -
                 (CASE WHEN coalesce(n2vw, 0) = 1 THEN e1
                       WHEN coalesce(n2vw, 0) = 2 THEN e2
                       WHEN coalesce(n2vw, 0) >= 3 THEN e3 ELSE 0.0 END), 0.0)
               / CAST(den2 AS DOUBLE)
             + ((e1*m1 + e2*m2 + e3*m3) / CAST(den2 AS DOUBLE))
               * ((coalesce(n1cur, 0) + 1) / CAST(b + vsz AS DOUBLE)) END)
          * 1e6 + 0.5) AS BIGINT) AS nll
      FROM (SELECT doc_id, toks[1] AS sv, toks[2] AS sw FROM d WHERE len(toks) >= 2) st
      LEFT JOIN cont2 ON cont2.gv = st.sv AND cont2.gw = st.sw
      LEFT JOIN dn2 ON dn2.gv = st.sv
      LEFT JOIN cont1 ON cont1.cur = st.sw
      CROSS JOIN disc),
    ts AS (SELECT sc.doc_id,
        CAST(floor(-ln(
          greatest(CAST(cuvw AS DOUBLE) -
              (CASE WHEN cuvw = 1 THEN d31 WHEN cuvw = 2 THEN d32
                    WHEN cuvw >= 3 THEN d33 ELSE 0.0 END), 0.0)
            / CAST(ca3 AS DOUBLE)
          + ((d31*a1 + d32*a2 + d33*a3) / CAST(ca3 AS DOUBLE))
            * (CASE WHEN den2 IS NULL THEN (coalesce(n1cur, 0) + 1) / CAST(b + vsz AS DOUBLE)
               ELSE greatest(CAST(coalesce(n2vw, 0) AS DOUBLE) -
                      (CASE WHEN coalesce(n2vw, 0) = 1 THEN e1
                            WHEN coalesce(n2vw, 0) = 2 THEN e2
                            WHEN coalesce(n2vw, 0) >= 3 THEN e3 ELSE 0.0 END), 0.0)
                    / CAST(den2 AS DOUBLE)
                  + ((e1*m1 + e2*m2 + e3*m3) / CAST(den2 AS DOUBLE))
                    * ((coalesce(n1cur, 0) + 1) / CAST(b + vsz AS DOUBLE)) END))
          * 1e6 + 0.5) AS BIGINT) AS nll
      FROM tr3 sc
      JOIN tri ON tri.gu = sc.gu AND tri.gv = sc.gv AND tri.gw = sc.gw
      JOIN ctx3 ON ctx3.gu = sc.gu AND ctx3.gv = sc.gv
      JOIN cont2 ON cont2.gv = sc.gv AND cont2.gw = sc.gw
      JOIN dn2 ON dn2.gv = sc.gv
      LEFT JOIN cont1 ON cont1.cur = sc.gw
      CROSS JOIN disc),
    al AS (SELECT * FROM fs UNION ALL SELECT * FROM ss UNION ALL SELECT * FROM ts)
    SELECT doc_id, COUNT(*) AS n_tokens,
      CAST(SUM(nll) AS BIGINT) AS sum_nll_micro,
      CAST(SUM(nll) // COUNT(*) AS BIGINT) AS avg_nll_micro
    FROM al GROUP BY doc_id"""

  /** Oracle of q_llm_mkn_ppl_ref: modified-KN trigram REFERENCE
    * scoring — model tables from the even-doc_id half only, every doc
    * scored, so the odd half exercises the unseen rungs (trigram-miss
    * → backoff mass; context-miss → P(w|v) entirely; continuation and
    * word misses → the lower floors). Same verbatim IEEE tree with
    * the unseen CASEs stated. */
  val mknPplRef: String = """
    WITH d AS (SELECT doc_id, string_split_regex(lower(trim(text)), '\s+') AS toks
      FROM documents WHERE text IS NOT NULL),
    td AS (SELECT * FROM d WHERE doc_id % 2 = 0),
    sc3 AS (SELECT doc_id, toks[i-2] AS gu, toks[i-1] AS gv, toks[i] AS gw FROM
      (SELECT doc_id, toks, unnest(generate_series(3, len(toks))) AS i FROM d) x),
    tr3 AS (SELECT toks[i-2] AS gu, toks[i-1] AS gv, toks[i] AS gw FROM
      (SELECT toks, unnest(generate_series(3, len(toks))) AS i FROM td) x),
    tri AS (SELECT gu, gv, gw, COUNT(*) AS cuvw FROM tr3 GROUP BY 1, 2, 3),
    big AS (SELECT toks[i-1] AS prev, toks[i] AS cur, COUNT(*) AS cab FROM
      (SELECT toks, unnest(generate_series(2, len(toks))) AS i FROM td) y GROUP BY 1, 2),
    ctx3 AS (SELECT gu, gv, CAST(SUM(cuvw) AS BIGINT) AS ca3,
        CAST(SUM(CASE WHEN cuvw = 1 THEN 1 ELSE 0 END) AS BIGINT) AS a1,
        CAST(SUM(CASE WHEN cuvw = 2 THEN 1 ELSE 0 END) AS BIGINT) AS a2,
        CAST(SUM(CASE WHEN cuvw >= 3 THEN 1 ELSE 0 END) AS BIGINT) AS a3
      FROM tri GROUP BY 1, 2),
    cont2 AS (SELECT gv, gw, COUNT(*) AS n2vw FROM tri GROUP BY 1, 2),
    dn2 AS (SELECT gv, CAST(SUM(n2vw) AS BIGINT) AS den2,
        CAST(SUM(CASE WHEN n2vw = 1 THEN 1 ELSE 0 END) AS BIGINT) AS m1,
        CAST(SUM(CASE WHEN n2vw = 2 THEN 1 ELSE 0 END) AS BIGINT) AS m2,
        CAST(SUM(CASE WHEN n2vw >= 3 THEN 1 ELSE 0 END) AS BIGINT) AS m3
      FROM cont2 GROUP BY 1),
    cont1 AS (SELECT cur, COUNT(*) AS n1cur FROM big GROUP BY 1),
    noc3 AS (SELECT
        CAST(SUM(CASE WHEN cuvw = 1 THEN 1 ELSE 0 END) AS BIGINT) AS t1,
        CAST(SUM(CASE WHEN cuvw = 2 THEN 1 ELSE 0 END) AS BIGINT) AS t2,
        CAST(SUM(CASE WHEN cuvw = 3 THEN 1 ELSE 0 END) AS BIGINT) AS t3,
        CAST(SUM(CASE WHEN cuvw = 4 THEN 1 ELSE 0 END) AS BIGINT) AS t4
      FROM tri),
    noc2 AS (SELECT
        CAST(SUM(CASE WHEN n2vw = 1 THEN 1 ELSE 0 END) AS BIGINT) AS p1,
        CAST(SUM(CASE WHEN n2vw = 2 THEN 1 ELSE 0 END) AS BIGINT) AS p2,
        CAST(SUM(CASE WHEN n2vw = 3 THEN 1 ELSE 0 END) AS BIGINT) AS p3,
        CAST(SUM(CASE WHEN n2vw = 4 THEN 1 ELSE 0 END) AS BIGINT) AS p4
      FROM cont2),
    bv AS (SELECT (SELECT COUNT(*) FROM big) AS b,
      (SELECT COUNT(DISTINCT tok) FROM (SELECT unnest(toks) AS tok FROM td)) AS vsz),
    disc0 AS (SELECT *,
        CASE WHEN t1 + 2*t2 > 0 THEN CAST(t1 AS DOUBLE)/CAST(t1 + 2*t2 AS DOUBLE) ELSE 0.0 END AS y3,
        CASE WHEN p1 + 2*p2 > 0 THEN CAST(p1 AS DOUBLE)/CAST(p1 + 2*p2 AS DOUBLE) ELSE 0.0 END AS y2
      FROM noc3, noc2, bv),
    disc AS (SELECT *,
        CASE WHEN t1 > 0 AND 1.0 - 2.0*y3*CAST(t2 AS DOUBLE)/CAST(t1 AS DOUBLE) > 0 THEN 1.0 - 2.0*y3*CAST(t2 AS DOUBLE)/CAST(t1 AS DOUBLE) ELSE 0.5 END AS d31,
        CASE WHEN t2 > 0 AND 2.0 - 3.0*y3*CAST(t3 AS DOUBLE)/CAST(t2 AS DOUBLE) > 0 THEN 2.0 - 3.0*y3*CAST(t3 AS DOUBLE)/CAST(t2 AS DOUBLE) ELSE 1.0 END AS d32,
        CASE WHEN t3 > 0 AND 3.0 - 4.0*y3*CAST(t4 AS DOUBLE)/CAST(t3 AS DOUBLE) > 0 THEN 3.0 - 4.0*y3*CAST(t4 AS DOUBLE)/CAST(t3 AS DOUBLE) ELSE 1.5 END AS d33,
        CASE WHEN p1 > 0 AND 1.0 - 2.0*y2*CAST(p2 AS DOUBLE)/CAST(p1 AS DOUBLE) > 0 THEN 1.0 - 2.0*y2*CAST(p2 AS DOUBLE)/CAST(p1 AS DOUBLE) ELSE 0.5 END AS e1,
        CASE WHEN p2 > 0 AND 2.0 - 3.0*y2*CAST(p3 AS DOUBLE)/CAST(p2 AS DOUBLE) > 0 THEN 2.0 - 3.0*y2*CAST(p3 AS DOUBLE)/CAST(p2 AS DOUBLE) ELSE 1.0 END AS e2,
        CASE WHEN p3 > 0 AND 3.0 - 4.0*y2*CAST(p4 AS DOUBLE)/CAST(p3 AS DOUBLE) > 0 THEN 3.0 - 4.0*y2*CAST(p4 AS DOUBLE)/CAST(p3 AS DOUBLE) ELSE 1.5 END AS e3
      FROM disc0),
    fs AS (SELECT doc_id,
        CAST(floor(-ln((coalesce(n1cur, 0) + 1) / CAST(b + vsz AS DOUBLE))
          * 1e6 + 0.5) AS BIGINT) AS nll
      FROM (SELECT doc_id, toks[1] AS cur FROM d) ft
      LEFT JOIN cont1 ON cont1.cur = ft.cur CROSS JOIN disc),
    ss AS (SELECT doc_id,
        CAST(floor(-ln(
          CASE WHEN den2 IS NULL THEN (coalesce(n1cur, 0) + 1) / CAST(b + vsz AS DOUBLE)
          ELSE greatest(CAST(coalesce(n2vw, 0) AS DOUBLE) -
                 (CASE WHEN coalesce(n2vw, 0) = 1 THEN e1
                       WHEN coalesce(n2vw, 0) = 2 THEN e2
                       WHEN coalesce(n2vw, 0) >= 3 THEN e3 ELSE 0.0 END), 0.0)
               / CAST(den2 AS DOUBLE)
             + ((e1*m1 + e2*m2 + e3*m3) / CAST(den2 AS DOUBLE))
               * ((coalesce(n1cur, 0) + 1) / CAST(b + vsz AS DOUBLE)) END)
          * 1e6 + 0.5) AS BIGINT) AS nll
      FROM (SELECT doc_id, toks[1] AS sv, toks[2] AS sw FROM d WHERE len(toks) >= 2) st
      LEFT JOIN cont2 ON cont2.gv = st.sv AND cont2.gw = st.sw
      LEFT JOIN dn2 ON dn2.gv = st.sv
      LEFT JOIN cont1 ON cont1.cur = st.sw
      CROSS JOIN disc),
    ts AS (SELECT sc.doc_id,
        CAST(floor(-ln(
          CASE WHEN ca3 IS NULL THEN
            (CASE WHEN den2 IS NULL THEN (coalesce(n1cur, 0) + 1) / CAST(b + vsz AS DOUBLE)
             ELSE greatest(CAST(coalesce(n2vw, 0) AS DOUBLE) -
                    (CASE WHEN coalesce(n2vw, 0) = 1 THEN e1
                          WHEN coalesce(n2vw, 0) = 2 THEN e2
                          WHEN coalesce(n2vw, 0) >= 3 THEN e3 ELSE 0.0 END), 0.0)
                  / CAST(den2 AS DOUBLE)
                + ((e1*m1 + e2*m2 + e3*m3) / CAST(den2 AS DOUBLE))
                  * ((coalesce(n1cur, 0) + 1) / CAST(b + vsz AS DOUBLE)) END)
          ELSE
            greatest(CAST(coalesce(cuvw, 0) AS DOUBLE) -
                (CASE WHEN coalesce(cuvw, 0) = 1 THEN d31
                      WHEN coalesce(cuvw, 0) = 2 THEN d32
                      WHEN coalesce(cuvw, 0) >= 3 THEN d33 ELSE 0.0 END), 0.0)
              / CAST(ca3 AS DOUBLE)
            + ((d31*a1 + d32*a2 + d33*a3) / CAST(ca3 AS DOUBLE))
              * (CASE WHEN den2 IS NULL THEN (coalesce(n1cur, 0) + 1) / CAST(b + vsz AS DOUBLE)
                 ELSE greatest(CAST(coalesce(n2vw, 0) AS DOUBLE) -
                        (CASE WHEN coalesce(n2vw, 0) = 1 THEN e1
                              WHEN coalesce(n2vw, 0) = 2 THEN e2
                              WHEN coalesce(n2vw, 0) >= 3 THEN e3 ELSE 0.0 END), 0.0)
                      / CAST(den2 AS DOUBLE)
                    + ((e1*m1 + e2*m2 + e3*m3) / CAST(den2 AS DOUBLE))
                      * ((coalesce(n1cur, 0) + 1) / CAST(b + vsz AS DOUBLE)) END)
          END)
          * 1e6 + 0.5) AS BIGINT) AS nll
      FROM sc3 sc
      LEFT JOIN tri ON tri.gu = sc.gu AND tri.gv = sc.gv AND tri.gw = sc.gw
      LEFT JOIN ctx3 ON ctx3.gu = sc.gu AND ctx3.gv = sc.gv
      LEFT JOIN cont2 ON cont2.gv = sc.gv AND cont2.gw = sc.gw
      LEFT JOIN dn2 ON dn2.gv = sc.gv
      LEFT JOIN cont1 ON cont1.cur = sc.gw
      CROSS JOIN disc),
    al AS (SELECT * FROM fs UNION ALL SELECT * FROM ss UNION ALL SELECT * FROM ts)
    SELECT doc_id, COUNT(*) AS n_tokens,
      CAST(SUM(nll) AS BIGINT) AS sum_nll_micro,
      CAST(SUM(nll) // COUNT(*) AS BIGINT) AS avg_nll_micro
    FROM al GROUP BY doc_id"""

  /** Oracle of q_llm_sb_ppl: Stupid-Backoff trigram scoring with the
    * identical count tables (trained on the UNMUTATED corpus, scored
    * on the every-5th-token-mutated stream) and the VERBATIM IEEE
    * score tree — c(uvw)/c(uv), else 0.4·(c(vw)/c(v)), else
    * 0.4·(0.4·(c(w)+1)/(N+V)) with the α multiplications NESTED as in
    * the engine — micro-quantized per scored unit. */
  val sbPpl: String = """
    WITH d0 AS (SELECT doc_id, string_split_regex(lower(trim(text)), '\s+') AS toks
      FROM documents WHERE text IS NOT NULL),
    d AS (SELECT doc_id,
        list_transform(range(len(toks)),
          i -> CASE WHEN i % 5 = 4 THEN 'zzqq' || toks[i+1] ELSE toks[i+1] END) AS toks
      FROM d0),
    uni AS (SELECT tok AS term, COUNT(*) AS cu FROM
      (SELECT unnest(toks) AS tok FROM d0) GROUP BY 1),
    nv AS (SELECT CAST(SUM(cu) AS BIGINT) AS ntot, COUNT(*) AS vsz FROM uni),
    bi AS (SELECT toks[i-1] AS bv, toks[i] AS bw, COUNT(*) AS cvw FROM
      (SELECT toks, unnest(generate_series(2, len(toks))) AS i FROM d0) x GROUP BY 1, 2),
    tri AS (SELECT toks[i-2] AS tu, toks[i-1] AS tv, toks[i] AS tw, COUNT(*) AS cuvw FROM
      (SELECT toks, unnest(generate_series(3, len(toks))) AS i FROM d0) x GROUP BY 1, 2, 3),
    fs AS (SELECT doc_id,
        CAST(floor(-ln((coalesce(cu, 0) + 1) / CAST(ntot + vsz AS DOUBLE))
          * 1e6 + 0.5) AS BIGINT) AS nll
      FROM (SELECT doc_id, toks[1] AS w FROM d) ft
      LEFT JOIN uni ON uni.term = ft.w CROSS JOIN nv),
    ss AS (SELECT doc_id,
        CAST(floor(-ln(
          CASE WHEN coalesce(cvw, 0) > 0 THEN cvw / CAST(cv AS DOUBLE)
          ELSE 0.4 * ((coalesce(cw, 0) + 1) / CAST(ntot + vsz AS DOUBLE)) END)
          * 1e6 + 0.5) AS BIGINT) AS nll
      FROM (SELECT doc_id, toks[1] AS v, toks[2] AS w FROM d WHERE len(toks) >= 2) st
      LEFT JOIN bi ON bi.bv = st.v AND bi.bw = st.w
      LEFT JOIN (SELECT term, cu AS cv FROM uni) uv ON uv.term = st.v
      LEFT JOIN (SELECT term, cu AS cw FROM uni) uw ON uw.term = st.w
      CROSS JOIN nv),
    ts AS (SELECT doc_id,
        CAST(floor(-ln(
          CASE WHEN coalesce(cuvw, 0) > 0 THEN cuvw / CAST(cuvbi AS DOUBLE)
          ELSE 0.4 * (CASE WHEN coalesce(cvw, 0) > 0 THEN cvw / CAST(cv AS DOUBLE)
                      ELSE 0.4 * ((coalesce(cw, 0) + 1) / CAST(ntot + vsz AS DOUBLE)) END) END)
          * 1e6 + 0.5) AS BIGINT) AS nll
      FROM (SELECT doc_id, toks[i-2] AS u, toks[i-1] AS v, toks[i] AS w FROM
        (SELECT doc_id, toks, unnest(generate_series(3, len(toks))) AS i FROM d) y) sc
      LEFT JOIN tri ON tri.tu = sc.u AND tri.tv = sc.v AND tri.tw = sc.w
      LEFT JOIN (SELECT bv AS ju, bw AS jv, cvw AS cuvbi FROM bi) bc
        ON bc.ju = sc.u AND bc.jv = sc.v
      LEFT JOIN bi ON bi.bv = sc.v AND bi.bw = sc.w
      LEFT JOIN (SELECT term, cu AS cv FROM uni) uv ON uv.term = sc.v
      LEFT JOIN (SELECT term, cu AS cw FROM uni) uw ON uw.term = sc.w
      CROSS JOIN nv),
    al AS (SELECT * FROM fs UNION ALL SELECT * FROM ss UNION ALL SELECT * FROM ts)
    SELECT doc_id, COUNT(*) AS n_tokens,
      CAST(SUM(nll) AS BIGINT) AS sum_nll_micro,
      CAST(SUM(nll) // COUNT(*) AS BIGINT) AS avg_nll_micro
    FROM al GROUP BY doc_id"""

  /** Oracle of [[graft.ops.TextAnalysis.bigramLogProbRef]] over the
    * even-doc_id training split: identical count tables and the
    * identical IEEE tree 0.9·c(ab)/c(a·) + 0.1·(c(b)+1)/(N+V),
    * micro-quantized per scored unit. */
  val bigramPpl: String = """
    WITH d AS (SELECT doc_id, string_split_regex(lower(trim(text)), '\s+') AS toks
      FROM documents WHERE text IS NOT NULL),
    td AS (SELECT * FROM d WHERE doc_id % 2 = 0),
    uni AS (SELECT tok AS term, COUNT(*) AS cu FROM
      (SELECT unnest(toks) AS tok FROM td) GROUP BY 1),
    nv AS (SELECT CAST(SUM(cu) AS BIGINT) AS n, COUNT(*) AS v FROM uni),
    ttr AS (SELECT toks[i-1] AS prev, toks[i] AS cur FROM
      (SELECT toks, unnest(generate_series(2, len(toks))) AS i FROM td) x),
    big AS (SELECT prev, cur, COUNT(*) AS cab FROM ttr GROUP BY 1, 2),
    ctx AS (SELECT prev, CAST(SUM(cab) AS BIGINT) AS ca FROM big GROUP BY 1),
    fs AS (SELECT doc_id,
        CAST(floor(-ln((coalesce(cu, 0) + 1) / CAST(n + v AS DOUBLE))
          * 1e6 + 0.5) AS BIGINT) AS nll
      FROM (SELECT doc_id, toks[1] AS cur FROM d) ft
      LEFT JOIN uni ON uni.term = ft.cur CROSS JOIN nv),
    str AS (SELECT doc_id, toks[i-1] AS prev, toks[i] AS cur FROM
      (SELECT doc_id, toks, unnest(generate_series(2, len(toks))) AS i FROM d) y),
    ts AS (SELECT doc_id,
        CAST(floor(-ln(
          0.9 * (CASE WHEN coalesce(ca, 0) > 0
                 THEN coalesce(cab, 0) / CAST(ca AS DOUBLE) ELSE 0.0 END)
          + 0.1 * ((coalesce(cu, 0) + 1) / CAST(n + v AS DOUBLE)))
          * 1e6 + 0.5) AS BIGINT) AS nll
      FROM str
      LEFT JOIN big ON big.prev = str.prev AND big.cur = str.cur
      LEFT JOIN ctx ON ctx.prev = str.prev
      LEFT JOIN uni ON uni.term = str.cur CROSS JOIN nv),
    al AS (SELECT * FROM fs UNION ALL SELECT * FROM ts)
    SELECT doc_id, COUNT(*) AS n_tokens,
      CAST(SUM(nll) AS BIGINT) AS sum_nll_micro,
      CAST(SUM(nll) // COUNT(*) AS BIGINT) AS avg_nll_micro
    FROM al GROUP BY doc_id"""

  /** Oracle of q_llm_bigram_ppl_oov: training counts over the
    * UNMUTATED corpus, scoring over the zzqq-mutated token stream
    * (token i, 0-based, prefixed when i % 3 != 0 — the same
    * `transform` lambda the Spark side applies), so >60% of scored
    * words/contexts are provably unseen and both fallback branches
    * carry the bulk of the mass. */
  val bigramPplOov: String = """
    WITH d0 AS (SELECT doc_id, string_split_regex(lower(trim(text)), '\s+') AS toks
      FROM documents WHERE text IS NOT NULL),
    d AS (SELECT doc_id,
        list_transform(range(len(toks)),
          i -> CASE WHEN i % 3 != 0 THEN 'zzqq' || toks[i+1] ELSE toks[i+1] END) AS toks
      FROM d0),
    td AS (SELECT * FROM d0),
    uni AS (SELECT tok AS term, COUNT(*) AS cu FROM
      (SELECT unnest(toks) AS tok FROM td) GROUP BY 1),
    nv AS (SELECT CAST(SUM(cu) AS BIGINT) AS n, COUNT(*) AS v FROM uni),
    ttr AS (SELECT toks[i-1] AS prev, toks[i] AS cur FROM
      (SELECT toks, unnest(generate_series(2, len(toks))) AS i FROM td) x),
    big AS (SELECT prev, cur, COUNT(*) AS cab FROM ttr GROUP BY 1, 2),
    ctx AS (SELECT prev, CAST(SUM(cab) AS BIGINT) AS ca FROM big GROUP BY 1),
    fs AS (SELECT doc_id,
        CAST(floor(-ln((coalesce(cu, 0) + 1) / CAST(n + v AS DOUBLE))
          * 1e6 + 0.5) AS BIGINT) AS nll
      FROM (SELECT doc_id, toks[1] AS cur FROM d) ft
      LEFT JOIN uni ON uni.term = ft.cur CROSS JOIN nv),
    str AS (SELECT doc_id, toks[i-1] AS prev, toks[i] AS cur FROM
      (SELECT doc_id, toks, unnest(generate_series(2, len(toks))) AS i FROM d) y),
    ts AS (SELECT doc_id,
        CAST(floor(-ln(
          0.9 * (CASE WHEN coalesce(ca, 0) > 0
                 THEN coalesce(cab, 0) / CAST(ca AS DOUBLE) ELSE 0.0 END)
          + 0.1 * ((coalesce(cu, 0) + 1) / CAST(n + v AS DOUBLE)))
          * 1e6 + 0.5) AS BIGINT) AS nll
      FROM str
      LEFT JOIN big ON big.prev = str.prev AND big.cur = str.cur
      LEFT JOIN ctx ON ctx.prev = str.prev
      LEFT JOIN uni ON uni.term = str.cur CROSS JOIN nv),
    al AS (SELECT * FROM fs UNION ALL SELECT * FROM ts)
    SELECT doc_id, COUNT(*) AS n_tokens,
      CAST(SUM(nll) AS BIGINT) AS sum_nll_micro,
      CAST(SUM(nll) // COUNT(*) AS BIGINT) AS avg_nll_micro
    FROM al GROUP BY doc_id"""

  /** Oracle of [[graft.ops.TextAnalysis.corpusDatasheet]]: identical
    * quality tree (the q_llm_quality CTEs), whitespace-normalized md5
    * fingerprint, corpus-wide collision counts, per-cell integral
    * rates. */
  val datasheet: String = s"""
    WITH x AS (SELECT doc_id, source, lang, text,
        md5(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g')) AS fp,
        length(text) AS n_chars,
        string_split_regex(lower(trim(text)), '\\s+') AS toks,
        CAST(length(text) - length(regexp_replace(text, '[.!?,;:]', '', 'g')) AS DOUBLE)
          / greatest(length(text), 1) AS punct_ratio
      FROM documents WHERE text IS NOT NULL),
    y AS (SELECT doc_id, source, lang, fp, n_chars, punct_ratio,
        CAST(len(list_filter(toks, t -> list_contains($allStops, t))) AS DOUBLE)
          / greatest(len(toks), 1) AS stop_ratio,
        len(toks) AS n_toks FROM x),
    q AS (SELECT source, lang, fp, n_chars, n_toks,
        CAST(floor((least(CAST(n_toks AS DOUBLE) / 100.0, 1.0) * 0.4
          + (1.0 - punct_ratio) * 0.3
          + least(stop_ratio * 5.0, 1.0) * 0.3) * 1e6 + 0.5) AS BIGINT) AS qm
      FROM y),
    fpc AS (SELECT fp, COUNT(*) AS fpn FROM q GROUP BY 1)
    SELECT source, lang, COUNT(*) AS n_docs,
      CAST(SUM(n_toks) AS BIGINT) AS n_tokens,
      CAST(SUM(n_chars) AS BIGINT) AS n_chars,
      CAST(SUM(CASE WHEN fpn > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_exact_dup_docs,
      CAST(SUM(CASE WHEN fpn > 1 THEN 1 ELSE 0 END) * 1000000 // COUNT(*) AS BIGINT)
        AS dup_rate_micro,
      CAST(SUM(qm) // COUNT(*) AS BIGINT) AS mean_quality_micro
    FROM q JOIN fpc USING (fp) GROUP BY source, lang"""

  /** Shared CTE chain for the URL queries: the deterministic messy-URL
    * synthesis (4 shapes by doc_id: uppercase scheme/host + www +
    * default port + tracking params + fragment + trailing slash;
    * https + default port; non-http scheme whose port must survive;
    * not-a-URL → null) and the FULL normalization contract of
    * [[graft.ops.Urls.normalizeUrl]] restated in SQL. */
  private val urlCtes: String = """
    raw AS (SELECT doc_id,
        CASE CAST(doc_id % 5 AS INTEGER)
          WHEN 0 THEN 'HTTP://WWW.Site' || CAST(doc_id % 3 AS VARCHAR)
            || '.Example.COM:80/A/b/?utm_source=x&b=2&a=1#frag'
          WHEN 1 THEN 'https://Site' || CAST(doc_id % 3 AS VARCHAR)
            || '.example.com:443/A/b?a=1&b=2'
          WHEN 2 THEN 'ftp://files.Example.org:80/x/'
          WHEN 3 THEN 'http://u:p@WWW.Site' || CAST(doc_id % 3 AS VARCHAR)
            || '.example.com:8080/x/'
          ELSE 'not a url ' || CAST(doc_id % 3 AS VARCHAR)
        END AS url
      FROM documents),
    pieces AS (SELECT doc_id, url,
        lower(regexp_extract(trim(url), '^([A-Za-z][A-Za-z0-9+.-]*)://', 1)) AS scheme,
        regexp_replace(lower(regexp_extract(trim(url),
          '^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]+)', 1)), '^[^@]*@', '') AS auth,
        regexp_extract(trim(url), '^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]+(.*)$', 1) AS rest
      FROM raw),
    hostc AS (SELECT *,
        regexp_replace(regexp_replace(auth, ':[0-9]+$', ''), '^www\.', '') AS host0,
        regexp_extract(auth, ':([0-9]+)$', 1) AS port
      FROM pieces),
    parts AS (SELECT doc_id, url, scheme,
        CASE WHEN scheme <> '' AND host0 <> '' THEN host0 END AS host,
        CASE WHEN port <> '' AND NOT (scheme = 'http' AND port = '80')
               AND NOT (scheme = 'https' AND port = '443')
          THEN ':' || port ELSE '' END AS portsuffix,
        regexp_extract(regexp_replace(rest, '#.*$', ''), '^([^?]*)', 1) AS path0,
        regexp_extract(regexp_replace(rest, '#.*$', ''), '\?(.*)$', 1) AS query
      FROM hostc),
    canon AS (SELECT doc_id, url, host,
        CASE WHEN host IS NOT NULL THEN scheme || '://' || host || portsuffix
          || (CASE WHEN regexp_replace(path0, '/$', '') = '' THEN '/'
                   ELSE regexp_replace(path0, '/$', '') END)
          || (CASE WHEN len(list_sort(list_filter(string_split(query, '&'),
                p -> p <> '' AND NOT regexp_matches(p,
                  '^(utm_[^=]*|gclid|fbclid|msclkid)(=.*)?$')))) > 0
              THEN '?' || array_to_string(list_sort(list_filter(string_split(query, '&'),
                p -> p <> '' AND NOT regexp_matches(p,
                  '^(utm_[^=]*|gclid|fbclid|msclkid)(=.*)?$'))), '&')
              ELSE '' END)
        END AS canonical_url
      FROM parts)"""

  val urlNormalize: String = s"""
    WITH $urlCtes
    SELECT doc_id, url, canonical_url, host,
      host IS NOT NULL AND (host = 'site2.example.com'
        OR host LIKE '%.site2.example.com'
        OR host = 'example.org' OR host LIKE '%.example.org') AS blocked
    FROM canon"""

  val urlDedup: String = s"""
    WITH $urlCtes,
    keep AS (SELECT canonical_url, MIN(doc_id) AS keep_id FROM canon
      WHERE canonical_url IS NOT NULL GROUP BY 1)
    SELECT c.doc_id, c.canonical_url,
      coalesce(k.keep_id, c.doc_id) AS keep_id,
      c.doc_id <> coalesce(k.keep_id, c.doc_id) AS is_dup
    FROM canon c LEFT JOIN keep k ON c.canonical_url = k.canonical_url"""

  val charEntropy: String = """
    WITH c AS (SELECT doc_id,
        unnest(string_split(regexp_replace(text, '[^\x20-\x7e]', '', 'g'), '')) AS ch
      FROM documents WHERE text IS NOT NULL),
    cc AS (SELECT doc_id, ch, COUNT(*) AS cnt FROM c WHERE ch <> '' GROUP BY 1, 2),
    tt AS (SELECT doc_id, ch, cnt,
        CAST(SUM(cnt) OVER (PARTITION BY doc_id) AS BIGINT) AS total
      FROM cc),
    nl AS (SELECT doc_id, cnt, total,
        CAST(floor(-ln(CAST(cnt AS DOUBLE) / total) * 1000000 + 0.5) AS BIGINT) AS nll
      FROM tt)
    SELECT doc_id,
      MAX(total) AS n_ascii_chars,
      COUNT(*) AS n_distinct_chars,
      CAST(CAST(SUM(cnt * nll) AS BIGINT) // MAX(total) AS BIGINT) AS entropy_micro
    FROM nl GROUP BY doc_id"""

  val dupLines: String = """
    WITH d AS (SELECT doc_id,
        list_filter(list_transform(string_split(
          text || chr(10) || 'boiler line' || chr(10) || 'BOILER line'
               || chr(10) || 'boiler line' || chr(10) || 'unique tail',
          chr(10)), l -> trim(l)), l -> l <> '') AS lines
      FROM documents WHERE text IS NOT NULL),
    o AS (SELECT doc_id,
        list_transform(lines, x -> len(list_filter(lines, y -> y = x))) AS occs,
        list_transform(lines, l -> CAST(len(l) AS BIGINT)) AS lens
      FROM d)
    SELECT doc_id,
      CAST(len(occs) AS BIGINT) AS n_lines,
      CAST(len(list_filter(occs, c -> c > 1)) AS BIGINT) AS dup_lines,
      CAST(coalesce(list_sum(lens), 0) AS BIGINT) AS total_line_chars,
      CAST(coalesce(list_sum(list_transform(range(len(lens)),
        i -> CASE WHEN occs[i+1] > 1 THEN lens[i+1] ELSE 0 END)), 0) AS BIGINT)
        AS dup_line_chars,
      CAST(CASE WHEN len(occs) > 0
        THEN (len(list_filter(occs, c -> c > 1)) * 1000000) // len(occs)
        ELSE 0 END AS BIGINT) AS dup_line_micro,
      CAST(CASE WHEN coalesce(list_sum(lens), 0) > 0
        THEN (coalesce(list_sum(list_transform(range(len(lens)),
          i -> CASE WHEN occs[i+1] > 1 THEN lens[i+1] ELSE 0 END)), 0) * 1000000)
          // list_sum(lens)
        ELSE 0 END AS BIGINT) AS dup_char_micro
    FROM o"""

  val dupNgrams: String = """
    WITH b AS (SELECT doc_id,
        string_split_regex(lower(trim(text || ' q w e r t y q w e r t y')), '\s+') AS toks
      FROM documents WHERE text IS NOT NULL),
    q AS (SELECT doc_id, toks FROM b WHERE len(toks) >= 5),
    g AS (SELECT doc_id, unnest(generate_series(0, len(toks) - 5)) AS gpos, toks FROM q),
    g2 AS (SELECT doc_id, gpos, array_to_string(toks[gpos+1:gpos+5], chr(1)) AS gram FROM g),
    dup AS (SELECT doc_id, gpos FROM (
        SELECT doc_id, gpos, COUNT(*) OVER (PARTITION BY doc_id, gram) AS c FROM g2)
      WHERE c > 1),
    cov0 AS (SELECT doc_id, gpos + unnest(generate_series(0, 4)) AS pos FROM dup),
    cov AS (SELECT DISTINCT doc_id, pos FROM cov0),
    p AS (SELECT doc_id, unnest(generate_series(0, len(toks) - 1)) AS pos, toks FROM q),
    p2 AS (SELECT doc_id, pos, CAST(len(toks[pos+1]) AS BIGINT) AS toklen FROM p),
    tot AS (SELECT doc_id, COUNT(*) AS n_tokens,
        CAST(SUM(toklen) AS BIGINT) AS total_token_chars FROM p2 GROUP BY 1),
    cc AS (SELECT c.doc_id, COUNT(*) AS covered_positions,
        CAST(SUM(p2.toklen) AS BIGINT) AS covered_chars
      FROM cov c JOIN p2 ON c.doc_id = p2.doc_id AND c.pos = p2.pos GROUP BY 1)
    SELECT t.doc_id, t.n_tokens, t.total_token_chars,
      coalesce(cc.covered_positions, 0) AS covered_positions,
      coalesce(cc.covered_chars, 0) AS covered_chars,
      CAST((coalesce(cc.covered_chars, 0) * 1000000) // t.total_token_chars AS BIGINT)
        AS dup_char_micro
    FROM tot t LEFT JOIN cc ON t.doc_id = cc.doc_id"""

  /** Every repair-table key, concatenated — the deterministic
    * mojibake salt both engines append to each document. */
  val mojibakeSalt: String =
    " " + graft.ops.TextAnalysis.mojibakeTable.map(_._1).mkString(" ")

  /** The repair chain stated verbatim in SQL from the same table the
    * engine folds over — table order IS the replace nesting order. */
  val fixMojibake: String = {
    def sq(s: String) = s.replace("'", "''")
    val salted = s"text || '${sq(mojibakeSalt)}'"
    val chain = graft.ops.TextAnalysis.mojibakeTable.foldLeft(salted) {
      case (acc, (bad, good)) => s"replace($acc, '${sq(bad)}', '${sq(good)}')"
    }
    s"""SELECT doc_id, $chain AS fixed,
      $chain <> ($salted) AS was_broken
      FROM documents WHERE text IS NOT NULL"""
  }
}
