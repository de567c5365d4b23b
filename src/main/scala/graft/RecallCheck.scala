package graft
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import graft.ops.Similarity

/**
 * Measures recall@k of the ANN paths vs brute force on real
 * embeddings, at the PRODUCTION operating points (the exact configs
 * the q_llm_ann_* queries run). Two faces:
 *
 *  - `main` with an output path writes a RECALL artifact
 *    (`RECALL_r{N}.json`) covering every testdata SF, so a recall
 *    regression surfaces between rounds like a red correctness row —
 *    not just in an ad-hoc console run;
 *  - `headline` is the shared computation, also asserted per-build by
 *    RecallFloorSpec (recall ≥ [[floor]] at sf0.001 for all five
 *    paths).
 *
 * Usage: RecallCheck [sfDir] — console line + config sweeps;
 *        RecallCheck --artifact OUT.json sfDir1 [sfDir2 ...]
 */
object RecallCheck {

  /** The pinned floor: every ANN operating point must retrieve at
    * least this fraction of the brute-force top-k pairs. */
  val floor = 0.8

  /** recall@k per production ANN path + |truth|. The persisted-index
    * paths build into a work dir that is deleted before this returns. */
  def headline(spark: SparkSession, dir: String, k: Int = 3): (Map[String, Double], Int) = {
    val work = java.nio.file.Files.createTempDirectory("graft_recall_")
    try headlineIn(spark, dir, k, work.toString)
    finally graft.io.Writers.deleteTree(work.toFile)
  }

  private def headlineIn(spark: SparkSession, dir: String, k: Int,
                         work: String): (Map[String, Double], Int) = {
    val e = graft.queries.Queries.t(spark, dir, "embeddings")
    def pairs(df: org.apache.spark.sql.DataFrame) =
      df.select(col("qid"), col("nid")).collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val truth = pairs(Similarity.bruteForceTopK(e, e, "vec_id", "embedding", k))
    def rec(s: Set[(Long, Long)]) = (truth & s).size.toDouble / truth.size
    val recalls = Map(
      "lsh" -> rec(pairs(Similarity.lshTopK(e, "vec_id", "embedding", 64, k,
        planes = 5, tables = 6))),
      "ivf" -> rec(pairs(Similarity.ivfTopK(e, "vec_id", "embedding", 64, k,
        nlist = 16, nprobe = 8))),
      "ivf_int8" -> rec(pairs(Similarity.ivfTopKInt8(e, "vec_id", "embedding", 64, k,
        nlist = 16, nprobe = 8))),
      "ivf_pq" -> rec(pairs(Similarity.ivfPqTopK(e, "vec_id", "embedding", 64, k,
        nlist = 16, nprobe = 8, m = 16, ksub = 32, rerankFactor = 24,
        rerankFrac = 0.2))),
      "binary" -> rec(pairs(Similarity.binaryTopK(e, e, "vec_id", "embedding", 64, k,
        rerank = 96, rerankFrac = 0.2))),
      "ivf_loaded" -> {
        // the persisted-index path (q_llm_ann_persist): fit once to a
        // stamped artifact, probe through the verified load — gated at
        // the same floor as the fit it must row-match
        val tbl = s"$dir/embeddings.parquet"
        val idx = s"$work/ivf_idx"
        graft.ops.AnnIndex.writeIvfIndex(spark, e, tbl, idx, "vec_id", "embedding",
          dims = 64, nlist = 16)
        rec(pairs(graft.ops.AnnIndex.ivfLookupIndexed(spark, e, tbl, idx,
          k, nprobe = 8, excludeSelf = true)))
      },
      "lsh_loaded" -> {
        // the persisted-LSH path (q_llm_ann_lsh_persist_check pins it
        // row-exact vs lshTopK; this row gates its recall like the rest)
        val tbl = s"$dir/embeddings.parquet"
        val idx = s"$work/lsh_idx"
        graft.ops.AnnIndex.writeLshIndex(spark, e, tbl, idx, "vec_id", "embedding",
          dims = 64, planes = 5, tables = 6)
        rec(pairs(graft.ops.AnnIndex.lshTopKIndexed(spark, e, tbl, idx, k)))
      })
    (recalls, truth.size)
  }

  def main(args: Array[String]): Unit = {
    if (args.headOption.contains("--artifact")) { artifact(args(1), args.drop(2).toIndexedSeq); return }
    val dir = if (args.nonEmpty) args(0) else "/root/testdata/sf0.001"
    val spark = SessionRecipe.local("8", "ERROR")
    val e = graft.queries.Queries.t(spark, dir, "embeddings")
    val k = 3
    def pairs(df: org.apache.spark.sql.DataFrame) =
      df.select(col("qid"), col("nid")).collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val truth = pairs(Similarity.bruteForceTopK(e, e, "vec_id", "embedding", k))
    def rec(s: Set[(Long, Long)]) = (truth & s).size.toDouble / truth.size
    val (h, n) = headline(spark, dir, k)
    println(f"RECALL lsh=${h("lsh")}%.3f ivf=${h("ivf")}%.3f ivf_int8=${h("ivf_int8")}%.3f ivf_pq=${h("ivf_pq")}%.3f binary=${h("binary")}%.3f ivf_loaded=${h("ivf_loaded")}%.3f lsh_loaded=${h("lsh_loaded")}%.3f n=$n")
    // config sweep for the recall/candidate-volume tradeoff table
    for ((t, mp, pl) <- Seq((1, true, 6), (2, true, 6), (4, false, 6), (4, true, 6),
                            (6, true, 6), (8, true, 6), (6, true, 7), (4, true, 5))) {
      val r = rec(pairs(Similarity.lshTopK(e, "vec_id", "embedding", 64, k,
        planes = pl, multiProbe = mp, tables = t)))
      println(f"RECALL_SWEEP tables=$t%d multiProbe=$mp%s planes=$pl%d recall=$r%.3f")
    }
    for ((nl, np) <- Seq((8, 2), (8, 3), (8, 4), (8, 5), (8, 6), (12, 4), (12, 6),
                         (12, 7), (16, 4), (16, 6), (16, 8), (16, 10))) {
      val r = rec(pairs(Similarity.ivfTopK(e, "vec_id", "embedding", 64, k,
        nlist = nl, nprobe = np)))
      println(f"RECALL_SWEEP ivf nlist=$nl%d nprobe=$np%d recall=$r%.3f")
    }
    for ((mm, ks, rf) <- Seq((8, 16, 4), (8, 16, 8), (8, 16, 16), (8, 32, 8),
                             (16, 16, 8), (16, 32, 8), (16, 16, 16), (16, 32, 16))) {
      val r = rec(pairs(Similarity.ivfPqTopK(e, "vec_id", "embedding", 64, k,
        nlist = 8, nprobe = 4, m = mm, ksub = ks, rerankFactor = rf)))
      println(f"RECALL_SWEEP pq m=$mm%d ksub=$ks%d rerank=$rf%d recall=$r%.3f")
    }
    for (rf <- Seq(24, 48, 64, 96, 128, 192)) {
      val r = rec(pairs(Similarity.binaryTopK(e, e, "vec_id", "embedding", 64, k, rerank = rf)))
      println(f"RECALL_SWEEP binary rerank=$rf%d recall=$r%.3f")
    }
    spark.stop()
  }

  /** Write the per-round recall artifact over the given SF dirs. */
  def artifact(outPath: String, dirs: Seq[String]): Unit = {
    val spark = SessionRecipe.local("8", "ERROR")
    val k = 3
    val perSf = dirs.map { dir =>
      val (h, n) = headline(spark, dir, k)
      val sfName = dir.split("/").last
      println(s"RECALL $sfName " + h.toSeq.sortBy(_._1)
        .map { case (p, r) => f"$p=$r%.3f" }.mkString(" ") + s" n=$n")
      val fields = h.toSeq.sortBy(_._1)
        .map { case (p, r) => s""""$p":${f"$r%.4f"}""" }.mkString(",")
      val ok = h.values.forall(_ >= floor)
      (sfName, s""""$sfName":{$fields,"n_truth":$n,"pass":$ok}""", ok)
    }
    val allPass = perSf.forall(_._3)
    val json =
      s"""{"k":$k,"floor":$floor,"paths":["binary","ivf","ivf_int8","ivf_loaded","ivf_pq","lsh","lsh_loaded"],""" +
        s""""sfs":{${perSf.map(_._2).mkString(",")}},"all_pass":$allPass}"""
    java.nio.file.Files.write(java.nio.file.Paths.get(outPath),
      json.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    println(s"RECALL_ARTIFACT $outPath all_pass=$allPass")
    spark.stop()
  }
}
