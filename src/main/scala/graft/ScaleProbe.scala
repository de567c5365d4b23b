package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.ops.{Clusters, Dedup, Layout, Similarity}

/**
 * Empirical scaling probe for the top-cost operator families: run each
 * at the base SF and at an N×-synthesized corpus, exclusively, and
 * report the time ratio. The 100 TB arguments elsewhere in this repo
 * are plan-shape arguments (bounded buckets, no cartesians, metadata-
 * scale collects); this probe grounds them with one measured curve —
 * a family whose ratio grows far beyond the corpus ratio has a hidden
 * superlinear term the plan inspection missed.
 *
 * Corpus synthesis (deterministic, no RNG): `factor` copies of the
 * base tables with id offsets. Document copies get copy-specific
 * tokens appended (fresh NEAR-dups of their originals — realistic
 * verdict/pair load for the dedup families, not degenerate identical
 * signatures); embedding copies get a copy-scaled nudge on dimension 0
 * (distinct vectors, same geometry); events copy verbatim under new
 * ids (bloom-index load is file-count-shaped).
 *
 * Operating points are the benched production ones. ONE deliberate
 * exception: IVF cell count scales with the corpus (nlist 16 at base,
 * 16·factor at N×, nprobe fixed) — the deployment recipe that keeps
 * per-query candidate volume constant; holding nlist fixed while N
 * grows makes candidate volume O(N²/nlist), which is a CONFIG error
 * at scale, not an engine property. Both configs are reported.
 *
 * Usage: ScaleProbe [baseSfDir] [factor] [outJson]
 */
object ScaleProbe {

  private[graft] def copies(df: DataFrame, factor: Int): Seq[(Int, DataFrame)] =
    (0 until factor).map(c => c -> df)

  def synthDocuments(base: DataFrame, factor: Int): DataFrame =
    copies(base, factor).map { case (c, df) =>
      if (c == 0) df
      else df
        .withColumn("doc_id", col("doc_id") + lit(c.toLong * 100000000L))
        // two appended copy-tokens: signatures differ per copy, but
        // shingle overlap with the original stays near 1 — a planted
        // near-dup family of size `factor` per base doc
        .withColumn("text", concat(col("text"),
          lit(s" zqcopytok${c}a zqcopytok${c}b")))
    }.reduce(_ unionByName _)

  def synthEmbeddings(base: DataFrame, factor: Int): DataFrame =
    copies(base, factor).map { case (c, df) =>
      if (c == 0) df
      else df
        .withColumn("vec_id", col("vec_id") + lit(c.toLong * 100000000L))
        .withColumn("embedding", expr(
          s"transform(embedding, (x, i) -> CAST(CASE WHEN i = 0 THEN x + ${c}e0 * 0.001e0 ELSE x END AS FLOAT))"))
    }.reduce(_ unionByName _)

  def synthEvents(base: DataFrame, factor: Int): DataFrame =
    copies(base, factor).map { case (c, df) =>
      if (c == 0) df
      else df
        .withColumn("event_id", col("event_id") + lit(c.toLong * 100000000L))
        .withColumn("user_id", col("user_id") + lit(c.toLong * 100000000L))
    }.reduce(_ unionByName _)

  /** The q_llm_incr_neardup_chain_x64 lifecycle over an arbitrary
    * documents relation (3 batches by doc_id mod 3). Shared with
    * [[ScaleProbeCc]]'s pair-volume-controlled second-decade probe. */
  private[graft] def nearDupChain(docs: DataFrame): DataFrame =
    Dedup.nearDupChain(nearDupSteps(docs))

  private[graft] def nearDupSteps(docs: DataFrame): Iterator[Dedup.NearDupStep] =
    Dedup.nearDupSteps(Seq(0, 1, 2).map(m => Dedup.minhashSignatures(
        docs.filter(col("doc_id") % 3 === m), "doc_id", "text",
        shingleSize = 5, numHashes = 16)),
      numHashes = 16, bands = 4, threshold = 0.5)

  /** Runs `body` on a fresh work dir `<prefix>…` under `java.io.tmpdir`
    * and deletes the dir with its contents afterwards. Not a
    * [[graft.ops.CachedRelations.tempDir]]: the probes call `releaseAll`
    * between timings, which would delete their inputs mid-run. */
  private[graft] def withWorkDir[T](prefix: String)(body: String => T): T = {
    val work = java.nio.file.Files.createTempDirectory(prefix).toFile
    try body(work.getAbsolutePath) finally graft.io.Writers.deleteTree(work)
  }

  def main(args: Array[String]): Unit = {
    val baseDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val factor = args.lift(1).map(_.toInt).getOrElse(10)
    val outJson = args.lift(2).getOrElse("SCALE_PROBE.json")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SessionRecipe.local(cpus, "WARN")
    spark.range(1000000).selectExpr("sum(id)").collect() // session warmup

    withWorkDir(s"graft_scale_probe_${factor}x") { work =>
      // materialize BOTH scales to parquet so every probe starts from the
      // same kind of scan (synthesis cost is excluded from timings)
      def t(name: String) = graft.queries.Queries.t(spark, baseDir, name)
      synthDocuments(t("documents"), factor).write.parquet(s"$work/documents")
      synthEmbeddings(t("embeddings"), factor).write.parquet(s"$work/embeddings")
      synthEvents(t("events"), factor).write.parquet(s"$work/events")
      def big(name: String) = spark.read.parquet(s"$work/$name")
      val nDocs = (big("documents").count(), t("documents").count())
      val nVecs = (big("embeddings").count(), t("embeddings").count())
      val nEvts = (big("events").count(), t("events").count())
      println(s"[probe] synthesized ${factor}x: docs=${nDocs._1} vecs=${nVecs._1} events=${nEvts._1}")

      def time(fn: => DataFrame): Double = {
        val t0 = System.nanoTime()
        try fn.write.format("noop").mode("overwrite").save()
        finally graft.ops.CachedRelations.releaseAll()
        (System.nanoTime() - t0) / 1e9
      }
      /** min of `passes` exclusive runs (JIT-warm engine truth, the
        * committed-bench convention). */
      def best(passes: Int)(fn: => DataFrame): Double =
        (0 until passes).map(_ => time(fn)).min

      val results = scala.collection.mutable.LinkedHashMap.empty[String, (Double, Double)]
      // local-iteration filter, like Verify's SPARK_GRAFT_ONLY (the
      // driver never sets it; the committed artifact is one full run)
      val onlyProbes = sys.env.get("SPARK_GRAFT_PROBE_ONLY")
        .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
      // a filtered run must not silently clobber a full-run artifact —
      // its JSON would be missing every other op's row yet look complete
      val effOutJson =
        if (onlyProbes.isDefined) {
          val p = if (outJson.endsWith(".json"))
            outJson.stripSuffix(".json") + "_partial.json"
          else outJson + "_partial"
          println(s"[probe] SPARK_GRAFT_PROBE_ONLY set — writing $p, not $outJson")
          p
        } else outJson
      def probe(op: String)(base: => DataFrame)(scaled: => DataFrame): Unit = {
        if (!onlyProbes.forall(_(op))) return
        val t1 = best(2)(base)
        val tN = best(2)(scaled)
        results(op) = (t1, tN)
        println(f"[probe] $op%-22s base=$t1%8.2fs ${factor}x=$tN%8.2fs ratio=${tN / t1}%6.2f")
      }
      /** Unit-thunk variant for side-effecting legs (index builds). */
      def probeU(op: String)(base: => Unit)(scaled: => Unit): Unit = {
        if (!onlyProbes.forall(_(op))) return
        def timeU(fn: => Unit): Double = {
          val t0 = System.nanoTime()
          try fn finally graft.ops.CachedRelations.releaseAll()
          (System.nanoTime() - t0) / 1e9
        }
        val t1 = (0 until 2).map(_ => timeU(base)).min
        val tN = (0 until 2).map(_ => timeU(scaled)).min
        results(op) = (t1, tN)
        println(f"[probe] $op%-22s base=$t1%8.2fs ${factor}x=$tN%8.2fs ratio=${tN / t1}%6.2f")
      }

      probe("exact_substr") {
        Dedup.exactSubstrDedup(t("documents"), "doc_id", "text",
          windowTokens = 30, rollingFp = true)
      } {
        Dedup.exactSubstrDedup(big("documents"), "doc_id", "text",
          windowTokens = 30, rollingFp = true)
      }

      probe("incr_neardup_chain") {
        nearDupChain(t("documents"))
      } {
        nearDupChain(big("documents"))
      }

      probe("cc_star") {
        Clusters.connectedComponentsStar(
          Dedup.minhashNearDupPairs(t("documents"), "doc_id", "text",
            shingleSize = 5, numHashes = 16, bands = 4, threshold = 0.5),
          "id_a", "id_b")
      } {
        Clusters.connectedComponentsStar(
          Dedup.minhashNearDupPairs(big("documents"), "doc_id", "text",
            shingleSize = 5, numHashes = 16, bands = 4, threshold = 0.5),
          "id_a", "id_b")
      }

      // IVF: cells scale with the corpus (constant nprobe, constant
      // expected candidates per query) — the deployment recipe
      probe("ann_ivf_scaled_cells") {
        Similarity.ivfTopK(t("embeddings"), "vec_id", "embedding",
          dims = 64, k = 3, nlist = 16, nprobe = 8)
      } {
        Similarity.ivfTopK(big("embeddings"), "vec_id", "embedding",
          dims = 64, k = 3, nlist = 16 * factor, nprobe = 8)
      }
      // …and the config error for contrast: fixed cells at N× means each
      // query probes nprobe/nlist of a factor× corpus — O(N²) candidates
      probe("ann_ivf_fixed_cells") {
        Similarity.ivfTopK(t("embeddings"), "vec_id", "embedding",
          dims = 64, k = 3, nlist = 16, nprobe = 8)
      } {
        Similarity.ivfTopK(big("embeddings"), "vec_id", "embedding",
          dims = 64, k = 3, nlist = 16, nprobe = 8)
      }

      // LSH self-join top-k (r17): bucket occupancy at FIXED planes grows
      // with corpus density, so candidate pairs grow ~quadratically —
      // the deployment recipe scales planes with log2(corpus ratio) to
      // keep expected bucket occupancy (and per-query candidates)
      // constant, exactly the nlist-scaling discipline above. Both
      // configs recorded for contrast.
      probe("ann_lsh_scaled_planes") {
        Similarity.lshTopK(t("embeddings"), "vec_id", "embedding",
          dims = 64, k = 3, planes = 5, tables = 6)
      } {
        // 10x corpus: +ceil(log2(10)) ≈ +3 plane bits keeps occupancy flat
        Similarity.lshTopK(big("embeddings"), "vec_id", "embedding",
          dims = 64, k = 3,
          planes = 5 + (math.log(factor) / math.log(2)).ceil.toInt, tables = 6)
      }
      probe("ann_lsh_fixed_planes") {
        Similarity.lshTopK(t("embeddings"), "vec_id", "embedding",
          dims = 64, k = 3, planes = 5, tables = 6)
      } {
        Similarity.lshTopK(big("embeddings"), "vec_id", "embedding",
          dims = 64, k = 3, planes = 5, tables = 6)
      }

      // n-gram LM perplexities (r12 second sitting): the three-rung
      // Stupid Backoff fit is the most expensive new benched row — its
      // corpus-volume stages are the unigram/bigram/trigram count
      // shuffles, all map-side combined, so the curve should track the
      // corpus ratio (linear), never above it
      probe("sb_ppl") {
        graft.ops.TextAnalysis.stupidBackoffLogProb(t("documents"), "doc_id", "text")
      } {
        graft.ops.TextAnalysis.stupidBackoffLogProb(big("documents"), "doc_id", "text")
      }
      probe("kn_ppl") {
        graft.ops.TextAnalysis.kneserNeyLogProb(t("documents"), "doc_id", "text")
      } {
        graft.ops.TextAnalysis.kneserNeyLogProb(big("documents"), "doc_id", "text")
      }
      // modified-KN trigram (r13): same map-side-combined n-gram count
      // shuffles as sb_ppl plus type-volume discount tables — the curve
      // should sit between sb_ppl's and kn_ppl's
      probe("mkn_ppl") {
        graft.ops.TextAnalysis.modifiedKneserNeyLogProb(t("documents"), "doc_id", "text")
      } {
        graft.ops.TextAnalysis.modifiedKneserNeyLogProb(big("documents"), "doc_id", "text")
      }

      // WordPiece fertility: corpus-volume stage is the one (source,
      // word) count shuffle; training and greedy encoding ride on the
      // vocabulary relation, which the synthesis grows only by the
      // planted copy-tokens — the ratio should sit WELL below the
      // corpus ratio
      probe("wordpiece_fertility") {
        val docs = t("documents")
        val vocab = graft.ops.Tokenizer.wordpieceVocabFrom(docs, "text", numMerges = 40)
        graft.ops.Tokenizer.wordpieceFertility(docs, "text", "source", vocab)
      } {
        val docs = big("documents")
        val vocab = graft.ops.Tokenizer.wordpieceVocabFrom(docs, "text", numMerges = 40)
        graft.ops.Tokenizer.wordpieceFertility(docs, "text", "source", vocab)
      }

      // bloom side-index lifecycle, DECOMPOSED (r13 verdict ask 2): the
      // old single lifecycle row conflated the one-time index BUILD (a
      // corpus scan + per-file sketches — corpus-linear by design, paid
      // once per table version) with the steady-state PROBE (stamp
      // verify + metadata-scale pruning + a pruned scan — the amortized
      // path every lookup pays), and graded 2.38x at 10x, which is the
      // build's scan slope, not the probe's cost. The tables are staged
      // OUTSIDE the timed region (like the corpus parquet itself).
      val bloomDir1 = s"$work/bloom1x"
      val bloomDirN = s"$work/bloom${factor}x"
      t("events").select(col("event_id"), col("user_id"), col("value"))
        .repartition(8, col("user_id")).write.mode("overwrite").parquet(s"$bloomDir1/tbl")
      big("events").select(col("event_id"), col("user_id"), col("value"))
        .repartition(8 * factor, col("user_id")).write.mode("overwrite").parquet(s"$bloomDirN/tbl")
      probeU("bloom_index_build") {
        Layout.writeBloomIndex(spark, s"$bloomDir1/tbl", s"$bloomDir1/idx", "user_id",
          itemsPerFile = 100000L, fpp = 0.01)
      } {
        Layout.writeBloomIndex(spark, s"$bloomDirN/tbl", s"$bloomDirN/idx", "user_id",
          itemsPerFile = 100000L, fpp = 0.01)
      }
      probe("bloom_index_probe") {
        Layout.bloomPrunedRead(spark, s"$bloomDir1/tbl", s"$bloomDir1/idx", "user_id",
          Seq(7L, 19L, 42L))
      } {
        Layout.bloomPrunedRead(spark, s"$bloomDirN/tbl", s"$bloomDirN/idx", "user_id",
          Seq(7L, 19L, 42L))
      }

      val fields = results.map { case (op, (t1, tN)) =>
        f""""$op":{"base_sec":$t1%.3f,"${factor}x_sec":$tN%.3f,"ratio":${tN / t1}%.2f}"""
      }.mkString(",")
      val json = s"""{"base_sf":"$baseDir","factor":$factor,""" +
        s""""rows":{"documents":${nDocs._1},"embeddings":${nVecs._1},"events":${nEvts._1}},""" +
        s""""ops":{$fields}}"""
      java.nio.file.Files.write(java.nio.file.Paths.get(effOutJson),
        json.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      println(s"SCALE_PROBE $effOutJson")
    }
    spark.stop()
  }
}

/**
 * Second-decade probe for star-CC — the steepest r12 production curve
 * (3.31× at 10×). That 10× number conflates two things the main
 * probe's synthesis cannot separate: corpus growth AND near-dup
 * FAMILY growth — [[ScaleProbe.synthDocuments]] at factor f plants
 * families of size f, so the LSH pair volume (and thus cc_star's edge
 * input) grows ~f²/2 per base doc by CONSTRUCTION of the test data,
 * not by any property of the engine. A real corpus 100× larger does
 * not have 100×-larger duplicate families; it has 100× MORE families
 * of bounded size.
 *
 * This probe controls pair volume the way a real corpus does:
 * [[synthPairedFamilies]] grows the corpus with SIZE-2 near-dup
 * families (each copy-pair shares group-salted tokens, disjoint from
 * the base doc and every other group), so edge volume stays LINEAR in
 * the factor, and measures cc_star at 1× / 10× / 100× of an sf0.01
 * base — two full decades, ~5k → ~500k docs. The operating-point
 * recipe this validates (recorded in BASELINE.md): keep dup-family
 * pair volume bounded by the near-dup definition itself (banded LSH
 * with `maxBucketSize`), and star-CC's cost tracks EDGES — linear in
 * corpus size for bounded families at any scale.
 *
 * Usage: ScaleProbeCc [baseSfDir] [outJson]  (factors fixed 10, 100)
 */
object ScaleProbeCc {
  import ScaleProbe.{copies, withWorkDir}

  /** [[ScaleProbe.nearDupChain]] with a stopwatch around each
    * [[Dedup.nearDupStep]] call (r15 verdict ask 3): the chain's second
    * decade ran 1.67× under linear edges while cc_star sat at 1.19 on
    * the same families, so the superlinear term lives in the chain's
    * own structure — this names it. `step_b<b>` times taking batch b's
    * step from [[Dedup.nearDupSteps]]: staging the previous step's
    * verdicts and next state (b > 0), staging batch b's signatures, and
    * its screen, whose connected-components engine runs eagerly at
    * definition time. `output` writes the tagged verdicts, which runs
    * the last batch's lazy screen. The keys sum to ~the one-shot run. */
  private[graft] def chainStaged(docs: DataFrame): Seq[(String, Double)] = {
    val out = scala.collection.mutable.LinkedHashMap.empty[String, Double]
    def timed[T](name: String)(f: => T): T = {
      val t0 = System.nanoTime(); val r = f
      out(name) = (System.nanoTime() - t0) / 1e9
      r
    }
    val it = ScaleProbe.nearDupSteps(docs)
    val steps = Seq(0, 1, 2).map(b => timed(s"step_b$b")(it.next()))
    timed("output") {
      Dedup.nearDupChain(steps).write.format("noop").mode("overwrite").save()
    }
    graft.ops.CachedRelations.releaseAll()
    out.toSeq
  }

  /** Corpus growth with CONSTANT-SIZE near-dup families: copies 2k-1
    * and 2k form group k — every token is REWRITTEN to a hash of
    * (group, token), so within a group the corpus's token-level
    * similarity structure is preserved (same token → same hash) while
    * against the base doc and every other group the texts share
    * nothing. Each copy appends one distinct tail token (near-dup
    * WITHIN its group pair, not identical). A constant group PREFIX
    * would not work here: the MinHash shingles are character 5-grams,
    * and a salt repeated at every token head hands every doc in the
    * group the same dominant shingle set — the first sitting of this
    * probe measured exactly that as a ~500k-edges-per-group clique.
    * Hashing per (group, token) keeps pair volume LINEAR in the
    * factor, like a real corpus whose dup families have bounded size. */
  def synthPairedFamilies(base: DataFrame, factor: Int): DataFrame =
    copies(base, factor).map { case (c, df) =>
      if (c == 0) df
      else {
        val g = (c + 1) / 2
        df.withColumn("doc_id", col("doc_id") + lit(c.toLong * 100000000L))
          .withColumn("text", concat(
            expr(s"array_join(transform(split(text, '\\\\s+'), " +
              s"t -> substring(md5(concat('zq${g}g', t)), 1, 8)), ' ')"),
            lit(s" zqcopy${c}tail")))
      }
    }.reduce(_ unionByName _)

  def main(args: Array[String]): Unit = {
    val baseDir = args.headOption.getOrElse("/root/testdata/sf0.01")
    val outJson = args.lift(1).getOrElse("SCALE_PROBE_CC.json")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SessionRecipe.local(cpus, "WARN")
    spark.range(1000000).selectExpr("sum(id)").collect()

    withWorkDir("graft_scale_probe_cc") { work =>
      val base = graft.queries.Queries.t(spark, baseDir, "documents")
      base.write.parquet(s"$work/d1")
      synthPairedFamilies(base, 10).write.parquet(s"$work/d10")
      synthPairedFamilies(base, 100).write.parquet(s"$work/d100")

      def ccStar(path: String): DataFrame =
        Clusters.connectedComponentsStar(
          Dedup.minhashNearDupPairs(spark.read.parquet(path), "doc_id", "text",
            shingleSize = 5, numHashes = 16, bands = 4, threshold = 0.5),
          "id_a", "id_b")
      def time(fn: => DataFrame): Double = {
        val t0 = System.nanoTime()
        try fn.write.format("noop").mode("overwrite").save()
        finally graft.ops.CachedRelations.releaseAll()
        (System.nanoTime() - t0) / 1e9
      }
      def best(fn: => DataFrame): Double = (0 until 2).map(_ => time(fn)).min

      val counts = Seq("d1", "d10", "d100")
        .map(d => d -> spark.read.parquet(s"$work/$d").count()).toMap
      // pair volume per decade — the controlled variable, reported so
      // the curve is interpretable (edges must grow ~linearly)
      val edges = Seq("d1", "d10", "d100").map { d =>
        d -> Dedup.minhashNearDupPairs(spark.read.parquet(s"$work/$d"),
          "doc_id", "text", shingleSize = 5, numHashes = 16, bands = 4,
          threshold = 0.5).count()
      }.toMap
      graft.ops.CachedRelations.releaseAll()
      // two decade curves under the same controlled pair volume: star-CC
      // (the r13 probe) and the 3-version incremental near-dup chain
      // (r14 verdict ask 6 — its main-probe 1.87x at 10x conflates state
      // growth with the synthesis's f-sized dup families exactly like
      // cc_star's 1.92x did; bounded families attribute the curve)
      val ops = Seq[(String, String => DataFrame)](
        "cc_star_paired_families" -> ccStar,
        "incr_neardup_chain_paired_families" ->
          (path => ScaleProbe.nearDupChain(spark.read.parquet(path))))
      val opsJson = ops.map { case (name, fn) =>
        val t1 = best(fn(s"$work/d1"))
        val t10 = best(fn(s"$work/d10"))
        val t100 = best(fn(s"$work/d100"))
        println(f"[probe-cc] $name%-36s 1x=$t1%.2fs 10x=$t10%.2fs 100x=$t100%.2fs " +
          f"decade1=${t10 / t1}%.2f decade2=${t100 / t10}%.2f")
        f""""$name":{"sec":{"1x":$t1%.3f,"10x":$t10%.3f,"100x":$t100%.3f},""" +
          f""""decade_ratios":{"d1":${t10 / t1}%.2f,"d2":${t100 / t10}%.2f}}"""
      }.mkString(",")
      // STAGE decomposition of the chain (r15 verdict ask 3): per-stage
      // min of 2 staged runs per decade — the per-stage decade ratios
      // name the superlinear term the conflated 1.67x hid
      val stagesByScale = Seq("d1", "d10", "d100").map { d =>
        val runs = (0 until 2).map(_ => chainStaged(spark.read.parquet(s"$work/$d")))
        val order = runs.head.map(_._1)
        d -> order.map(n => n -> runs.map(_.toMap.apply(n)).min)
      }.toMap
      Seq("d1", "d10", "d100").foreach { d =>
        println(s"[probe-cc] chain stages $d: " + stagesByScale(d)
          .map { case (n, t) => f"$n=$t%.2fs" }.mkString(" "))
      }
      val stageJson = stagesByScale("d1").map(_._1).map { n =>
        val (t1, t10, t100) = (stagesByScale("d1").toMap.apply(n),
          stagesByScale("d10").toMap.apply(n), stagesByScale("d100").toMap.apply(n))
        f""""$n":{"sec":{"1x":$t1%.3f,"10x":$t10%.3f,"100x":$t100%.3f},""" +
          f""""decade_ratios":{"d1":${t10 / t1}%.2f,"d2":${t100 / t10}%.2f}}"""
      }.mkString(",")
      val json = f"""{"base_sf":"$baseDir",""" +
        f""""docs":{"1x":${counts("d1")},"10x":${counts("d10")},"100x":${counts("d100")}},""" +
        f""""edges":{"1x":${edges("d1")},"10x":${edges("d10")},"100x":${edges("d100")}},""" +
        f""""ops":{$opsJson},"chain_stages":{$stageJson}}"""
      java.nio.file.Files.write(java.nio.file.Paths.get(outJson),
        json.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      println(s"SCALE_PROBE_CC $outJson")
    }
    spark.stop()
  }
}
