package graft.cli

import org.apache.spark.sql.SparkSession

/**
 * Table- and artifact-maintenance CLI — the operational face of
 * [[graft.ops.Layout]], [[graft.ops.AnnIndex]], [[graft.ops.LmIndex]],
 * and [[graft.ops.TokenizerIndex]]. The playbook surface can WRITE
 * physically-laid-out tables (bucketBy/zorderBy/bloomIndexBy in the
 * destination config); this is the counterpart a data platform runs on
 * a SCHEDULE, from a shell: small-file compaction (with automatic side-
 * index rebuild), Z-order re-clustering, bloom side-index build/verify —
 * and, since r16, the persisted-artifact lifecycle the 100 TB posture
 * actually operates on: append a delta corpus to an ANN index or an LM
 * model, compact an index's accumulated append files, and verify any
 * artifact's coherence stamp (plus fertility-drift telemetry for
 * tokenizers) — no Scala required.
 *
 * Beyond-reference surface (the reference has no table-layout or
 * artifact-lifecycle story); every command delegates to the same
 * operators the oracled queries and specs pin.
 *
 * {{{
 * graft.cli.Maintain compact      -path DIR -target-bytes N [-small-bytes N]
 * graft.cli.Maintain zorder       -in DIR -out DIR -by c1,c2 [-bits N] [-files N]
 * graft.cli.Maintain bloom-index  -path DIR -column C [-index DIR] [-items N] [-fpp F]
 * graft.cli.Maintain verify-index -path DIR -column C [-index DIR]
 * graft.cli.Maintain ann-build    -table DIR -index DIR -kind K -id C -vec C -dims N …
 * graft.cli.Maintain ann-append   -table DIR -index DIR -delta DIR
 * graft.cli.Maintain ann-compact  -table DIR -index DIR
 * graft.cli.Maintain ann-verify   -table DIR -index DIR
 * graft.cli.Maintain lm-build     -train DIR -index DIR -id C -text C
 * graft.cli.Maintain lm-append    -train DIR -index DIR -delta DIR -id C -text C
 * graft.cli.Maintain lm-verify    -train DIR -index DIR
 * graft.cli.Maintain tok-build    -train DIR -index DIR -family F -text C -param N
 * graft.cli.Maintain tok-verify   -train DIR -index DIR [-probe DIR] [-drift-band-pct N]
 * }}}
 *
 * Exit codes: 0 ok, 1 operation refused or failed (stale stamp, drift
 * refusal, swap failure — the message is the operator's own precise
 * reason incl. the rebuild hint), 2 usage. Refusals are printed
 * verbatim: the operator reading a cron log at 3am gets the same
 * "rebuild with …" hint the Scala caller gets.
 */
object Maintain {

  val usage: String =
    """usage: graft.cli.Maintain <command> [options]
      |
      | table layout
      |  compact      -path DIR -target-bytes N [-small-bytes N]
      |               merge adjacent small files into ~target-size bins
      |               (crash-safe journaled swap; stamped bloom side
      |               indexes under <path>_bloomidx_* are rebuilt)
      |  zorder       -in DIR -out DIR -by c1,c2 [-bits N] [-files N]
      |               write a Z-order-clustered copy of a table
      |  bloom-index  -path DIR -column C [-index DIR] [-items N] [-fpp F]
      |               build/rebuild the per-file bloom side index
      |               (default index path: <path>_bloomidx_<column>)
      |  verify-index -path DIR -column C [-index DIR]
      |               check the side index is coherent with the live
      |               table; prints the stamp, exit 1 if stale
      |
      | ANN index lifecycle (kinds: ivf | pq | binary | lsh)
      |  ann-build    -table DIR -index DIR -kind K -id COL -vec COL -dims N
      |               [-nlist N] [-m N] [-ksub N] [-planes N] [-tables N]
      |               fit + stamp a persisted ANN index of the table
      |  ann-append   -table DIR -index DIR -delta DIR [-kind K]
      |               append a delta table to a stamped index (kind read
      |               from the stamp when -kind is absent); refuses on
      |               drift / re-append / missing stamp with exit 1
      |  ann-compact  -table DIR -index DIR [-kind K]
      |               rewrite append-accumulated code files (one file per
      |               cell for ivf/pq; bytes-sized coalesce for binary/lsh)
      |  ann-verify   -table DIR -index DIR [-kind K]
      |               check stamp vs the live table and every appended
      |               part; prints the stamp, exit 1 if stale
      |
      | LM artifact lifecycle (mkn3)
      |  lm-build     -train DIR -index DIR -id COL -text COL
      |               fit + stamp the persisted mkn3 model
      |  lm-append    -train DIR -index DIR -delta DIR -id COL -text COL
      |               count-merge a delta corpus into the model
      |               (appended == refit exactly); exit 1 on refusal
      |  lm-verify    -train DIR -index DIR [-text COL]
      |               check stamp vs train table and appended parts
      |
      | tokenizer artifacts (families: bpe | bbpe | wordpiece | unigram)
      |  tok-build    -train DIR -index DIR -family F -text COL -param N
      |               train + stamp (param = numMerges / vocabSize);
      |               stamps fit-time fertility for drift telemetry
      |  tok-verify   -train DIR -index DIR [-family F] [-text COL]
      |               [-probe DIR] [-drift-band-pct N]
      |               check the stamp; with -probe, also measure the
      |               probe corpus's fertility against the stamped
      |               fit-time value and WARN past the band (default
      |               25%) — telemetry, still exit 0 (a drifted corpus
      |               is a fact about the data, not artifact corruption)
      |""".stripMargin

  def main(argv: Array[String]): Unit = {
    if (argv.isEmpty || argv(0) == "-help" || argv(0) == "--help") {
      println(usage); return
    }
    val spark = graft.SessionRecipe.cli("graft-maintain", "WARN")
    val rc =
      try run(spark, argv(0), parseOpts(argv.drop(1).toList))
      finally spark.stop()
    if (rc != 0) sys.exit(rc)
  }

  private def parseOpts(args: List[String]): Map[String, String] = args match {
    case key :: value :: rest if key.startsWith("-") =>
      parseOpts(rest) + (key.stripPrefix("-") -> value)
    case Nil => Map.empty
    case bad :: _ => throw new IllegalArgumentException(s"unexpected argument '$bad'")
  }

  /** Operation-refusal boundary shared by the artifact commands: the
    * operators refuse with IllegalState/IllegalArgument (stale stamp,
    * drift, re-append, wrong kind) and fail transiently with
    * IOException (swap could not complete — the message says what to
    * restore or that a plain retry heals). All map to exit 1 with the
    * operator's own message verbatim. */
  private def refusing(body: => Int): Int =
    try body catch {
      case e @ (_: IllegalStateException | _: IllegalArgumentException) =>
        System.err.println(s"[maintain] REFUSED: ${e.getMessage}"); 1
      case e: java.io.IOException =>
        System.err.println(s"[maintain] FAILED: ${e.getMessage}"); 1
    }

  /** Testable core: returns the exit code instead of exiting. */
  def run(spark: SparkSession, command: String, opts: Map[String, String]): Int = {
    def req(k: String): Option[String] = {
      val v = opts.get(k)
      if (v.isEmpty) System.err.println(s"[maintain] $command: missing -$k\n$usage")
      v
    }
    try command match {
      case "compact" =>
        (req("path"), req("target-bytes")) match {
          case (Some(path), Some(target)) =>
            val stats = graft.ops.Layout.compactFiles(spark, path,
              targetBytes = target.toLong,
              smallBytes = opts.get("small-bytes").map(_.toLong).getOrElse(Long.MaxValue))
            println(s"[maintain] compact $path: bins=${stats.binsCompacted} " +
              s"removed=${stats.filesRemoved} written=${stats.filesWritten} " +
              s"indexes_rebuilt=${stats.indexesRebuilt}")
            0
          case _ => 2
        }
      case "zorder" =>
        (req("in"), req("out"), req("by")) match {
          case (Some(in), Some(out), Some(by)) =>
            val dims = by.split(",").map(_.trim).filter(_.nonEmpty).toSeq
            val df = spark.read.parquet(in)
            graft.ops.Layout.writeClustered(df, out, dims,
              bits = opts.get("bits").map(_.toInt).getOrElse(16),
              files = opts.get("files").map(_.toInt).getOrElse(0))
            println(s"[maintain] zorder $in -> $out on ${dims.mkString(",")}")
            0
          case _ => 2
        }
      case "bloom-index" =>
        (req("path"), req("column")) match {
          case (Some(path), Some(column)) =>
            val index = opts.getOrElse("index", s"${path}_bloomidx_$column")
            graft.ops.Layout.writeBloomIndex(spark, path, index, column,
              itemsPerFile = opts.get("items").map(_.toLong).getOrElse(1000000L),
              fpp = opts.get("fpp").map(_.toDouble).getOrElse(0.01))
            println(s"[maintain] bloom-index $path($column) -> $index")
            0
          case _ => 2
        }
      case "verify-index" =>
        (req("path"), req("column")) match {
          case (Some(path), Some(column)) =>
            val index = opts.getOrElse("index", s"${path}_bloomidx_$column")
            refusing {
              val meta = graft.ops.Layout.verifyBloomIndex(spark, path, index, column)
              println(s"[maintain] verify-index OK: $index over $path " +
                s"(column=${meta.column} items_per_file=${meta.itemsPerFile} " +
                s"fpp=${meta.fpp} table_fp=${meta.tableFp.take(12)}…)")
              0
            }
          case _ => 2
        }

      case "ann-build" =>
        (req("table"), req("index"), req("kind"), req("id"), req("vec"), req("dims")) match {
          case (Some(tbl), Some(idx), Some(kind), Some(id), Some(vec), Some(dimsS)) =>
            refusing {
              import graft.ops.AnnIndex
              val table = spark.read.parquet(tbl)
              val dims = dimsS.toInt
              def opt(k: String, d: Int) = opts.get(k).map(_.toInt).getOrElse(d)
              kind match {
                case "ivf" => AnnIndex.writeIvfIndex(spark, table, tbl, idx, id, vec,
                  dims, nlist = opt("nlist", 16))
                case "pq" => AnnIndex.writePqIndex(spark, table, tbl, idx, id, vec,
                  dims, nlist = opt("nlist", 16), m = opt("m", 16), ksub = opt("ksub", 32))
                case "binary" => AnnIndex.writeBinaryIndex(spark, table, tbl, idx,
                  id, vec, dims)
                case "lsh" => AnnIndex.writeLshIndex(spark, table, tbl, idx, id, vec,
                  dims, planes = opt("planes", 8), tables = opt("tables", 4))
                case other => throw new IllegalArgumentException(
                  s"ann kind '$other' — expected ivf | pq | binary | lsh")
              }
              val meta = AnnIndex.readMeta(spark, idx).get
              println(s"[maintain] ann-build OK: $idx kind=${meta.kind} over $tbl " +
                s"(dims=${meta.dims} version=${meta.version})")
              0
            }
          case _ => 2
        }
      case "ann-append" =>
        (req("table"), req("index"), req("delta")) match {
          case (Some(tbl), Some(idx), Some(delta)) =>
            refusing {
              import graft.ops.AnnIndex
              val kind = annKindOf(spark, idx, opts)
              val deltaDf = spark.read.parquet(delta)
              kind match {
                case "ivf" => AnnIndex.appendIvfIndex(spark, deltaDf, delta, idx, tbl)
                case "pq" => AnnIndex.appendPqIndex(spark, deltaDf, delta, idx, tbl)
                case "binary" => AnnIndex.appendBinaryIndex(spark, deltaDf, delta, idx, tbl)
                case "lsh" => AnnIndex.appendLshIndex(spark, deltaDf, delta, idx, tbl)
                case other => throw new IllegalArgumentException(
                  s"ann kind '$other' — expected ivf | pq | binary | lsh")
              }
              val meta = AnnIndex.readMeta(spark, idx).get
              println(s"[maintain] ann-append OK: $delta -> $idx " +
                s"(kind=$kind version=${meta.version} parts=${meta.parts.size})")
              0
            }
          case _ => 2
        }
      case "ann-compact" =>
        (req("table"), req("index")) match {
          case (Some(tbl), Some(idx)) =>
            refusing {
              import graft.ops.AnnIndex
              val kind = annKindOf(spark, idx, opts)
              kind match {
                case "ivf" => AnnIndex.compactIvfIndex(spark, idx, tbl)
                case "pq" => AnnIndex.compactPqIndex(spark, idx, tbl)
                case "binary" => AnnIndex.compactBinaryIndex(spark, idx, tbl)
                case "lsh" => AnnIndex.compactLshIndex(spark, idx, tbl)
                case other => throw new IllegalArgumentException(
                  s"ann kind '$other' — expected ivf | pq | binary | lsh")
              }
              val meta = AnnIndex.readMeta(spark, idx).get
              println(s"[maintain] ann-compact OK: $idx (kind=$kind " +
                s"version=${meta.version})")
              0
            }
          case _ => 2
        }
      case "ann-verify" =>
        (req("table"), req("index")) match {
          case (Some(tbl), Some(idx)) =>
            refusing {
              val kind = annKindOf(spark, idx, opts)
              val meta = graft.ops.AnnIndex.verify(spark, tbl, idx, kind)
              println(s"[maintain] ann-verify OK: $idx over $tbl " +
                s"(kind=${meta.kind} id=${meta.idCol} vec=${meta.vecCol} " +
                s"dims=${meta.dims} version=${meta.version} " +
                s"parts=${meta.parts.size} table_fp=${meta.tableFp.take(12)}…)")
              0
            }
          case _ => 2
        }

      case "lm-build" =>
        (req("train"), req("index"), req("id"), req("text")) match {
          case (Some(train), Some(idx), Some(id), Some(text)) =>
            refusing {
              graft.ops.LmIndex.writeMknIndex(spark, train, idx, id, text)
              println(s"[maintain] lm-build OK: $idx (mkn3, text=$text) over $train")
              0
            }
          case _ => 2
        }
      case "lm-append" =>
        (req("train"), req("index"), req("delta"), req("id"), req("text")) match {
          case (Some(train), Some(idx), Some(delta), Some(id), Some(text)) =>
            refusing {
              graft.ops.LmIndex.appendMknIndex(spark, delta, idx, train, id, text)
              val meta = graft.ops.LmIndex.readMeta(spark, idx).get
              println(s"[maintain] lm-append OK: $delta -> $idx " +
                s"(version=${meta.version} parts=${meta.parts.size})")
              0
            }
          case _ => 2
        }
      case "lm-verify" =>
        (req("train"), req("index")) match {
          case (Some(train), Some(idx)) =>
            refusing {
              // textCol defaults from the stamp (the stamp IS the
              // artifact's self-description); passing -text pins it
              val text = opts.get("text")
                .orElse(graft.ops.LmIndex.readMeta(spark, idx).map(_.textCol))
                .getOrElse(throw new IllegalStateException(
                  s"LM artifact at $idx has no readable stamp and no -text was " +
                    "given — rebuild with Maintain lm-build"))
              val meta = graft.ops.LmIndex.verify(spark, train, idx, "mkn3", text)
              println(s"[maintain] lm-verify OK: $idx over $train " +
                s"(kind=${meta.kind} text=${meta.textCol} version=${meta.version} " +
                s"parts=${meta.parts.size} table_fp=${meta.tableFp.take(12)}…)")
              0
            }
          case _ => 2
        }

      case "tok-build" =>
        (req("train"), req("index"), req("family"), req("text"), req("param")) match {
          case (Some(train), Some(idx), Some(fam), Some(text), Some(param)) =>
            refusing {
              graft.ops.TokenizerIndex.write(spark, train, idx, fam, text, param.toInt)
              val meta = graft.ops.TokenizerIndex.readMeta(spark, idx).get
              println(s"[maintain] tok-build OK: $idx (family=${meta.family} " +
                s"text=${meta.textCol} param=${meta.param} " +
                s"fit_fert_micro=${meta.fitFertMicro})")
              0
            }
          case _ => 2
        }
      case "tok-verify" =>
        (req("train"), req("index")) match {
          case (Some(train), Some(idx)) =>
            refusing {
              val stamp = graft.ops.TokenizerIndex.readMeta(spark, idx)
              val fam = opts.get("family").orElse(stamp.map(_.family))
                .getOrElse(throw new IllegalStateException(
                  s"tokenizer artifact at $idx has no readable stamp and no " +
                    "-family was given — rebuild with Maintain tok-build"))
              val text = opts.get("text").orElse(stamp.map(_.textCol))
                .getOrElse(throw new IllegalStateException(
                  s"tokenizer artifact at $idx has no readable stamp and no " +
                    "-text was given — rebuild with Maintain tok-build"))
              val meta = graft.ops.TokenizerIndex.verify(spark, train, idx, fam, text)
              println(s"[maintain] tok-verify OK: $idx over $train " +
                s"(family=${meta.family} text=${meta.textCol} param=${meta.param} " +
                s"fit_fert_micro=${meta.fitFertMicro} table_fp=${meta.tableFp.take(12)}…)")
              opts.get("probe").foreach { probePath =>
                val bandPct = opts.get("drift-band-pct").map(_.toInt).getOrElse(25)
                val (fit, probe) = graft.ops.TokenizerIndex.fertilityDrift(spark,
                  spark.read.parquet(probePath), fam, text, train, idx)
                if (fit < 0)
                  println(s"[maintain] tok-verify drift: fit-time fertility not " +
                    s"stamped (artifact predates the telemetry) — rebuild with " +
                    s"Maintain tok-build to enable drift checks; probe " +
                    s"fertility_micro=$probe")
                else if (probe < 0)
                  println(s"[maintain] tok-verify drift: probe corpus $probePath " +
                    s"has no words — nothing to compare")
                else {
                  val driftPct = math.abs(probe - fit) * 100.0 / fit
                  val line = f"[maintain] tok-verify drift: fit_fert_micro=$fit " +
                    f"probe_fert_micro=$probe drift=$driftPct%.1f%% band=$bandPct%%"
                  if (driftPct > bandPct) {
                    println(line)
                    System.err.println(f"[maintain] DRIFT WARNING: probe corpus " +
                      f"fertility $probe%d is $driftPct%.1f%% from the fit-time " +
                      f"$fit%d (band $bandPct%%) — the tokenizer verifies but is " +
                      "statistically stale on this corpus; consider retraining " +
                      "with Maintain tok-build on a current snapshot")
                  } else println(s"$line (within band)")
                }
              }
              0
            }
          case _ => 2
        }

      case other =>
        System.err.println(s"[maintain] unknown command '$other'\n$usage")
        2
    } finally graft.ops.CachedRelations.releaseAll()
  }

  /** The ANN kind for a lifecycle command: `-kind` wins; otherwise the
    * stamp's own kind (the stamp IS the artifact's self-description —
    * an operator should not have to repeat what the artifact knows).
    * A missing/unparseable stamp without -kind refuses with the build
    * hint. */
  private def annKindOf(spark: SparkSession, indexPath: String,
                        opts: Map[String, String]): String =
    opts.getOrElse("kind",
      graft.ops.AnnIndex.readMeta(spark, indexPath).map(_.kind)
        .getOrElse(throw new IllegalStateException(
          s"ANN index at $indexPath has no readable coherence stamp and no " +
            "-kind was given — build one first with Maintain ann-build")))
}
