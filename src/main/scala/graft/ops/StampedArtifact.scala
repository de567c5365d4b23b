package graft.ops

import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}
import org.apache.spark.sql.SparkSession

/**
 * The stamped-artifact protocol shared by every artifact a later run
 * reuses: the bloom side index ([[Layout]]), ANN indexes ([[AnnIndex]]),
 * the mkn3 LM ([[LmIndex]]) and tokenizers ([[TokenizerIndex]]). Reuse
 * is only safe behind a coherence check, so each artifact directory
 * carries a stamp file — the fit parameters plus the file-listing
 * fingerprint ([[Layout.tableFingerprint]]) of the table it was built
 * from, and of every delta appended since.
 *
 * One instance per artifact kind owns the stamp's file name and the
 * noun its refusals use. The protocol:
 *  - the stamp is dropped FIRST and written LAST, so a build, append
 *    or swap that dies midway leaves an artifact that fails
 *    verification instead of one an old stamp still certifies;
 *  - [[fitWindow]] lists the table before the work reads a byte and
 *    checks the listing again before the stamp lands, so a table that
 *    changes mid-build is never certified;
 *  - [[load]] and [[checkFresh]] refuse a missing, unparseable or
 *    STALE stamp before any plan reads the artifact; the kinds add
 *    their own checks (kind, column, family, fit revision) between
 *    the two;
 *  - [[StampedArtifact.swap]] replaces live directories by staged ones
 *    so that a failed rename restores what it moved, and
 *    [[swapStamped]] wraps it in the stamp rails.
 * The stamp bodies are [[StampJson]] objects whose field lists the
 * kinds keep.
 */
private[graft] final class StampedArtifact private (val name: String, what: String) {

  def read(fs: FileSystem, dir: Path): Option[String] = {
    val mp = new Path(dir, name)
    if (!fs.exists(mp)) return None
    val in = fs.open(mp)
    Some(try scala.io.Source.fromInputStream(in, "UTF-8").mkString finally in.close())
  }

  /** Raw stamp text; None if the stamp FILE is absent (distinct from
    * present-but-unparseable, which [[load]] reports separately). */
  def read(spark: SparkSession, dir: String): Option[String] = {
    val (fs, p) = StampedArtifact.fsFor(spark, dir)
    read(fs, p)
  }

  def write(spark: SparkSession, dir: String, json: String): Unit = {
    val (fs, p) = StampedArtifact.fsFor(spark, dir)
    val out = fs.create(new Path(p, name), true)
    try out.write(json.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    finally out.close()
  }

  /** Invalidate any existing stamp before the artifact's data changes. */
  def drop(spark: SparkSession, dir: String): Unit = {
    val (fs, p) = StampedArtifact.fsFor(spark, dir)
    val mp = new Path(p, name)
    if (fs.exists(mp) && !fs.delete(mp, false)) throw new java.io.IOException(
      s"could not remove the existing $what stamp $mp before rebuild")
  }

  /** The parsed stamp at `dir`; refuses when the stamp is missing or
    * does not parse. `builder` names the call that rebuilds it. */
  def load[M](spark: SparkSession, dir: String, table: String, builder: String)
             (parse: String => Option[M]): M = {
    val text = read(spark, dir).getOrElse(throw new IllegalStateException(
      s"$what at $dir has no $name coherence stamp — rebuild it with " +
        s"$builder($table, $dir, ...)"))
    parse(text).getOrElse(throw new IllegalStateException(
      s"$what at $dir has a $name stamp that does not parse (truncated write " +
        s"or a foreign writer) — rebuild it with $builder($table, $dir, ...)"))
  }

  /** An append extends an existing verified artifact; it never starts a
    * fresh one silently at an unstamped path. */
  def requireForAppend(spark: SparkSession, dir: String, table: String,
                       builder: String): Unit =
    if (read(spark, dir).isEmpty) throw new IllegalStateException(
      s"$what at $dir has no $name coherence stamp — an append needs an existing " +
        s"verified $what (no silent v0 restart); build one first with " +
        s"$builder($table, $dir, ...)")

  /** Refuses a STALE artifact: the base table, or any appended part,
    * lists differently from its stamped fingerprint. One metadata-scale
    * listing per table; no data read. */
  def checkFresh(spark: SparkSession, dir: String, table: String, tableFp: String,
                 parts: Seq[(String, String)], builder: String): Unit =
    ((table -> tableFp) +: parts).foreach { case (path, fp) =>
      val live = Layout.tableFingerprint(spark, path)
      if (live != fp) throw new IllegalStateException(
        s"$what at $dir is STALE: the data files of $path changed since they " +
          s"were stamped (listing fingerprint ${fp.take(12)}… stamped vs " +
          s"${live.take(12)}… now) — the artifact describes data that no longer " +
          s"exists; rebuild with $builder.")
    }

  /** Run `build` between two listings of `table` and return the first
    * one's fingerprint, to stamp, with `build`'s result; refuses when
    * the listings differ. `build` gets the first listing, for a caller
    * that sizes its work by it. */
  def fitWindow[A](spark: SparkSession, table: String, work: String)
                  (build: Seq[(String, FileStatus)] => A): (String, A) = {
    val walk = Layout.walkDataFiles(spark, table)
    val fpAtStart = Layout.fingerprintOf(walk)
    val built = build(walk)
    val fpAtEnd = Layout.tableFingerprint(spark, table)
    if (fpAtEnd != fpAtStart) throw new IllegalStateException(
      s"table $table changed WHILE the $what $work was running (listing " +
        s"fingerprint ${fpAtStart.take(12)}… at start vs ${fpAtEnd.take(12)}… " +
        s"now) — no new stamp was written; re-run the $work on a quiet table.")
    (fpAtStart, built)
  }

  /** [[StampedArtifact.swap]] inside the stamp rails: the stamp drops
    * before the first rename; when every moved directory was restored
    * the `previous` stamp is written back, so a plain retry heals. The
    * caller stamps the new state after a landed swap. */
  def swapStamped(spark: SparkSession, dir: String, dirs: Seq[StampedArtifact.Swap],
                  previous: String, retry: String, rebuild: String): Unit = {
    drop(spark, dir)
    try StampedArtifact.swap(StampedArtifact.fsFor(spark, dir)._1, dirs)
    catch {
      case e: StampedArtifact.SwapFailed if e.restored =>
        write(spark, dir, previous)
        throw new java.io.IOException(
          s"${e.getMessage}; the $what was re-stamped — re-run $retry", e)
      case e: StampedArtifact.SwapFailed => throw new java.io.IOException(
        s"${e.getMessage}; the $what is UNSTAMPED — restore one consistent set " +
          s"by hand, or rebuild with $rebuild", e)
    }
  }
}

private[graft] object StampedArtifact {

  val bloom = new StampedArtifact("_graft_index_meta.json", "bloom index")
  val ann = new StampedArtifact("_graft_ann_meta.json", "ANN index")
  val lm = new StampedArtifact("_graft_lm_meta.json", "LM artifact")
  val tokenizer = new StampedArtifact("_graft_tok_meta.json", "tokenizer artifact")

  def fsFor(spark: SparkSession, path: String): (FileSystem, Path) = {
    val p = new Path(path)
    (p.getFileSystem(spark.sparkContext.hadoopConfiguration), p)
  }

  /** One directory a [[swap]] replaces: `staged` holds the new data,
    * `live` is where it lands, `backup` holds the old `live` until
    * every directory of the swap has landed. */
  case class Swap(staged: Path, live: Path, backup: Path)

  /** A [[swap]] rename failed; `restored` says whether every directory
    * was put back as it was (the staged data back in `staged`). */
  final class SwapFailed(msg: String, val restored: Boolean)
    extends java.io.IOException(msg)

  /**
   * Replace each `live` directory by its `staged` twin: move the live
   * one aside to `backup` (when there is one), rename the staged one in.
   * If any rename fails, every directory already handled goes back —
   * landed data to `staged`, backups to `live` — and [[SwapFailed]]
   * names where the data is. Backups are deleted only after ALL renames
   * landed; a backup that cannot be deleted then is logged, not thrown,
   * since the swap is already complete.
   */
  def swap(fs: FileSystem, dirs: Seq[Swap]): Unit = {
    // a leftover backup would swallow the move-aside (a rename onto an
    // existing directory moves INTO it)
    dirs.foreach(d => fs.delete(d.backup, true))
    val moved = scala.collection.mutable.Set.empty[Swap]
    val landed = scala.collection.mutable.Set.empty[Swap]
    def fail(src: Path, dst: Path): Nothing = {
      // every directory is tried, even after one fails to go back
      val restored = dirs.reverse.map { d =>
        (!landed(d) || fs.rename(d.live, d.staged)) && (!moved(d) || fs.rename(d.backup, d.live))
      }.forall(identity)
      val staged = dirs.map(_.staged).filter(fs.exists)
      throw new SwapFailed(
        s"rename $src -> $dst failed; the staged data is preserved at " +
          staged.mkString(", ") + (if (restored) " and every moved directory was restored"
          else " but the restore failed too: the originals are at " +
            dirs.map(_.backup).filter(fs.exists).mkString(", ")),
        restored)
    }
    dirs.foreach { d =>
      if (fs.exists(d.live)) {
        if (!fs.rename(d.live, d.backup)) fail(d.live, d.backup)
        moved += d
      }
      if (!fs.rename(d.staged, d.live)) fail(d.staged, d.live)
      landed += d
    }
    moved.foreach { d =>
      if (!fs.delete(d.backup, true))
        org.slf4j.LoggerFactory.getLogger(getClass).warn(
          s"swap landed but the previous copy at ${d.backup} could not be " +
            "deleted — remove it by hand; the live data is complete")
    }
  }
}
