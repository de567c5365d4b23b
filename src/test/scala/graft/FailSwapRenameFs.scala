package graft

/** Local filesystem whose ONLY failures are the final staged→live
  * renames of the swaps the restore specs break, so every other rename
  * (the write committers' own, the move-aside and the restore renames)
  * passes through — it isolates the one filesystem op each spec needs
  * to fail:
  *  - the avro sink's final swap onto a destination named
  *    `swapfail.avro`;
  *  - the LM append's rename of `big_appending` onto `big` (the second
  *    of its four tables, so the first must be put back too);
  *  - the ANN compaction's rename of `codes_compacting` onto `codes`.
  * Registered per test via `fs.failswap.impl`; instantiated
  * reflectively by Hadoop. */
class FailSwapRenameFs extends org.apache.hadoop.fs.RawLocalFileSystem {
  override def getScheme: String = "failswap"
  override def getUri: java.net.URI = java.net.URI.create("failswap:///")
  override def rename(src: org.apache.hadoop.fs.Path,
                      dst: org.apache.hadoop.fs.Path): Boolean = {
    val (s, d) = (src.toString, dst.toString)
    if ((s.contains(".spark-staging-") && d.endsWith("swapfail.avro")) ||
        (s.endsWith("/big_appending") && d.endsWith("/big")) ||
        (s.endsWith("/codes_compacting") && d.endsWith("/codes"))) false
    else super.rename(src, dst)
  }
}
