package graft

import java.nio.file.{Files, Path}
import org.scalatest.{BeforeAndAfterAll, Suite}

/** Temp dirs under `java.io.tmpdir` that live as long as one suite:
  * each is deleted with its contents after the suite's last test. */
trait TempDirs extends BeforeAndAfterAll { this: Suite =>
  private val made = new java.util.concurrent.ConcurrentLinkedQueue[Path]()

  /** A fresh dir `<prefix>…`, deleted after the suite. */
  def tempDir(prefix: String): Path = {
    val d = Files.createTempDirectory(prefix)
    made.add(d)
    d
  }

  private def delete(f: java.io.File): Unit = {
    Option(f.listFiles()).foreach(_.foreach(delete))
    Files.deleteIfExists(f.toPath); ()
  }

  override def afterAll(): Unit =
    try made.forEach(d => delete(d.toFile))
    finally super.afterAll()
}
