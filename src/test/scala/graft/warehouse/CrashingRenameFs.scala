package graft.warehouse

import java.io.IOException
import java.net.URI
import java.util.concurrent.atomic.AtomicInteger

import org.apache.hadoop.fs.{Path, RawLocalFileSystem}

/** The local file system under the scheme `crashfs`, whose Nth rename
  * from the moment it is armed throws, as a process killed at that
  * rename would stop there. Renames inside a write's `_temporary`
  * directory (the output committer's) are not counted, so N counts the
  * steps of a table swap. Register it with `fs.crashfs.impl`; arm it
  * with [[CrashingRenameFs.failAt]]. */
class CrashingRenameFs extends RawLocalFileSystem {
  override def getUri: URI = CrashingRenameFs.uri

  override def rename(src: Path, dst: Path): Boolean = {
    if (!src.toString.contains("/_temporary") && CrashingRenameFs.countdown.decrementAndGet() == 0)
      throw new IOException(s"killed before renaming $src to $dst")
    super.rename(src, dst)
  }
}

object CrashingRenameFs {
  val uri: URI = URI.create("crashfs:///")
  private val countdown = new AtomicInteger(0)

  /** Throw on the `n`th counted rename from now on; 0 disarms. */
  def failAt(n: Int): Unit = countdown.set(n)
}
