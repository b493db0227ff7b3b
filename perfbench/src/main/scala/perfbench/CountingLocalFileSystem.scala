package perfbench

import java.util.concurrent.atomic.AtomicLong

import org.apache.hadoop.fs.{FileStatus, FSDataInputStream, LocalFileSystem,
  LocatedFileStatus, Path, RemoteIterator}

/** The `file` scheme with a count of its read operations: opens, listings
  * and status lookups (manifest, footer and data reads all pass through
  * here). Hadoop's own statistics leave `readOps` at zero for local files,
  * so traced runs install this in their place (`fs.file.impl`). */
class CountingLocalFileSystem extends LocalFileSystem {
  import CountingLocalFileSystem.readOps

  override def open(f: Path, bufferSize: Int): FSDataInputStream = {
    readOps.incrementAndGet()
    super.open(f, bufferSize)
  }

  override def listStatus(f: Path): Array[FileStatus] = {
    readOps.incrementAndGet()
    super.listStatus(f)
  }

  override def listStatusIterator(f: Path): RemoteIterator[FileStatus] = {
    readOps.incrementAndGet()
    super.listStatusIterator(f)
  }

  override def listLocatedStatus(
      f: Path): RemoteIterator[LocatedFileStatus] = {
    readOps.incrementAndGet()
    super.listLocatedStatus(f)
  }

  override def getFileStatus(f: Path): FileStatus = {
    readOps.incrementAndGet()
    super.getFileStatus(f)
  }
}

object CountingLocalFileSystem {
  val readOps = new AtomicLong()
}
