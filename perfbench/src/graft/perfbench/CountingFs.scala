package graft.perfbench

import java.util.concurrent.atomic.AtomicLong

import org.apache.hadoop.fs.{FSDataInputStream, FSInputStream, Path}

/** `graft://` as the program implements it, counting opens and bytes at the
  * stream boundary. Installed as `fs.graft.impl` in traced runs only: the
  * program's own streams carry no Hadoop `FileSystem.Statistics`.
  */
class CountingGraftFileSystem extends graft.sources.GraftFileSystem {
  override def open(f: Path, bufferSize: Int): FSDataInputStream = {
    CountingGraftFileSystem.opens.incrementAndGet()
    new FSDataInputStream(new CountingStream(super.open(f, bufferSize)))
  }
}

object CountingGraftFileSystem {
  val opens, bytes = new AtomicLong
}

class CountingStream(in: FSDataInputStream) extends FSInputStream {
  override def seek(pos: Long): Unit = in.seek(pos)
  override def getPos: Long = in.getPos
  override def seekToNewSource(targetPos: Long): Boolean = in.seekToNewSource(targetPos)
  override def read(): Int = {
    val b = in.read()
    if (b >= 0) CountingGraftFileSystem.bytes.incrementAndGet()
    b
  }
  override def read(buf: Array[Byte], off: Int, len: Int): Int = {
    val n = in.read(buf, off, len)
    if (n > 0) CountingGraftFileSystem.bytes.addAndGet(n)
    n
  }
  override def close(): Unit = in.close()
}
