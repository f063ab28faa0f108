package perfbench

import java.io.{FileNotFoundException, FilterOutputStream, OutputStream}
import java.util.EnumSet
import java.util.concurrent.CompletableFuture
import java.util.concurrent.atomic.{AtomicLong, AtomicLongArray}

import org.apache.hadoop.fs._
import org.apache.hadoop.fs.impl.OpenFileParameters
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.util.Progressable

/** Process-wide FileSystem counters. Tasks run in the driver JVM under
  * `local[n]`, so executor-side calls land here too; the benchmark brackets
  * them per op by snapshotting before and after.
  */
object FsStats {
  val Ops: Array[String] =
    Array("getFileStatus", "listStatus", "open", "create", "rename", "delete", "mkdirs")
  val GetFileStatus = 0; val ListStatus = 1; val Open = 2; val Create = 3
  val Rename = 4; val Delete = 5; val Mkdirs = 6

  val calls = new AtomicLongArray(Ops.length)
  val nanos = new AtomicLongArray(Ops.length)
  val readBytes = new AtomicLong
  val dataReadBytes = new AtomicLong
  val writeBytes = new AtomicLong
  val notFound = new AtomicLong
  val dataFilesCreated = new AtomicLong

  /** Off: the wrapper only forwards (the untraced half of a traced run). */
  @volatile var enabled = false

  /** Counter names in [[snapshot]] order. */
  val Names: Seq[String] =
    Ops.toSeq.flatMap(o => Seq(s"$o.calls", s"$o.ns")) ++
      Seq("read_bytes", "data_read_bytes", "write_bytes", "not_found", "data_files_created")

  def snapshot(): Array[Long] = {
    val out = new Array[Long](Ops.length * 2 + 5)
    Ops.indices.foreach { i => out(2 * i) = calls.get(i); out(2 * i + 1) = nanos.get(i) }
    val b = Ops.length * 2
    out(b) = readBytes.get; out(b + 1) = dataReadBytes.get; out(b + 2) = writeBytes.get
    out(b + 3) = notFound.get; out(b + 4) = dataFilesCreated.get
    out
  }

  def isDataFile(p: Path): Boolean = {
    val n = p.getName
    n.endsWith(".parquet") && !n.startsWith(".")
  }
}

/** `fs.file.impl` for traced runs: the local checksummed FileSystem behind a
  * counter for each call the reference RGW connector implements.
  */
class CountingFileSystem extends FilterFileSystem(new LocalFileSystem()) {
  import FsStats._

  private def timed[T](op: Int)(body: => T): T = {
    if (!enabled) return body
    val t0 = System.nanoTime()
    try body
    catch {
      case e: FileNotFoundException => notFound.incrementAndGet(); throw e
    } finally {
      val t1 = System.nanoTime()
      calls.incrementAndGet(op)
      nanos.addAndGet(op, t1 - t0)
      Spans.fs(Ops(op), t0, t1)
    }
  }

  private def countedIn(in: FSDataInputStream, p: Path): FSDataInputStream =
    if (!enabled) in else new FSDataInputStream(new CountingInputStream(in, isDataFile(p)))

  private def countedOut(out: FSDataOutputStream, p: Path): FSDataOutputStream =
    if (!enabled) out
    else {
      if (isDataFile(p)) dataFilesCreated.incrementAndGet()
      new FSDataOutputStream(new CountingOutputStream(out), null)
    }

  override def getFileStatus(f: Path): FileStatus = timed(GetFileStatus)(super.getFileStatus(f))

  override def listStatus(f: Path): Array[FileStatus] = timed(ListStatus)(super.listStatus(f))

  override def listLocatedStatus(f: Path): RemoteIterator[LocatedFileStatus] =
    timed(ListStatus)(super.listLocatedStatus(f))

  override def listStatusIterator(f: Path): RemoteIterator[FileStatus] =
    timed(ListStatus)(super.listStatusIterator(f))

  override def open(f: Path, bufferSize: Int): FSDataInputStream =
    countedIn(timed(Open)(super.open(f, bufferSize)), f)

  // FilterFileSystem passes openFile straight to the wrapped filesystem, which
  // would skip the counter (Spark's Parquet reader opens files this way); the
  // result is typed as the public interface, its concrete class is not accessible
  override def openFile(f: Path): FutureDataInputStreamBuilder = {
    val opener: FutureDataInputStreamBuilder = FileSystem.createDataInputStreamBuilder(this, f)
    opener
  }

  override protected def openFileWithOptions(f: Path,
      parameters: OpenFileParameters): CompletableFuture[FSDataInputStream] = {
    val in = timed(Open)(super.openFileWithOptions(f, parameters).get())
    CompletableFuture.completedFuture(countedIn(in, f))
  }

  override def create(f: Path, permission: FsPermission, overwrite: Boolean,
      bufferSize: Int, replication: Short, blockSize: Long,
      progress: Progressable): FSDataOutputStream =
    countedOut(timed(Create)(super.create(f, permission, overwrite, bufferSize,
      replication, blockSize, progress)), f)

  override def create(f: Path, permission: FsPermission, flags: EnumSet[CreateFlag],
      bufferSize: Int, replication: Short, blockSize: Long, progress: Progressable,
      checksumOpt: Options.ChecksumOpt): FSDataOutputStream =
    countedOut(timed(Create)(super.create(f, permission, flags, bufferSize,
      replication, blockSize, progress, checksumOpt)), f)

  override def createNonRecursive(f: Path, permission: FsPermission,
      flags: EnumSet[CreateFlag], bufferSize: Int, replication: Short, blockSize: Long,
      progress: Progressable): FSDataOutputStream =
    countedOut(timed(Create)(super.createNonRecursive(f, permission, flags,
      bufferSize, replication, blockSize, progress)), f)

  override def rename(src: Path, dst: Path): Boolean = timed(Rename)(super.rename(src, dst))

  override def delete(f: Path, recursive: Boolean): Boolean =
    timed(Delete)(super.delete(f, recursive))

  override def mkdirs(f: Path, permission: FsPermission): Boolean =
    timed(Mkdirs)(super.mkdirs(f, permission))
}

private final class CountingInputStream(in: FSDataInputStream, data: Boolean)
    extends FSInputStream {
  private def add(n: Int): Unit = if (n > 0) {
    FsStats.readBytes.addAndGet(n)
    if (data) FsStats.dataReadBytes.addAndGet(n)
  }
  override def read(): Int = { val b = in.read(); if (b >= 0) add(1); b }
  override def read(b: Array[Byte], off: Int, len: Int): Int = {
    val n = in.read(b, off, len); add(n); n
  }
  override def read(pos: Long, b: Array[Byte], off: Int, len: Int): Int = {
    val n = in.read(pos, b, off, len); add(n); n
  }
  override def readFully(pos: Long, b: Array[Byte], off: Int, len: Int): Unit = {
    in.readFully(pos, b, off, len); add(len)
  }
  override def seek(pos: Long): Unit = in.seek(pos)
  override def getPos: Long = in.getPos
  override def seekToNewSource(targetPos: Long): Boolean = in.seekToNewSource(targetPos)
  override def available(): Int = in.available()
  override def close(): Unit = in.close()
}

private final class CountingOutputStream(out: OutputStream) extends FilterOutputStream(out) {
  override def write(b: Int): Unit = { out.write(b); FsStats.writeBytes.incrementAndGet() }
  override def write(b: Array[Byte], off: Int, len: Int): Unit = {
    out.write(b, off, len); FsStats.writeBytes.addAndGet(len)
  }
}
