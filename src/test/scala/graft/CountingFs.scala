package graft

import org.apache.hadoop.fs.{FSDataInputStream, FileStatus, FileSystem, FilterFileSystem,
  LocalFileSystem, Path}
import org.apache.spark.sql.SparkSession

/** Test-only FileSystem that counts `open` and `getFileStatus` calls by
  * file name. Wrap a FileSystem directly (`new CountingFs(fs)`), or let
  * Hadoop build one as the `file` scheme while [[CountingFs.capture]] runs
  * — e.g. around a catalog's first use, so that catalog's handle counts.
  * `before` runs ahead of every `open`, `getFileStatus` and `listStatus`,
  * so a spec can land a concurrent change at an exact point of a read.
  */
class CountingFs(inner: FileSystem) extends FilterFileSystem(inner) {
  def this() = { this(new LocalFileSystem()); CountingFs.built = this }

  val opens = scala.collection.mutable.Map.empty[String, Int].withDefaultValue(0)
  val stats = scala.collection.mutable.Map.empty[String, Int].withDefaultValue(0)
  @volatile var before: Path => Unit = _ => ()

  def reset(): Unit = synchronized { opens.clear(); stats.clear() }

  override def open(f: Path, bufferSize: Int): FSDataInputStream = {
    before(f)
    synchronized(opens(f.getName) += 1)
    CountingFs.allOpens.merge(f.getName, 1, (a: Integer, b: Integer) => Integer.valueOf(a + b))
    super.open(f, bufferSize)
  }
  // Parquet's readers open data files through the `openFile` builder
  override def openFile(f: Path): org.apache.hadoop.fs.FutureDataInputStreamBuilder = {
    CountingFs.allOpens.merge(f.getName, 1, (a: Integer, b: Integer) => Integer.valueOf(a + b))
    super.openFile(f)
  }
  override def getFileStatus(f: Path): FileStatus = {
    before(f)
    synchronized(stats(f.getName) += 1)
    super.getFileStatus(f)
  }
  override def listStatus(f: Path): Array[FileStatus] = {
    before(f)
    super.listStatus(f)
  }
}

object CountingFs {
  @volatile private var built: CountingFs = _

  /** `open` and `openFile` calls by file name over every instance built
    * since the last [[capture]] began — executor-side reads build their own
    * instances.
    */
  val allOpens = new java.util.concurrent.ConcurrentHashMap[String, Integer]()

  /** Runs `body` with every `file:` FileSystem the session builds being a
    * fresh, uncached [[CountingFs]]; returns the last one built.
    */
  def capture(spark: SparkSession)(body: => Unit): CountingFs = {
    built = null
    allOpens.clear()
    spark.conf.set("fs.file.impl", classOf[CountingFs].getName)
    spark.conf.set("fs.file.impl.disable.cache", "true")
    try body
    finally {
      spark.conf.unset("fs.file.impl")
      spark.conf.unset("fs.file.impl.disable.cache")
    }
    assert(built != null, "no file: FileSystem was built inside capture")
    built
  }
}
